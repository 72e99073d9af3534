package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** `GraftSession.install` is idempotent: a second call adds no strategy
  * or rule, leaves the function registry as it was, and logs no
  * "replaced a previously registered function" warning.
  */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private class Capture extends AbstractAppender(
      "graft-capture", null, null, true, Property.EMPTY_ARRAY) {
    val lines = new ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
  }

  /** Runs `f` with the function registry's log routed only to a
    * capture (non-additive, so a warning never reaches the test log).
    */
  private def captured(f: => Unit): Seq[String] = {
    val log = LogManager.getLogger(classOf[SimpleFunctionRegistry]).asInstanceOf[CoreLogger]
    val cap = new Capture
    cap.start()
    log.addAppender(cap)
    log.setAdditive(false)
    try { f; cap.lines.asScala.toSeq }
    finally { log.setAdditive(true); log.removeAppender(cap); cap.stop() }
  }

  private def replaced(lines: Seq[String]) =
    lines.filter(_.contains("replaced a previously registered function"))

  test("install twice: no list growth, same registry entries, no replace warning") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    def entries = GraftSession.nativeFunctions.map { case (id, _, _) =>
      (registry.lookupFunction(id), registry.lookupFunctionBuilder(id)) }
    val first = captured(GraftSession.install(s))
    val strategies = s.experimental.extraStrategies
    val optimizations = s.experimental.extraOptimizations
    val before = entries
    assert(strategies.count(_ == plans.AsOfJoinStrategy) == 1)
    assert(optimizations.count(_.isInstanceOf[plans.ResolveCosineTopK]) == 1)
    assert(before.forall { case (info, build) => info.isDefined && build.isDefined })
    val second = captured(GraftSession.install(s))
    assert(s.experimental.extraStrategies == strategies)
    assert(s.experimental.extraOptimizations == optimizations)
    assert(entries.zip(before).forall { case ((i1, b1), (i0, b0)) =>
      i1 == i0 && b1.get.eq(b0.get) })
    assert(replaced(first ++ second).isEmpty, first ++ second)
  }

  test("the capture sees the warning a real re-registration logs") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val (id, info, build) = GraftSession.nativeFunctions.head
    val lines = captured {
      registry.registerFunction(id, info, build)
      registry.registerFunction(id, info, e => build(e))
    }
    assert(replaced(lines).nonEmpty, lines)
  }
}
