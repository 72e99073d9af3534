package graft

import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Warm queries reuse their compiled codegen classes. Spark's codegen
  * cache is static for the whole JVM, so the counts come from a child
  * JVM that starts with an empty cache ([[CodegenCacheMain]]) and
  * builds its session from the harness conf list.
  */
class CodegenCacheSpec extends AnyFunSuite {

  private lazy val counts: Map[String, Long] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val jvmArgs = rt.getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), "graft.CodegenCacheMain", TestSpark.sf0001)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor(300, TimeUnit.SECONDS), out.takeRight(4000))
    val line = """codegen: (\S+) (\d+)""".r
    val m = out.linesIterator.collect { case line(k, n) => k -> n.toLong }.toMap
    assert(m.size == 3, out.takeRight(4000))
    m
  }

  test("a second stream_stateful_count call compiles no class") {
    assert(counts("stream_repeat") == 0, counts)
  }

  test("a warm multi_action cycle compiles no class") {
    // the cycle must outgrow Spark's default cache of 100 to mean anything
    assert(counts("first_pass") > 100, counts)
    assert(counts("cycle_repeat") == 0, counts)
  }
}

/** Child-JVM half of CodegenCacheSpec. Runs stream_stateful_count twice,
  * then two passes of the three perfbench `multi_action` queries on the
  * fixture in `args(0)`, and prints each count of codegen compiles as
  * `codegen: <name> <n>`.
  */
object CodegenCacheMain {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val spark = GraftSession.harness(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(name: String): Long = {
      val before = compiles
      SparkEntry.queries(name)(spark, d).collect()
      compiles - before
    }
    val stream = "stream_stateful_count"
    val cycle = Seq("graph_katz", "catalog_table_stats", stream)
    try {
      val streamFirst = run(stream)
      println(s"codegen: stream_repeat ${run(stream)}")
      val firstPass = streamFirst + cycle.map(run).sum
      println(s"codegen: first_pass $firstPass")
      println(s"codegen: cycle_repeat ${cycle.map(run).sum}")
    } finally spark.stop()
  }
}
