package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** graft.Memo: LRU bound, one build per key, builds that never block
  * other keys, failed builds stored nowhere, and session-bound values
  * released on eviction and never served from a stopped context.
  */
class MemoSpec extends AnyFunSuite {

  private def withPool[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool))
    finally pool.shutdownNow()
  }

  test("removeIf drops exactly the matching entries") {
    val memo = Memo[Int, Int](bound = 8)
    val builds = new AtomicInteger()
    def get(k: Int) = memo(k) { builds.incrementAndGet(); k }
    (1 to 6).foreach(get)
    memo.removeIf(_ % 2 == 0)
    assert(memo.size == 3)
    Seq(1, 3, 5).foreach(get)
    assert(builds.get == 6, "odd keys must still be held")
    get(2)
    assert(builds.get == 7, "even keys must have been dropped")
  }

  test("least recently used goes first and the bound holds") {
    val memo = Memo[Int, Int](bound = 3)
    val builds = new AtomicInteger()
    def get(k: Int) = memo(k) { builds.incrementAndGet(); k * 10 }
    Seq(1, 2, 3).foreach(get)
    assert(get(1) == 10) // hit: 1 is now the most recent
    get(4)               // evicts 2, the least recently used
    assert(memo.size == 3)
    assert(builds.get == 4)
    Seq(1, 3, 4).foreach(get)
    assert(builds.get == 4, "1, 3 and 4 must still be held")
    get(2)
    assert(builds.get == 5, "2 must have been evicted")
    (10 to 30).foreach(get)
    assert(memo.size == 3)
  }

  test("N threads asking for one key run exactly one build") {
    val memo = Memo[String, AnyRef](bound = 4)
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val n = 8
    val got = withPool(n) { implicit ec =>
      val fs = (1 to n).map(_ => Future {
        start.await()
        memo("k") { builds.incrementAndGet(); Thread.sleep(200); new Object }
      })
      start.countDown()
      Await.result(Future.sequence(fs), 30.seconds)
    }
    assert(builds.get == 1)
    assert(got.forall(_ eq got.head), "every caller must get the one built value")
  }

  test("a slow build on key A does not block a call for key B") {
    val memo = Memo[String, String](bound = 4)
    val aStarted = new CountDownLatch(1)
    val releaseA = new CountDownLatch(1)
    withPool(1) { implicit ec =>
      val a = Future(memo("A") {
        aStarted.countDown()
        assert(releaseA.await(30, TimeUnit.SECONDS))
        "a"
      })
      assert(aStarted.await(30, TimeUnit.SECONDS))
      // B completes while A's build is still parked on its latch
      assert(memo("B")("b") == "b")
      assert(!a.isCompleted)
      releaseA.countDown()
      assert(Await.result(a, 30.seconds) == "a")
    }
    assert(memo("A")(fail("A must be memoized")) == "a")
  }

  test("a build that throws stores nothing and is retried on the next call") {
    val memo = Memo[String, Int](bound = 4)
    val e = intercept[IllegalStateException](memo("k")(throw new IllegalStateException("boom")))
    assert(e.getMessage == "boom")
    assert(memo.size == 0)
    assert(memo("k")(7) == 7)
    assert(memo("k")(8) == 7)
  }

  test("an evicted or cleared DataFrame's checkpoint RDD leaves getPersistentRDDs") {
    val spark = TestSpark.spark
    def checkpointIds(df: DataFrame): Seq[Int] =
      df.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val memo = Memo.sessionBound[Int, DataFrame](bound = 1)(identity)
    val first = memo(1)(spark.range(100).toDF().localCheckpoint())
    val ids = checkpointIds(first)
    assert(ids.nonEmpty && ids.forall(persisted.contains))
    memo(2)(spark.range(50).toDF().localCheckpoint()) // evicts 1
    assert(memo.size == 1)
    assert(!ids.exists(persisted.contains), "the evicted checkpoint must be unpersisted")
    val second = checkpointIds(memo(2)(fail("2 must be memoized")))
    assert(second.forall(persisted.contains))
    memo.clear()
    assert(!second.exists(persisted.contains), "a cleared checkpoint must be unpersisted")
  }

  test("an entry from a stopped context is not served") {
    // one JVM holds one SparkContext, so the stop/restart runs in a child
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val jvmArgs = rt.getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx512m") ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), "graft.MemoStoppedContextMain")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor(120, TimeUnit.SECONDS))
    assert(out.linesIterator.contains("memo: fresh value from the new context"), out.takeRight(4000))
  }
}

/** Child-JVM half of MemoSpec's stopped-context test: memoize a
  * checkpointed frame, stop its context, start a new one, and ask again
  * under the same key.
  */
object MemoStoppedContextMain {
  def main(args: Array[String]): Unit = {
    val memo = Memo.sessionBound[String, DataFrame](bound = 4)(identity)
    val s1 = GraftSession.harness(1).getOrCreate()
    s1.sparkContext.setLogLevel("ERROR")
    val stale = memo("k")(s1.range(3).toDF().localCheckpoint())
    s1.stop()
    val s2 = GraftSession.harness(1).getOrCreate()
    s2.sparkContext.setLogLevel("ERROR")
    try {
      val served = memo("k")(s2.range(3).toDF().localCheckpoint())
      val fresh = (served ne stale) && (served.sparkSession eq s2) &&
        served.count() == 3 && memo.size == 1
      println(if (fresh) "memo: fresh value from the new context" else "memo: stale value served")
    } finally s2.stop()
  }
}
