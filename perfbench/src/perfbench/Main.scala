package perfbench

import java.lang.management.ManagementFactory

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's JVM. run.py launches it with the run's own
  * `java.io.tmpdir`, warehouse, Derby home and Spark local dir, and
  * reads the JSON-lines record it writes.
  *
  * Modes (`--mode`):
  *  - `run`: one benchmark run of `--workload` (see README.md).
  *  - `census`: every declared query, once cold and once warm, traced;
  *    used to pick the fixture workload and record golden results.
  *  - `selftest`: the attribution checks behind test_bench.py.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val rec = new Record(opt("record"))
    val spark = graft.GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    spark.sparkContext.setLogLevel("ERROR")
    rec.emit("ev" -> "setup", "setup_s" -> setupS)
    val ok = try {
      opt("mode") match {
        case "run" => run(spark, rec, opt)
        case "census" => census(spark, rec, opt)
        case "selftest" => selftest(spark, rec, opt)
      }
      true
    } catch { case e: Throwable => e.printStackTrace(); false }
    finally {
      rec.emit("ev" -> "end")
      rec.close()
    }
    // everything the session wrote lives in the run directory, which
    // run.py deletes, so skip Spark's orderly shutdown
    Runtime.getRuntime.halt(if (ok) 0 else 1)
  }

  private def fixtureOps(spark: SparkSession, opt: Map[String, String]): Seq[Op] = {
    val queries = graft.SparkEntry.queries
    scala.io.Source.fromFile(opt("ops")).getLines().map(_.trim).filter(_.nonEmpty)
      .map(n => Op.query(spark, n, queries(n), opt("fixture"))).toSeq
  }

  private def run(spark: SparkSession, rec: Record, opt: Map[String, String]): Unit = {
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val runner = new Runner(spark, rec, opt("timeout").toInt)
    val pipeline = opt.get("corpus").map(new LlmPipeline(spark, _))
    val ops = pipeline.map(_.ops).getOrElse(fixtureOps(spark, opt))
    // the cold pass runs in declared order, so the op that absorbs
    // Spark's first-job warm-up is the same in every run; the fixture
    // workload's seed sets the op order of every warm pass, and the
    // pipeline keeps its data-flow order and takes its seed in the corpus
    def order(pass: Int): Seq[Op] =
      if (pipeline.isDefined || pass == 0) ops else new Random(seed * 1000003L + pass).shuffle(ops)
    canary(spark, rec, "before", job = false)
    runner.pass(order(0), 0, "cold")
    // the cold pass leaves the JIT compiling in the background; let it
    // finish so the first warm pass does not share the cores with it
    rec.emit("ev" -> "quiesce", "seconds" -> quiesce())
    // warm passes until the measuring window is spent, each from a
    // collected heap. The first warm pass still finishes JIT and memo
    // warm-up, and pass_s is the fastest warm pass, so there are at least
    // two. A traced run adds two and interleaves untraced, traced,
    // untraced, ... passes so the tracing overhead is read against
    // untraced passes on both sides
    val minPasses = if (trace) 4 else 2
    val t0 = System.nanoTime
    var pass = 1
    while ((System.nanoTime - t0) / 1e9 < seconds || pass <= minPasses) {
      runner.setTraced(trace && pass % 2 == 0)
      System.gc()
      runner.pass(order(pass), pass, "warm")
      pass += 1
    }
    // memory of the workload's passes, before the checks and the canary
    // below add their own: the peak resident set, and the heap still in
    // use after a full collection (memos, cached blocks, state stores).
    // Spark's ContextCleaner frees the blocks of broadcasts and shuffles
    // that the first collection found unreachable on its own thread, so
    // the heap is read after it has had time to run and a second
    // collection (read after the first alone, it varied by 30 MB)
    val peakRss = peakRssMb()
    System.gc()
    Thread.sleep(500)
    System.gc()
    val rt = Runtime.getRuntime
    rec.emit("ev" -> "memory", "peak_rss_mb" -> peakRss,
      "live_heap_mb" -> (rt.totalMemory - rt.freeMemory) / 1048576.0)
    runner.close()
    pipeline.foreach { p =>
      val t1 = System.nanoTime
      val facts = p.check()
      rec.emit("ev" -> "check", "facts" -> facts, "seconds" -> (System.nanoTime - t1) / 1e9)
    }
    canary(spark, rec, "after", job = true)
  }

  /** Waits (up to 10 s) until the JIT compilers have been idle for a
    * quarter second; returns the seconds waited.
    */
  private def quiesce(): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime
    var last = jit.getTotalCompilationTime
    var idle = false
    while (!idle && System.nanoTime - t0 < 10e9) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      idle = now - last < 20
      last = now
    }
    (System.nanoTime - t0) / 1e9
  }

  /** The fixed calibration workload of graft.Bench: a pinned
    * single-thread xorshift loop, then a constant 32-task Spark job with
    * one 64-group shuffle (over 4M rows instead of Bench's 16M). The job
    * is left out before the cold pass: as a fresh JVM's first Spark job
    * it would time Spark's own warm-up, not the box, and would warm up
    * the cold pass. Recorded beside the metrics, never in them.
    */
  private def canary(spark: SparkSession, rec: Record, at: String, job: Boolean): Unit = {
    val t0 = System.nanoTime
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 150000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val t1 = System.nanoTime
    if (job)
      spark.range(0L, 4000000L, 1L, 32).selectExpr("id % 64 AS k", "id AS v")
        .groupBy("k").agg(sum("v")).count()
    val t2 = System.nanoTime
    rec.emit("ev" -> "canary", "at" -> at, "xorshift_s" -> (t1 - t0) / 1e9,
      "job_s" -> (if (job) (t2 - t1) / 1e9 else null), "sink" -> (x == 42L))
  }

  private def census(spark: SparkSession, rec: Record, opt: Map[String, String]): Unit = {
    val runner = new Runner(spark, rec, opt("timeout").toInt)
    runner.setTraced(true)
    val only = opt.get("only").map(_.split(",").toSet)
    val ops = graft.SparkEntry.all.filter(q => only.forall(_.contains(q.name)))
      .map(q => Op.query(spark, q.name, q.fn, opt("fixture")))
    ops.foreach { op =>
      runner.run(op, 0, "cold")
      runner.run(op, 1, "warm")
    }
    runner.close()
  }

  /** Attribution checks: a query plus one extra action must show one
    * more job and the same result, and an op's span self times must sum
    * to its wall time.
    */
  private def selftest(spark: SparkSession, rec: Record, opt: Map[String, String]): Unit = {
    val name = opt("query")
    val fn = graft.SparkEntry.queries(name)
    val dir = opt("fixture")
    val runner = new Runner(spark, rec, opt("timeout").toInt)
    runner.setTraced(true)
    val plain = Op.query(spark, name, fn, dir)
    val extra = Op(name + "_plus_count", ph => Op.frame(ph, {
      val df = fn(spark, dir)
      df.count()
      df
    }))
    for (pass <- 0 until 3) { runner.run(plain, pass, "selftest"); runner.run(extra, pass, "selftest") }
    runner.close()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
