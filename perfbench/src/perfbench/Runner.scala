package perfbench

import java.util.concurrent.{Callable, Executors, ThreadFactory, TimeUnit, TimeoutException}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What an op hands back: its result fingerprint. */
final case class Outcome(rows: Long, hash: Long)

/** The client thread's spans for one op execution. */
final class Phases {
  val spans = ArrayBuffer[Span]()
  def span[T](layer: String)(body: => T): T = {
    val ms0 = System.currentTimeMillis
    val t0 = System.nanoTime
    try body
    finally spans += Span(layer, ms0, System.currentTimeMillis, (System.nanoTime - t0) / 1e9)
  }
}

/** One benchmark operation: a call sequence into graft's public surface. */
final case class Op(name: String, body: Phases => Outcome)

object Op {
  /** A declared fixture query: build the frame (the query fn, including
    * any eager jobs it runs), plan it, then run it once and fingerprint
    * the result.
    */
  def query(spark: SparkSession, name: String, fn: (SparkSession, String) => DataFrame,
      dir: String): Op =
    Op(name, ph => frame(ph, fn(spark, dir)))

  /** Plan and fingerprint a frame produced inside the build span. */
  def frame(ph: Phases, build: => DataFrame): Outcome = {
    val df = ph.span("operators.build")(build)
    ph.span("plans.plan")(df.queryExecution.executedPlan)
    val (n, h) = ph.span("exec.action")(Fingerprint.of(df))
    Outcome(n, h)
  }
}

/** Issues ops back to back from one client thread (a closed loop with
  * one client), with a per-op timeout. A failed or timed-out op is
  * recorded as failed and never contributes a latency sample.
  */
final class Runner(spark: SparkSession, rec: Record, timeoutS: Int) {
  private val sc = spark.sparkContext
  private val tagPrefix = "perfbench-op-"
  private val tracer = new Tracer(tagPrefix)
  private var traced = false
  private var pool = newPool()

  private def newPool() = Executors.newSingleThreadExecutor(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-client")
      t.setDaemon(true)
      t
    }
  })

  def setTraced(on: Boolean): Unit = if (on != traced) {
    if (on) { sc.addSparkListener(tracer); spark.streams.addListener(tracer.streams) }
    else {
      Bus.drain(sc)
      sc.removeSparkListener(tracer)
      spark.streams.removeListener(tracer.streams)
    }
    traced = on
  }

  /** Runs one op; returns its wall seconds, or None when it failed. */
  def run(op: Op, pass: Int, kind: String): Option[Double] = {
    val tag = tagPrefix + op.name
    val counters = if (traced) tracer.begin(op.name) else null
    val ph = new Phases
    val t0 = System.nanoTime
    val fut = pool.submit(new Callable[Outcome] {
      def call(): Outcome = {
        sc.addJobTag(tag)
        try op.body(ph) finally sc.removeJobTag(tag)
      }
    })
    val result: Either[String, Outcome] =
      try Right(fut.get(timeoutS.toLong, TimeUnit.SECONDS))
      catch {
        case _: TimeoutException =>
          sc.cancelJobsWithTag(tag)
          fut.cancel(true)
          pool.shutdownNow()
          pool = newPool()
          Left(s"timeout after $timeoutS s")
        case e: java.util.concurrent.ExecutionException =>
          val c = Option(e.getCause).getOrElse(e)
          Left(s"${c.getClass.getName}: ${String.valueOf(c.getMessage).take(300)}")
      }
    val wall = (System.nanoTime - t0) / 1e9
    val layer = if (traced) {
      val d0 = System.nanoTime
      Bus.drain(sc)
      val l = layerFacts(counters, ph.spans.toSeq) + ("drain_s" -> (System.nanoTime - d0) / 1e9)
      tracer.end()
      l
    } else Map.empty[String, Any]
    val spans = ph.spans.map(s => s.layer -> s.seconds).toMap
    result match {
      case Right(o) =>
        rec.emit("ev" -> "op", "pass" -> pass, "kind" -> kind, "traced" -> traced,
          "op" -> op.name, "ok" -> true, "wall_s" -> wall, "spans" -> spans,
          "rows" -> o.rows, "hash" -> java.lang.Long.toHexString(o.hash), "layer" -> layer)
        Some(wall)
      case Left(err) =>
        rec.emit("ev" -> "op", "pass" -> pass, "kind" -> kind, "traced" -> traced,
          "op" -> op.name, "ok" -> false, "error" -> err, "wall_s" -> wall,
          "spans" -> spans, "layer" -> layer)
        None
    }
  }

  /** One pass over `ops` in the given order; returns its wall seconds. */
  def pass(ops: Seq[Op], pass: Int, kind: String): Double = {
    val t0 = System.nanoTime
    val failed = ops.count(op => run(op, pass, kind).isEmpty)
    val wall = (System.nanoTime - t0) / 1e9
    rec.emit("ev" -> "pass", "pass" -> pass, "kind" -> kind, "traced" -> traced,
      "wall_s" -> wall, "ops" -> ops.size, "failed" -> failed)
    wall
  }

  private def layerFacts(c: OpCounters, spans: Seq[Span]): Map[String, Any] = {
    def window(layer: String) = spans.find(_.layer == layer)
    val buildJobs = window("operators.build").map { s =>
      c.jobStartMs.count(t => t >= s.startMs && t <= s.endMs)
    }.getOrElse(0)
    val idle = window("exec.action").map(s => Tracer.idleMs(s.startMs, s.endMs, c.taskIntervals.toSeq))
      .getOrElse(0L)
    Map("jobs" -> c.jobs, "build_jobs" -> buildJobs, "stages" -> c.stages,
      "tasks" -> c.tasks, "task_busy_ms" -> c.taskBusyMs, "idle_ms" -> idle,
      "input_bytes" -> c.inputBytes, "input_rows" -> c.inputRows,
      "shuffle_read" -> c.shuffleRead, "shuffle_write" -> c.shuffleWrite,
      "spill" -> c.spill, "output_bytes" -> c.outputBytes,
      "batches" -> c.batches, "batch_ms" -> c.batchMs.toSeq,
      "commit_ms" -> c.commitMs, "state_rows" -> c.stateRows)
  }

  def close(): Unit = { setTraced(false); pool.shutdownNow() }
}

/** The run record: one JSON object per line, flushed as it goes. */
final class Record(path: String) {
  private val out = new java.io.PrintWriter(new java.io.FileWriter(path, true))
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def emit(fields: (String, Any)*): Unit = synchronized {
    out.println(json.writeValueAsString(ListMap(fields: _*)))
    out.flush()
  }
  def close(): Unit = out.close()
}
