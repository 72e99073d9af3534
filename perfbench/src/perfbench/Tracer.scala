package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall-clock span on the client thread (epoch ms for matching against
  * listener event times, nanoTime for the duration).
  */
final case class Span(layer: String, startMs: Long, endMs: Long, seconds: Double)

/** Listener-side counters for one op execution. */
final class OpCounters(val op: String) {
  var jobs = 0
  val jobStartMs = ArrayBuffer[Long]()
  var stages = 0
  var tasks = 0L
  var taskBusyMs = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outputBytes = 0L
  val taskIntervals = ArrayBuffer[(Long, Long)]()
  var batches = 0
  val batchMs = ArrayBuffer[Long]()
  var commitMs = 0L
  var stateRows = 0L
}

/** Attributes Spark jobs, stages, tasks and streaming progress to the
  * op that issued them. A job carries the op's job tag (set by the
  * runner on the client thread, inherited by stream threads); a job
  * without one falls to the op that was current when the event was
  * delivered. The runner drains the listener bus before it switches
  * ops, so every event of an op is delivered while it is current.
  */
final class Tracer(val tagPrefix: String) extends SparkListener {
  @volatile private var current: OpCounters = null
  private val byOp = new ConcurrentHashMap[String, OpCounters]()
  private val stageOwner = new ConcurrentHashMap[Int, OpCounters]()

  def begin(op: String): OpCounters = synchronized {
    val c = new OpCounters(op)
    byOp.put(op, c)
    current = c
    c
  }

  def end(): Unit = synchronized { current = null; byOp.clear(); stageOwner.clear() }

  private def owner(props: java.util.Properties): OpCounters = {
    val tags = Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    tags.collectFirst { case t if t.startsWith(tagPrefix) => byOp.get(t.stripPrefix(tagPrefix)) }
      .flatMap(Option(_)).getOrElse(current)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val c = owner(e.properties)
    if (c != null) {
      c.jobs += 1
      c.jobStartMs += e.time
      e.stageIds.foreach(stageOwner.put(_, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stageOwner.get(e.stageId)
    if (c != null && e.taskInfo != null)
      c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = stageOwner.get(e.stageInfo.stageId)
    if (c != null) {
      c.stages += 1
      c.tasks += e.stageInfo.numTasks
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        c.taskBusyMs += m.executorRunTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Streaming progress, attributed to the current op. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val c = current
        if (c != null) {
          val p = e.progress
          val d = p.durationMs
          def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
          c.batches += 1
          c.batchMs += ms("triggerExecution")
          c.commitMs += ms("walCommit") + ms("commitOffsets") + ms("commitBatch")
          c.stateRows = math.max(c.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
        }
      }
  }
}

object Tracer {
  /** Milliseconds inside [from, to] covered by no interval. */
  def idleMs(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0L, (to - from) - covered)
  }
}
