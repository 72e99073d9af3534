package graft

import java.util.concurrent.{CompletableFuture, ExecutionException}

import org.apache.spark.sql.DataFrame

/** The one in-JVM memo for per-fixture artifacts: pair graphs, SCC
  * labels, BPE merges, codebooks, index-build markers, staged sources,
  * parquet schemas.
  *
  *  - Bound: at most `bound` finished entries; past it the least
  *    recently used goes first.
  *  - One build per key: the first caller of a key runs `build` outside
  *    any lock; concurrent callers of that key wait for it and get the
  *    same value (or the same exception); callers of other keys never
  *    wait on it. A build that throws stores nothing, so the next call
  *    builds again. A build must not ask its own memo for its own key.
  *  - Session-bound values ([[Memo.sessionBound]]): a value holding a
  *    localCheckpoint'd DataFrame has its checkpoint blocks released
  *    when it is evicted or cleared ([[Memo.releaseCheckpoint]]), and an
  *    entry whose SparkContext has stopped is dropped, never served.
  *
  * Staleness is the key's job: a fixture-derived key carries
  * [[Fixtures.key]] (or [[Fixtures.fingerprint]]), so a rewritten
  * fixture misses instead of being served.
  */
final class Memo[K, V] private (bound: Int, frame: Option[V => DataFrame]) {
  require(bound > 0, s"memo bound must be positive: $bound")

  // access-ordered: iteration runs least recently used first
  private val entries =
    new java.util.LinkedHashMap[K, CompletableFuture[V]](16, 0.75f, true)

  /** The memoized value of `key`, built by `build` on a miss. */
  def apply(key: K)(build: => V): V = {
    val (cell, mine) = synchronized {
      dropStopped()
      val hit = entries.get(key)
      if (hit != null) (hit, false)
      else {
        val c = new CompletableFuture[V]
        entries.put(key, c)
        (c, true)
      }
    }
    if (!mine) {
      try cell.get()
      catch { case e: ExecutionException => throw e.getCause }
    } else {
      val v =
        try build
        catch {
          case t: Throwable =>
            synchronized(entries.remove(key, cell))
            cell.completeExceptionally(t)
            throw t
        }
      cell.complete(v)
      release(synchronized(evictOverflow()))
      v
    }
  }

  /** Drop every entry, releasing session-bound values. */
  def clear(): Unit = release(synchronized {
    val done = finished(entries.values.iterator)
    entries.clear()
    done
  })

  /** Drop every finished entry whose key satisfies `p`, releasing
    * session-bound values; builds in flight stay.
    */
  def removeIf(p: K => Boolean): Unit = release(synchronized {
    val out = Seq.newBuilder[V]
    val it = entries.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue
      if (c.isDone && p(e.getKey)) {
        it.remove()
        if (!c.isCompletedExceptionally) out += c.join()
      }
    }
    out.result()
  })

  /** Entries held, builds in flight included. */
  def size: Int = synchronized(entries.size)

  private def finished(it: java.util.Iterator[CompletableFuture[V]]): Seq[V] = {
    val out = Seq.newBuilder[V]
    while (it.hasNext) {
      val c = it.next()
      if (c.isDone && !c.isCompletedExceptionally) out += c.join()
    }
    out.result()
  }

  // Least recently used finished entries go until the bound holds;
  // builds in flight are never evicted (their callers hold the value).
  private def evictOverflow(): Seq[V] = {
    val out = Seq.newBuilder[V]
    var excess = entries.size - bound
    val it = entries.values.iterator
    while (excess > 0 && it.hasNext) {
      val c = it.next()
      if (c.isDone) {
        it.remove()
        excess -= 1
        if (!c.isCompletedExceptionally) out += c.join()
      }
    }
    out.result()
  }

  private def dropStopped(): Unit = frame.foreach { f =>
    val it = entries.values.iterator
    while (it.hasNext) {
      val c = it.next()
      if (c.isDone && !c.isCompletedExceptionally &&
          f(c.join()).sparkSession.sparkContext.isStopped) it.remove()
    }
  }

  private def release(vs: Seq[V]): Unit =
    frame.foreach(f => vs.foreach(v => Memo.releaseCheckpoint(f(v))))
}

object Memo {

  /** A memo of plain values (schemas, codebooks, build markers). */
  def apply[K, V](bound: Int): Memo[K, V] = new Memo(bound, None)

  /** A memo whose values hold a localCheckpoint'd DataFrame, reached by
    * `frame`: evicted and cleared values release their checkpoint
    * blocks, and entries of a stopped SparkContext are dropped.
    */
  def sessionBound[K, V](bound: Int)(frame: V => DataFrame): Memo[K, V] =
    new Memo(bound, Some(frame))

  /** Best-effort block release for an evicted or superseded
    * localCheckpoint'd DataFrame: the checkpoint blocks belong to the
    * LogicalRDD's rdd, which `df.unpersist()` does not reach (the frame
    * was never CacheManager-cached), so they would otherwise wait for
    * GC and the ContextCleaner. Skips stopped contexts, whose blocks
    * died with them.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    try if (!df.sparkSession.sparkContext.isStopped)
      df.queryExecution.analyzed.collectLeaves().foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    catch { case _: Throwable => () }
}
