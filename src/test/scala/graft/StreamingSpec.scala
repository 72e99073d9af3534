package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

case class Evt(ts: Timestamp, user: Long, id: Long)

/** Watermark semantics with a controlled MemoryStream clock: late rows
  * drop in append mode; within-watermark duplicates dedup.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def t(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("late events beyond the watermark are dropped in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val agg = input.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory")
      .queryName("late_test").outputMode("append").start()
    // two rows inside 10:00 window
    input.addData(Evt(t("10:05"), 1L, 1L), Evt(t("10:30"), 1L, 2L))
    q.processAllAvailable()
    // advance watermark far past 11:00 → finalize the 10:00 window
    input.addData(Evt(t("13:00"), 1L, 3L))
    q.processAllAvailable()
    // a LATE row for the already-finalized window — must be dropped
    input.addData(Evt(t("10:45"), 1L, 4L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late_test")
      .select(col("window.start").cast("string"), col("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("2024-01-01 10:00:00") == 2L, s"late row not dropped: $rows")
  }

  test("dropDuplicatesWithinWatermark removes in-watermark duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val deduped = input.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_test").outputMode("append").start()
    input.addData(Evt(t("10:00"), 1L, 100L), Evt(t("10:05"), 1L, 100L),
      Evt(t("10:10"), 2L, 200L))
    q.processAllAvailable()
    input.addData(Evt(t("10:20"), 1L, 100L)) // still duplicate
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_test").select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(100L, 200L), s"got ${ids.toSeq}")
  }

  test("stream_tumbling_1h (complete mode) equals the batch windowed agg") {
    val streamed = SparkEntry.queries("stream_tumbling_1h")(spark, TestSpark.sf0001)
    val batch = Tables.events(spark, TestSpark.sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream_static_join equals the batch join") {
    val streamed = SparkEntry.queries("stream_static_join")(spark, TestSpark.sf0001)
      .select("event_id", "user_id", "c_name", "c_mktsegment")
    val batch = Tables.events(spark, TestSpark.sf0001)
      .join(Tables.customer(spark, TestSpark.sf0001),
        col("user_id") === col("c_custkey"))
      .select("event_id", "user_id", "c_name", "c_mktsegment")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream_stateful_count final counts equal batch per-user counts") {
    val streamed = SparkEntry.queries("stream_stateful_count")(spark, TestSpark.sf0001)
      .groupBy("user_id").agg(max("running_count").as("final_count"))
    val batch = Tables.events(spark, TestSpark.sf0001)
      .groupBy("user_id").agg(count(lit(1)).as("final_count"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream_stream_join equals the batch interval join exactly") {
    // r10 (VERDICT next #7): the no-oracle inner stream-stream join
    // gets its batch twin pinned in-test — inner interval-join rows
    // emit eagerly on match and exactly once, so the drained streamed
    // result must be row-identical to the batch join of the same
    // fixture, with no watermark carve-out.
    val streamed = SparkEntry.queries("stream_stream_join")(spark, TestSpark.sf0001)
      .select("p_id", "c_id", "p_user")
    val ev = Tables.events(spark, TestSpark.sf0001)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    val batch = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      .select("p_id", "c_id", "p_user")
    assert(streamed.exceptAll(batch).count() == 0,
      "streamed rows not in the batch join")
    assert(batch.exceptAll(streamed).count() == 0,
      "batch join rows missing from the stream")
    assert(batch.count() > 0, "vacuous interval join")
  }

  test("stream_stream_outer: matched = batch inner; fallout is watermark-evicted") {
    val streamed = SparkEntry.queries("stream_stream_outer")(spark, TestSpark.sf0001)
    val ev = Tables.events(spark, TestSpark.sf0001)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    val cond = col("p_user") === col("c_user") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
      col("c_ts") <= col("p_ts")
    // matched rows emit eagerly, exactly the batch inner join
    val sMatched = streamed.filter(!col("unattributed")).select("p_id", "c_id")
    val bMatched = p.join(c, cond).select("p_id", "c_id")
    assert(sMatched.exceptAll(bMatched).count() == 0)
    assert(bMatched.exceptAll(sMatched).count() == 0)
    // unmatched rows emit on state eviction: every streamed fallout row
    // is a true batch fallout, and every fallout whose state the final
    // watermark DEFINITELY expired must have emitted. The global
    // watermark is min over both inputs (max event time − 1h delay),
    // and outer-state retention additionally spans the 1h join range —
    // so guarantee only rows a further join-range + 1s pad behind it.
    val sUn = streamed.filter(col("unattributed")).select("p_id")
    val bUn = p.join(c, cond, "left_anti").select("p_id", "p_ts")
    assert(sUn.exceptAll(bUn.select("p_id")).count() == 0)
    val maxP = ev.filter(col("event_type") === "purchase")
      .agg(max("ts")).head().getTimestamp(0)
    val maxC = ev.filter(col("event_type") === "click")
      .agg(max("ts")).head().getTimestamp(0)
    val wmBase = if (maxP.before(maxC)) maxP else maxC
    val guaranteed = bUn.filter(
      col("p_ts") < lit(wmBase) - expr("INTERVAL 2 HOURS") - expr("INTERVAL 1 SECOND"))
      .select("p_id")
    assert(guaranteed.exceptAll(sUn).count() == 0,
      "watermark-evicted fallout rows missing from the streamed result")
    assert(sUn.count() > 0, "no unattributed purchases — vacuous outer join")
  }

  // The production batch-catchup trigger: AvailableNow drains every
  // available file in bounded batches and SELF-TERMINATES — the shape a
  // scheduled incremental collector run takes (vs the always-on
  // processAllAvailable harness above). Runs on the RocksDB state store
  // and asserts real state metrics from StreamingQueryProgress.
  test("Trigger.AvailableNow drains, self-terminates, and reports RocksDB state size") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_avnow")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf0001}/events.parquet"),
      dir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val schema = spark.read.parquet(dir.toString).schema
      val agg = Tables.normalizeEventsTs(
          spark.readStream.schema(schema).parquet(dir.toString))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
      val q = agg.writeStream.format("memory").queryName("avnow_test")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000),
        "AvailableNow query must self-terminate once the source is drained")
      val stateOps = q.recentProgress.flatMap(_.stateOperators)
      assert(stateOps.nonEmpty, "windowed agg must report a state operator")
      assert(stateOps.map(_.numRowsTotal).max > 0, "state must hold window rows")
      // RocksDB-provider-specific metrics prove the provider engaged
      import scala.jdk.CollectionConverters._
      assert(stateOps.exists(_.customMetrics.keySet.asScala
          .exists(_.toLowerCase.contains("rocksdb"))),
        "state operator must report RocksDB metrics")
      assert(spark.table("avnow_test").count() > 0)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("declared streaming queries produce deterministic row counts") {
    val names = Seq("stream_tumbling_1h", "stream_session", "stream_stateful_count")
    names.foreach { n =>
      val c1 = SparkEntry.queries(n)(spark, TestSpark.sf0001).count()
      val c2 = SparkEntry.queries(n)(spark, TestSpark.sf0001).count()
      assert(c1 == c2 && c1 > 0, s"$n: $c1 vs $c2")
    }
  }

  test("stream_dedup_index: streamed verdicts equal the one-shot batch check") {
    import org.apache.spark.sql.functions._
    val streamed = SparkEntry.queries("stream_dedup_index")(spark, TestSpark.sf0001)
      .collect().toSeq
    assert(streamed.nonEmpty)
    // the same split checked in ONE batch against the same index —
    // micro-batching must not change dedup semantics
    val batch = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .filter(col("doc_id") % 10 < 2)
    val oneShot = graft.api.Dedup
      .incrementalNearDupsIndexed(batch, "doc_id", "text",
        graft.streaming.Streams.corpusIndex(TestSpark.sf0001))
      .orderBy("doc_id").collect().toSeq
    assert(streamed == oneShot)
  }

  test("stream_ann_append: stream-grown index drift equals the batch-grown one") {
    // the ANN ingestion twin of the dedup-index case: committing the
    // same delivery cohort through foreachBatch micro-batches must
    // leave the SAME artifact as the one-shot batch append — pinned by
    // comparing the full per-cell fill/drift audit row-for-row
    val streamed = SparkEntry.queries("stream_ann_append")(spark, TestSpark.sf0001)
      .collect().toSeq
    assert(streamed.nonEmpty)
    val batch = SparkEntry.queries("ann_index_drift")(spark, TestSpark.sf0001)
      .collect().toSeq
    assert(streamed == batch)
  }

  test("stream_ivfpq_append: stream-grown CODED drift audit equals the batch-grown one") {
    // the coded twin (r16): training is deterministic (md5 init,
    // decimal-exact Lloyd means) and every delivery row is encoded
    // against the FROZEN codebooks independently of the micro-batch
    // that carried it, so the stream-grown coded artifact's per-cell
    // fill/code-shift audit must equal ann_ivfpq_drift's batch-grown
    // one row-for-row
    val streamed = SparkEntry.queries("stream_ivfpq_append")(spark, TestSpark.sf0001)
      .collect().toSeq
    assert(streamed.nonEmpty)
    val batch = SparkEntry.queries("ann_ivfpq_drift")(spark, TestSpark.sf0001)
      .collect().toSeq
    assert(streamed == batch)
  }
}
