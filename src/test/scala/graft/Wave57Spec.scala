package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the round-14 additions, asserted on sf0.001. */
class Wave57Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def q(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.sf0001)

  test("dedup_index_drift: census arithmetic and collision bounds hold") {
    val rows = q("dedup_index_drift").collect()
    assert(rows.length == 4, "one row per band")
    rows.foreach { r =>
      val (nBuckets, nRows, maxB) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (nBatch, nHits, rate) = (r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(nBuckets >= 1 && nRows >= nBuckets,
        "every bucket holds at least one row")
      assert(maxB >= 1 && maxB <= nRows)
      assert(nHits >= 0 && nHits <= nBatch,
        "a batch row hits at most one corpus bucket per band")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(math.abs(rate - nHits.toDouble / nBatch) < 1e-3)
    }
    // corpus rows per band = corpus doc count (one signature per band)
    val corpusDocs = Tables.documents(spark, TestSpark.sf0001)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 10 >= 2).count()
    rows.foreach(r => assert(r.getLong(2) == corpusDocs))
  }

  test("scan_parquet_bloom: footer carries blooms for the keyed column only, probe is pushed down") {
    import scala.jdk.CollectionConverters._
    // run the query once (materializes the per-fixture artifact and
    // proves the lookup itself returns the probe customer's orders)
    val rows = q("scan_parquet_bloom").collect()
    assert(rows.nonEmpty && rows.map(_.getLong(1)).sum >= 1L)
    // the artifact's parquet footers: bloom offsets must be present
    // for o_custkey column chunks and ABSENT for un-bloomed columns
    val tmp = new java.io.File(
      Artifacts.path("bloom_orders", TestSpark.sf0001, "orders"))
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    val conf = spark.sessionState.newHadoopConf()
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath), conf))
    try {
      val cols = rdr.getFooter.getBlocks.get(0).getColumns.asScala
      val cust = cols.find(_.getPath.toDotString == "o_custkey").get
      val price = cols.find(_.getPath.toDotString == "o_totalprice").get
      assert(cust.getBloomFilterOffset >= 0,
        "o_custkey column chunk must carry a bloom filter")
      assert(price.getBloomFilterOffset < 0,
        "un-bloomed columns must not pay bloom bytes")
    } finally rdr.close()
    // and the probe equality reaches the scan as a pushed filter
    val p = q("scan_parquet_bloom").queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("EqualTo(o_custkey"),
      s"point probe must be pushed down:\n$p")
  }

  test("stream_compact_catchup: streamed deliveries compact to the batch artifact's audit") {
    // the content-preservation audit of the STREAM-built compacted
    // index must equal the batch-built one's (dedup_index_compact):
    // same corpus, delivery path invisible to content
    val stream = q("stream_compact_catchup").collect().map(_.toString).sorted
    val batch = q("dedup_index_compact").collect().map(_.toString).sorted
    assert(stream.nonEmpty && stream.sameElements(batch),
      s"stream audit ${stream.mkString(",")} != batch ${batch.mkString(",")}")
  }

  test("ann_retrain_recall: recall bounds, hit monotonicity, and the recovery direction") {
    val rows = q("ann_retrain_recall").collect()
    assert(rows.length == 3, "one row per k in {1,2,4}")
    var prevF = -1L
    var prevR = -1L
    rows.sortBy(_.getLong(0)).foreach { r =>
      val (k, nQ) = (r.getLong(0), r.getLong(1))
      val (hf, rf) = (r.getLong(2), r.getDouble(3))
      val (hr, rr) = (r.getLong(4), r.getDouble(5))
      assert(hf >= 0 && hf <= nQ * k && hr >= 0 && hr <= nQ * k)
      assert(rf >= 0.0 && rf <= 1.0 && rr >= 0.0 && rr <= 1.0)
      // more slots can only add hits
      assert(hf >= prevF && hr >= prevR)
      prevF = hf; prevR = hr
    }
    // NO direction assert on the unshifted fixture: with no
    // distribution shift between cohorts, frozen-vs-retrained recall
    // is a coin flip at 50-query slice scale (measured: frozen won
    // 49-46 at sf0.001, retrained won 26-31 at sf0.01) — the query is
    // the MEASUREMENT; the recovery direction under real shift is
    // pinned by AnnIndexSpec's shifted-batch drift test. Here assert
    // only that both searches found something (the slice is not
    // degenerate) and k=4 caught strictly more than k=1 somewhere.
    val totF = rows.map(_.getLong(2)).sum
    val totR = rows.map(_.getLong(4)).sum
    assert(totF > 0 && totR > 0, s"degenerate recall: $totF / $totR")
    assert(rows.map(_.getLong(2)).max > rows.map(_.getLong(2)).min ||
      rows.map(_.getLong(4)).max > rows.map(_.getLong(4)).min,
      "wider k must widen at least one search's hit count")
  }
}
