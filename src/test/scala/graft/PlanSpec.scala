package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the 100 TB story depends on these physical
  * properties, not just correct rows.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString

  test("scan_pushdown_filter pushes the predicate into the parquet scan") {
    val p = plan("scan_pushdown_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filters in:\n$p")
  }

  test("scan_parquet_project prunes to the 4 referenced columns") {
    val p = plan("scan_parquet_project")
    assert(p.contains("ReadSchema") &&
      !p.contains("l_returnflag") && !p.contains("l_shipdate"),
      s"unpruned scan in:\n$p")
  }

  test("scan_partition_pruned prunes to one hive partition directory") {
    val p = plan("scan_partition_pruned")
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus") ||
      p.contains("PartitionFilters: [(o_orderstatus"),
      s"no partition filters in:\n$p")
    // the status column must NOT appear as a pushed data filter — it is
    // a directory, not a column, in the partitioned copy
    assert(!p.contains("PushedFilters: [IsNotNull(o_orderstatus"), p)
  }

  test("join_star_5way broadcasts the dimension tables") {
    val p = plan("join_star_5way")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("join_sortmerge_fact honors the MERGE hint") {
    assert(plan("join_sortmerge_fact").contains("SortMergeJoin"))
  }

  test("join_shufflehash honors the SHUFFLE_HASH hint") {
    assert(plan("join_shufflehash").contains("ShuffledHashJoin"))
  }

  test("topk_global compiles to TakeOrderedAndProject (no global sort)") {
    assert(plan("topk_global").contains("TakeOrderedAndProject"))
  }

  test("join_theta_band avoids a nested-loop join (bucketed equi-join)") {
    val p = plan("join_theta_band")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"quadratic join shape in:\n$p")
  }

  test("agg_pricing_summary uses partial hash aggregation") {
    val p = plan("agg_pricing_summary")
    assert(p.contains("HashAggregate"), s"no hash agg in:\n$p")
  }

  test("minhash aggregates hash-based, not sort-based (long-domain sigs)") {
    // the signatures are built once per input inside Dedup.sketch, and
    // a memoized sketch leaves llm_minhash_signatures reading its
    // checkpoint: the aggregate lives in the sketch's build, so read it
    // from an RDD-backed copy of the same documents (never memoized)
    assert(!plan("llm_minhash_signatures").contains("SortAggregate"))
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val p = graft.api.Dedup
      .minhashSignatures(spark.createDataFrame(docs.rdd, docs.schema), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortAggregate") && p.contains("HashAggregate"),
      s"the sketch's aggregate fell back to SortAggregate:\n$p")
  }

  test("subqueries decorrelate to joins (no per-row re-execution)") {
    // EXISTS → left semi; NOT EXISTS → left anti; correlated scalar →
    // grouped left outer. None of them may survive as an uncorrelated
    // nested-loop re-execution per outer row.
    val exists = plan("sql_exists_subquery")
    assert(exists.toLowerCase.contains("semi"), s"EXISTS not a semi join:\n$exists")
    val in = plan("sql_in_subquery")
    assert(in.toLowerCase.contains("semi") && in.toLowerCase.contains("anti"),
      s"IN/NOT EXISTS not semi+anti joins:\n$in")
    val scalar = plan("sql_scalar_subquery")
    assert(scalar.contains("HashAggregate"),
      s"scalar subquery not rewritten to aggregate+join:\n$scalar")
  }

  test("win_sessionize_batch shuffles once on user_id") {
    val p = plan("win_sessionize_batch")
    // both window passes + the grouped agg share the user_id
    // partitioning: exactly one exchange below the final ORDER BY's
    // range partitioning
    val exchanges = "Exchange (hash|Single)".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$p")
  }

  test("ts_funnel shares one user_id shuffle across all three window stages") {
    val p = plan("ts_funnel")
    // 3 stacked window mins + the per-user reduction ride the same
    // user_id hash partitioning; the only other exchange is the 1-row
    // global summary's single partition
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
    assert(!p.contains("NestedLoop"), s"funnel must not self-join:\n$p")
  }

  test("ts_gap_fill keys every stage on user_id (grid, join, fill)") {
    val p = plan("ts_gap_fill")
    // bucket agg + span agg + grid-bucket join + fill window: all on
    // user_id (or (user_id, h)); no broadcast of the big side, no
    // nested loop
    assert(!p.contains("NestedLoop"), s"gap fill must stay an equi-join:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).toList
    assert(hashEx.nonEmpty && "Exchange hashpartitioning\\(user_id".r
      .findAllIn(p).nonEmpty, s"expected user_id-keyed exchanges:\n$p")
  }

  test("mm_embed_quantize is expression-only below its output sort") {
    val p = plan("mm_embed_quantize")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"quantization must not shuffle on a key:\n$p")
    assert(!p.contains("Join"), s"quantization must not join:\n$p")
  }

  test("similarity/simhash pair queries never plan a nested-loop join") {
    // every pair generator must be a bucketed equi-join — an
    // accidental cartesian here is the classic 100 TB killer.
    // (ann_ivf_cells is excluded deliberately: its assignment step IS
    // a broadcast nested-loop against the 16-row codebook — every
    // vector scores every centroid by design; the trained variant
    // avoids even that with a literal-codebook map.)
    Seq("dedup_simhash_pairs", "ann_lsh_bucketed", "llm_embed_neardup_pairs",
        "llm_knn_per_label").foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join:\n$p")
    }
  }

  test("llm_decontaminate broadcasts the benchmark gram side") {
    // the corpus side must stay a linear pass — a shuffled join of the
    // corpus gram stream against a KB-scale benchmark set would be a
    // pointless full-corpus shuffle at 100 TB
    val p = plan("llm_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
  }

  test("llm_pack_sequences shuffles once on lang below the output sort") {
    val p = plan("llm_pack_sequences")
    val exchanges = "Exchange (hash|Single)".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$p")
  }

  test("sampling/split/redact queries are expression-only (no mid-plan aggregation joins)") {
    // deterministic hash sampling must not cost anything beyond the
    // scan + filter: no join operator of any kind in the plan
    Seq("llm_sample_stratified", "text_pii_redact").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Join"), s"$name grew a join:\n$p")
    }
  }

  test("join_bucketed_colocated joins bucket-to-bucket with no shuffle") {
    // The whole point of the bucketed layout: the SMJ must sit directly
    // on the bucketed scans — zero ShuffleExchange anywhere below the
    // join (the post-join groupBy is allowed its one exchange, which in
    // the full plan string appears ABOVE the SortMergeJoin line).
    val p = plan("join_bucketed_colocated")
    assert(p.contains("SortMergeJoin"), s"bucketed join not SMJ:\n$p")
    val belowJoin = p.substring(p.indexOf("SortMergeJoin"))
    assert(!belowJoin.contains("Exchange"),
      s"shuffle below the bucketed join:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scan not bucket-aware:\n$p")
  }

  test("llm_zipf_fit selects its rank head via TakeOrdered, not a global sort") {
    val p = plan("llm_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-512 rank cut must be a distributed top-k:\n$p")
  }

  test("agg_incremental_rollup pushes the fresh-days predicate into the scan") {
    // the whole point of the partial-aggregate artifact: the refresh
    // scans ONLY days >= the split, and that filter must reach parquet
    val p = plan("agg_incremental_rollup")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts") ||
      p.contains("GreaterThanOrEqual(ts"),
      s"fresh-days filter not pushed to the events scan:\n$p")
  }

  test("scan_agg_pushdown answers MIN/MAX/COUNT from parquet footers") {
    // the declared query localCheckpoints (to scope its conf flip), so
    // audit the plan on a fresh build under the same conf
    spark.conf.set("spark.sql.parquet.aggregatePushDown", "true")
    val prevV1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList",
      prevV1.split(",").filterNot(_.trim == "parquet").mkString(","))
    try {
      val p = Tables.lineitem(spark, TestSpark.sf0001)
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.min("l_orderkey"),
          org.apache.spark.sql.functions.max("l_orderkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation: [COUNT(*)") ||
        p.contains("PushedAggregation"), s"aggregate not pushed:\n$p")
    } finally {
      spark.conf.set("spark.sql.parquet.aggregatePushDown", "false")
      spark.conf.set("spark.sql.sources.useV1SourceList", prevV1)
    }
  }

  test("whole-stage codegen covers the pricing-summary pipeline") {
    // AQE's pre-execution plan string hides codegen spans; check the
    // non-adaptive formatted plan instead.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val s = SparkEntry.queries("agg_pricing_summary")(spark, TestSpark.sf0001)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(s.contains("codegen id"), s) // formatted mode labels codegen'd ops
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
