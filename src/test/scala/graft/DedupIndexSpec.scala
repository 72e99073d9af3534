package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted near-dup band artifact (Dedup.writeBandIndex): the
  * 100-TB incremental-dedup claim, DEMONSTRATED —
  *   1. batch-vs-artifact results are identical to the in-session
  *      incremental form,
  *   2. the pre-bucketed corpus sides join with NO shuffle Exchange
  *      (the plan property that makes per-batch cost O(batch)),
  *   3. the artifact is append-only: committing a batch makes its docs
  *      visible to the next batch without any rewrite.
  */
class DedupIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def docs = Tables.documents(spark, TestSpark.sf0001)
  private val T = "graft_buckets.dedup_idx" // reuse the bucket-test db

  private def buildIndex(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_buckets")
    Seq("_bands", "_sets").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $T$s"))
    graft.api.Dedup.writeBandIndex(
      docs.filter(col("doc_id") % 10 >= 2), "doc_id", "text", T)
  }

  test("indexed incremental dedup matches the in-session form row for row") {
    buildIndex()
    val indexed = graft.api.Dedup
      .incrementalNearDupsIndexed(docs.filter(col("doc_id") % 10 < 2),
        "doc_id", "text", T)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    val inSession = graft.api.Dedup
      .incrementalNearDups(docs, "doc_id", "text", col("doc_id") % 10 < 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(indexed.nonEmpty && indexed == inSession)
    graft.api.Dedup.releaseCaches(docs, "doc_id", "text")
  }

  test("the bucketed corpus sides join without a shuffle Exchange") {
    buildIndex()
    // force sort-merge joins: at fixture scale broadcast would hide
    // whether the bucket distribution is actually used
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = graft.api.Dedup
        .incrementalNearDupsIndexed(docs.filter(col("doc_id") % 10 < 2),
          "doc_id", "text", T)
        .queryExecution.executedPlan.toString
      // corpus columns are aliased ob_*/set_doc_id inside
      // incrementalNearDupsIndexed precisely so this audit can tell the
      // sides apart: any exchange keyed on them means the corpus got
      // reshuffled and the artifact bought nothing
      assert(!p.contains("Exchange hashpartitioning(ob_band"),
        s"corpus band side shuffled:\n$p")
      assert(!p.contains("Exchange hashpartitioning(set_doc_id"),
        s"corpus sets side shuffled:\n$p")
      // and the batch side DOES shuffle to meet the buckets — the plan
      // didn't just broadcast everything
      assert(p.contains("SortMergeJoin"), s"expected sort-merge joins:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("appendToBandIndex commits a batch without rewriting the corpus") {
    buildIndex()
    val bandFiles0 = spark.table(s"${T}_bands").inputFiles.toSet
    val batch = docs.filter(col("doc_id") % 10 < 2)
    graft.api.Dedup.appendToBandIndex(batch, "doc_id", "text", T)
    // old files untouched (append-only), new bucket files added
    val bandFiles1 = spark.table(s"${T}_bands").inputFiles.toSet
    assert(bandFiles0.subsetOf(bandFiles1) && bandFiles1.size > bandFiles0.size)
    // a re-ingest of the same batch now self-matches: every doc has at
    // least one candidate (itself) at jaccard 1.0
    val re = graft.api.Dedup
      .incrementalNearDupsIndexed(batch, "doc_id", "text", T)
      .collect()
    assert(re.nonEmpty && re.forall(_.getBoolean(3)),
      "appended docs must be found as exact dups on re-ingest")
  }

  test("appendToBandIndex keeps each half's own bucket count by default") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_buckets")
    val T4 = "graft_buckets.dedup_idx_b4"
    Seq("_bands", "_sets").foreach(s => spark.sql(s"DROP TABLE IF EXISTS $T4$s"))
    graft.api.Dedup.writeBandIndex(
      docs.filter(col("doc_id") % 10 >= 2), "doc_id", "text", T4, buckets = 4)
    val sets0 = spark.table(s"${T4}_sets").count()
    val batch = docs.filter(col("doc_id") % 10 < 2)
    graft.api.Dedup.appendToBandIndex(batch, "doc_id", "text", T4)
    Seq("_bands", "_sets").foreach(sfx =>
      assert(graft.api.Similarity.catalogBuckets(spark, s"$T4$sfx") == Some(4)))
    assert(spark.table(s"${T4}_sets").count() == sets0 + batch.count())
    val re = graft.api.Dedup
      .incrementalNearDupsIndexed(batch, "doc_id", "text", T4)
      .collect()
    assert(re.nonEmpty && re.forall(_.getBoolean(3)),
      "appended docs must be found as exact dups on re-ingest")
  }

  test("retrainBandIndex tightens a skew-injected index from the standing artifact alone") {
    // the decision dedup_index_drift informs, executed (r15): a corpus
    // of near-identical docs (one token varies out of ~80) produces
    // mega-buckets at rows-per-band 4 (pair collision ≈ j⁴); the
    // retrain re-bands at rows 8 (j⁸) FROM THE _sets HALF ALONE —
    // post-retrain max bucket must drop, content must match the
    // first-principles banding at the new parameters exactly, and the
    // sets half must carry over bit-identically.
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_buckets")
    val TA = "graft_buckets.dedup_retr_src"
    val TR = "graft_buckets.dedup_retr_dst"
    Seq("_bands", "_sets").foreach { sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $TA$sfx")
      spark.sql(s"DROP TABLE IF EXISTS $TR$sfx")
    }
    // 4 scattered mutated tokens of 80 → ~12 of ~78 shingles differ →
    // pairwise j ≈ 0.73: per band the collision rate is ~j⁴ at rows 4
    // vs ~j⁸ at rows 8 — enough shared-minimum mass for mega-buckets
    // before, and enough distinct mass for the re-banding to split them
    // letter-only tokens: the shared tokenizer strips [^a-z ], so
    // digit-bearing tokens would all collapse into one shingle
    def az(n: Int) = s"${('a' + n / 26).toChar}${('a' + n % 26).toChar}"
    val skew = (0L until 30L).map { i =>
      val muts = Set(0L, 19L, 41L, 61L).map(o => ((i * 7 + o) % 80).toInt)
      (i, (0 until 80).map(p =>
        if (muts(p)) s"q${az(i.toInt)}${az(p)}" else s"c${az(p)}")
        .mkString(" "))
    }.toDF("doc_id", "text")
    graft.api.Dedup.writeBandIndex(skew, "doc_id", "text", TA, 16, 4)
    graft.api.Dedup.retrainBandIndex(spark, TA, TR, 16, 2)
    def maxBucket(t: String): Long =
      spark.table(s"${t}_bands").groupBy("band", "bhash")
        .agg(count(lit(1)).as("sz")).agg(max("sz")).head().getLong(0)
    val (pre, post) = (maxBucket(TA), maxBucket(TR))
    assert(pre >= 6, s"fixture not skewed enough: pre max bucket $pre")
    assert(post < pre,
      s"post-retrain max bucket $post must drop below pre-retrain $pre")
    // artifact-derived banding ≡ first-principles banding at (16, 2):
    // the _sets hashes are the complete minhash input
    val fromArtifact = spark.table(s"${TR}_bands")
      .collect().map(_.toString).sorted.toSeq
    val fresh = graft.api.Dedup.lshBanded(skew, "doc_id", "text", 16, 2)
      .collect().map(_.toString).sorted.toSeq
    assert(fromArtifact == fresh,
      "retrained bands must equal the from-source derivation")
    // sets half carried over exactly; same catalog bucket specs
    assert(spark.table(s"${TR}_sets").collect().map(_.toString).sorted.toSeq
      == spark.table(s"${TA}_sets").collect().map(_.toString).sorted.toSeq)
    Seq("_bands", "_sets").foreach { sfx =>
      val nb = (t: String) => graft.api.Similarity
        .catalogBuckets(spark, s"$t$sfx")
      assert(nb(TR) == nb(TA), s"$sfx bucket spec must carry over")
    }
  }

  test("compactBandIndex shrinks both halves' file counts, preserves content, leaves source untouched") {
    // mirror AnnIndexSpec's compaction gate on the band artifact (r14):
    // fragment with several appends, compact into a new table pair —
    // fewer files per half, identical row multisets, source untouched
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_buckets")
    val TA = "graft_buckets.dedup_cmp_src"
    val TC = "graft_buckets.dedup_cmp_dst"
    Seq("_bands", "_sets").foreach { sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $TA$sfx")
      spark.sql(s"DROP TABLE IF EXISTS $TC$sfx")
    }
    graft.api.Dedup.writeBandIndex(
      docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", TA)
    (1 to 3).foreach(r => graft.api.Dedup.appendToBandIndex(
      docs.filter(col("doc_id") % 4 === r), "doc_id", "text", TA))
    val before = Seq("_bands", "_sets").map { sfx =>
      sfx -> (spark.table(s"$TA$sfx").inputFiles.toSet,
        spark.table(s"$TA$sfx").collect().map(_.toString).sorted.toSeq)
    }.toMap
    graft.api.Dedup.compactBandIndex(spark, TA, TC)
    Seq("_bands", "_sets").foreach { sfx =>
      val (files0, rows0) = before(sfx)
      assert(spark.table(s"$TC$sfx").inputFiles.length < files0.size,
        s"$sfx: compaction must shrink ${files0.size} files")
      val rowsAfter = spark.table(s"$TC$sfx")
        .collect().map(_.toString).sorted.toSeq
      assert(rowsAfter == rows0, s"$sfx: compaction must preserve content")
      assert(spark.table(s"$TA$sfx").inputFiles.toSet == files0,
        s"$sfx: the source table must be untouched")
    }
    // the compacted artifact still serves: same incremental verdicts
    val batch = docs.filter(col("doc_id") % 97 === 1)
    val viaSrc = graft.api.Dedup
      .incrementalNearDupsIndexed(batch, "doc_id", "text", TA)
      .collect().map(_.toString).sorted.toSeq
    val viaCmp = graft.api.Dedup
      .incrementalNearDupsIndexed(batch, "doc_id", "text", TC)
      .collect().map(_.toString).sorted.toSeq
    assert(viaSrc == viaCmp, "compacted index must serve identical verdicts")
  }
}
