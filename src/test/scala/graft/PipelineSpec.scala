package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the training-data curation operators
  * (operators/Pipeline.scala) that the value-equality oracle cannot
  * express: determinism across runs, rate calibration, packing
  * contiguity, and cache release.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sf)

  test("llm_decontaminate flags exact duplicates of benchmark docs and nothing clean") {
    val out = run("llm_decontaminate").cache()
    val flagged = out.filter(col("contaminated")).count()
    // the fixture corpus contains exact duplicates; any dup of a
    // doc_id<20 benchmark doc shares ALL its 8-grams
    assert(out.count() == 480)
    val contaminatedShare = flagged.toDouble / 480
    assert(contaminatedShare < 0.2,
      s"8-gram overlap should be rare in a clean corpus, got $flagged/480")
    // every flagged doc shares at least one gram; every clean doc zero
    assert(out.filter(col("contaminated") && col("n_shared_grams") === 0).count() == 0)
    assert(out.filter(!col("contaminated") && col("n_shared_grams") > 0).count() == 0)
    out.unpersist()
  }

  test("llm_decontaminate_bloom is row-identical to the exact path") {
    // The bloom prefilter may pass false positives into the verify
    // join, but never into the result: the exact join removes them, so
    // the two declared queries must agree row for row.
    val exact = run("llm_decontaminate").collect().toSeq
    val bloom = run("llm_decontaminate_bloom").collect().toSeq
    assert(bloom == exact, "bloom-prefiltered path must equal exact path")
  }

  test("llm_sample_stratified is deterministic and rate-calibrated per stratum") {
    val a = run("llm_sample_stratified").collect()
    val b = run("llm_sample_stratified").collect()
    assert(a.toSeq == b.toSeq, "hash sampling must be run-stable")
    // keep rate per lang within a generous binomial band of its target
    val byLang = a.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val total = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val targets = Map("en" -> 0.5, "es" -> 0.4, "zh" -> 0.3, "de" -> 0.2, "fr" -> 0.1)
    targets.foreach { case (lang, p) =>
      val n = total(lang).toDouble
      val kept = byLang.getOrElse(lang, 0).toDouble
      val sigma = math.sqrt(n * p * (1 - p))
      assert(math.abs(kept - n * p) <= 4 * sigma + 1,
        s"$lang kept $kept of $n, target ${n * p} ±${4 * sigma}")
    }
  }

  test("llm_train_test_split shares sum to the full corpus at ~80/10/10") {
    val rows = run("llm_train_test_split").collect()
    val bySplit = rows.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    val n = bySplit.values.sum
    assert(n == 500)
    assert(bySplit("train") > 350 && bySplit("train") < 450)
    assert(bySplit("valid") + bySplit("test") == n - bySplit("train"))
  }

  test("llm_pack_sequences is contiguous per lang and offsets stay under budget") {
    val rows = run("llm_pack_sequences")
      .orderBy("lang", "doc_id").collect()
    rows.groupBy(_.getString(1)).foreach { case (_, docs) =>
      var expectedStart = 0L
      docs.sortBy(_.getLong(0)).foreach { r =>
        val (n, chunk, off) = (r.getLong(2), r.getLong(3), r.getLong(4))
        assert(off >= 0 && off < 512)
        assert(chunk * 512 + off == expectedStart,
          s"doc ${r.getLong(0)}: chunk/offset disagree with running total")
        expectedStart += n
      }
    }
  }

  test("llm_dataset_mix weights steer every source toward uniform share") {
    val rows = run("llm_dataset_mix").collect()
    val shares = rows.map(_.getDouble(3))
    assert(math.abs(shares.sum - 1.0) < 1e-4)
    // weight × share ≈ target (uniform): reweighted shares equalize
    val nSrc = rows.length
    rows.foreach { r =>
      assert(math.abs(r.getDouble(4) * r.getDouble(3) - 1.0 / nSrc) < 1e-3)
    }
  }

  test("text_pii_redact masks all long digit runs and reports exact counts") {
    val out = run("text_pii_redact")
    assert(out.filter(col("redacted_name").rlike("[0-9]{4,}")).count() == 0)
    // every fixture customer name embeds one zero-padded key
    assert(out.filter(col("n_nums_masked") =!= 1).count() == 0)
    assert(out.filter(col("n_emails_masked") =!= 0).count() == 0)
  }

  test("llm_dataset_sample: realized per-source token shares hit the uniform target") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).cast("long").as("nt"))
    val sample = run("llm_dataset_sample")
    // one row per COPY: token mass counts once per copy
    val realized = sample.join(docs.drop("source"), "doc_id")
      .groupBy(sample("source")).agg(sum("nt").as("toks"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = realized.values.sum.toDouble
    val target = 1.0 / realized.size
    realized.foreach { case (src, t) =>
      val share = t / total
      assert(math.abs(share - target) < 0.012,
        s"$src realized share $share vs target $target")
    }
    // the oversampling path is real: some doc must carry >1 copies
    assert(sample.filter(col("n_copies") > 1).count() > 0)
    // determinism: a second run is row-identical (hash coins, no RNG)
    assert(run("llm_dataset_sample").collect().toSeq ==
      sample.collect().toSeq)
  }

  test("llm_span_corruption: corrupted + target reconstruct the original tokens") {
    val out = run("llm_span_corruption").collect()
    assert(out.nonEmpty)
    val originals = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ", -1).toSeq.filter(_.nonEmpty)).toMap
    val sentinel = "<extra_id_(\\d+)>".r
    var sawSpan = false
    out.foreach { r =>
      val docId = r.getLong(0)
      val corrupted = r.getString(4).split(" ", -1).toSeq.filter(_.nonEmpty)
      val target = Option(r.getString(5)).getOrElse("")
      // parse target into span_id -> tokens
      val spans = scala.collection.mutable.Map.empty[Int, Vector[String]]
      var cur = -1
      target.split(" ", -1).filter(_.nonEmpty).foreach {
        case sentinel(k) => cur = k.toInt; spans(cur) = Vector.empty
        case tok => spans(cur) = spans(cur) :+ tok
      }
      val rebuilt = corrupted.flatMap {
        case sentinel(k) => sawSpan = true; spans(k.toInt)
        case tok => Seq(tok)
      }
      assert(rebuilt == originals(docId),
        s"doc $docId reconstruction mismatch")
      // n_masked/n_spans bookkeeping matches the parsed spans
      assert(spans.values.map(_.size).sum.toLong == r.getLong(2))
      assert(spans.size.toLong == r.getLong(3))
    }
    assert(sawSpan, "no masked span anywhere — vacuous corruption")
  }

  test("export_snapshot_read: append-only commits — v1 manifest nests in v2") {
    run("export_snapshot_read").collect() // stages the log if needed
    val root = java.nio.file.Paths.get(Artifacts.path("snap", sf, "events"))
    val log = root.resolve("log")
    def files(v: Int): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(log.resolve(s"v$v.manifest"))
        .asScala.toSet
    }
    val (v1, v2) = (files(1), files(2))
    assert(v1.nonEmpty && v1.subsetOf(v2), "v1 files must survive the append")
    assert((v2 -- v1).nonEmpty, "the v2 commit must add new files")
    // every v1 file still exists on disk — append never rewrites history
    assert(v1.forall(f => root.resolve(f).toFile.exists()))
  }

  test("Dedup.releaseCaches frees exactly the input's sketch checkpoints") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally different words forming another document body here")
    ).toDF("id", "body")
    val sc = spark.sparkContext
    def pinned = sc.getPersistentRDDs.keySet.toSet
    def checkpointOf(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collectLeaves().collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD if pinned(l.rdd.id) => l.rdd.id
      }.getOrElse(fail("sketch is not checkpointed"))
    spark.catalog.clearCache()
    val before = pinned
    graft.api.Dedup.jaccardVerify(docs, "id", "body").count()
    graft.api.Dedup.minhashSignatures(docs, "id", "body", k = 8).count()
    val sketches = Seq(16, 8).map(k =>
      checkpointOf(graft.api.Dedup.sketch(docs, "id", "body", k)))
    val chain = pinned -- before
    assert(sketches.forall(chain.contains), s"sketches $sketches not in $chain")
    graft.api.Dedup.releaseCaches(docs, "id", "body")
    // compared as subsets: the ContextCleaner may free other suites'
    // unreachable checkpoints at any time
    assert(sketches.forall(!pinned(_)), "releaseCaches must free both sketches")
    assert((chain -- sketches).subsetOf(pinned), "and nothing else of the chain")
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
