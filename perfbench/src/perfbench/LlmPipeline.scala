package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{Dedup, Similarity, TextMetrics}

/** The `llm_pipeline` workload: bulk training-data curation over the
  * seeded corpus, through `graft.api` only, in pipeline order. The
  * corpus is read from parquet written by `gen.py`; the two indexes are
  * managed tables under the run's own warehouse.
  */
final class LlmPipeline(spark: SparkSession, dir: String) {
  import LlmPipeline._

  val docs: DataFrame = spark.read.parquet(s"$dir/docs.parquet")
  private val batch = spark.read.parquet(s"$dir/batch.parquet")
  /** Half of the held-out batch is ingested into the band index ... */
  val ingest: DataFrame = batch.filter(col("doc_id") % 2 === 0)
  /** ... and the other half is then checked against the grown index. */
  val probe: DataFrame = batch.filter(col("doc_id") % 2 === 1)
  val vecs: DataFrame = spark.read.parquet(s"$dir/vecs.parquet")
  val queries: DataFrame = vecs.filter(col("vec_id") % QueryStride === 0)
  @volatile private var codebook: Array[Array[Double]] = _

  private def unit(ph: Phases)(body: => Unit): Outcome = {
    ph.span("operators.build")(body)
    Outcome(0L, 0L)
  }

  val ops: Seq[Op] = Seq(
    Op("text_quality", ph => Op.frame(ph, TextMetrics.quality(docs, "doc_id", "text"))),
    Op("dedup_exact_groups", ph =>
      Op.frame(ph, Dedup.exactGroups(docs, "doc_id", "text").filter(col("n_docs") > 1))),
    Op("dedup_lsh_candidates", ph => Op.frame(ph, Dedup.lshCandidatePairs(docs, "doc_id", "text"))),
    Op("dedup_jaccard_verify", ph =>
      Op.frame(ph, Dedup.jaccardVerify(docs, "doc_id", "text").filter(col("is_near_dup")))),
    Op("dedup_components", ph => Op.frame(ph, Dedup.nearDupComponents(docs, "doc_id", "text"))),
    Op("dedup_write_band_index", ph =>
      unit(ph)(Dedup.writeBandIndex(docs, "doc_id", "text", BandIndex, buckets = Buckets))),
    Op("dedup_append_band_index", ph =>
      unit(ph)(Dedup.appendToBandIndex(ingest, "doc_id", "text", BandIndex, buckets = Buckets))),
    Op("dedup_incremental_indexed", ph =>
      Op.frame(ph, Dedup.incrementalNearDupsIndexed(probe, "doc_id", "text", BandIndex))),
    Op("ann_kmeans_codebook", ph => {
      codebook = ph.span("operators.build")(
        Similarity.kmeansCodebook(vecs, "vec_id", "embedding", k = Cells))
      Outcome(codebook.length.toLong,
        codebook.flatten.foldLeft(0L)((h, x) => h * 31 + math.round(x * 1e6)))
    }),
    Op("ann_write_ivf_index", ph =>
      unit(ph)(Similarity.writeIvfIndex(vecs, "vec_id", "embedding", IvfIndex, k = Cells,
        buckets = Buckets))),
    Op("ann_ivf_query_indexed", ph => Op.frame(ph,
      Similarity.ivfQueryIndexed(queries, "vec_id", "embedding", IvfIndex, codebook,
        topK = 10, probes = Probes))))

  /** Result checks, run once after the timed passes. Returns facts for
    * run.py, which judges them against the planted truth together with
    * the ops' own results in the run record.
    */
  def check(): Map[String, Any] = {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").filter(col("n_docs") > 1)
      .collect().map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2)))
    val comps = Dedup.nearDupComponents(docs, "doc_id", "text")
      .collect().map(r => Seq(r.getLong(0), r.getLong(1)))
    // full recompute of the probe half's incremental dedup over the same
    // documents the index holds (corpus + ingest half), without the index
    val probeIds = probe.select(col("doc_id").as("__p"), lit(true).as("__new"))
    val all = docs.select("doc_id", "text").unionByName(ingest).unionByName(probe)
      .join(probeIds, col("doc_id") === col("__p"), "left")
    val recomputed = Fingerprint.of(Dedup.incrementalNearDups(all, "doc_id", "text",
      coalesce(col("__new"), lit(false))))
    // ANN recall@10 on a query sample against exact brute force
    val sample = queries.select("vec_id").orderBy("vec_id").limit(RecallSample)
      .collect().map(_.getLong(0))
    val exact = sample.map(q => Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q)
        .select(lit(q).as("q"), col("vec_id")))
      .reduce(_ unionByName _).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val approx = Similarity.ivfQueryIndexed(
        queries.filter(col("vec_id").isin(sample.toSeq: _*)), "vec_id", "embedding",
        IvfIndex, codebook, topK = 10, probes = Probes)
      .select("vec_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = sample.map(q => (exact(q) intersect approx.getOrElse(q, Set.empty)).size).sum
    Map("exact_groups" -> groups.toSeq.map(_.toSeq), "components" -> comps.toSeq.map(_.toSeq),
      "incremental_recomputed" -> Seq(recomputed._1, java.lang.Long.toHexString(recomputed._2)),
      "recall_at_10" -> hits.toDouble / exact.values.map(_.size).sum)
  }
}

object LlmPipeline {
  val BandIndex = "perfbench_band_index"
  val IvfIndex = "perfbench_ivf_index"
  val Cells = 64
  val Probes = 3
  val QueryStride = 29
  val RecallSample = 8
  /** Index bucket count: one per core of the 4-core reference box. */
  val Buckets = 4
}
