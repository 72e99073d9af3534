package graft.api

import graft.functions.TextUdfs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Public deduplication API over arbitrary document DataFrames.
  *
  * All operators are linear-pass + key-shuffle shapes (no all-pairs
  * work): exact dedup shuffles on a content hash; minhash/LSH shuffles
  * on doc id then band hash; SimHash is one grouped pass. Hashes are
  * md5-of-string on purpose — portable across engines and stable across
  * runs, so results are reproducible cluster-wide.
  */
object Dedup {

  /** Duplicate-content groups: one row per distinct content hash with
    * the canonical (minimum) id and the group size.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("md5_hex"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("n_docs"))

  /** Canonical key for normalized exact dedup (the CCNet device):
    * lower-case, non-alphanumerics → space, whitespace runs collapsed,
    * trimmed — documents differing only in case/punct/spacing share a
    * key. SQL mirror: md5(trim(regexp_replace(regexp_replace(
    * lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))).
    */
  def normalizedKey(textCol: Column): Column =
    md5(trim(regexp_replace(regexp_replace(lower(textCol),
      "[^a-z0-9 ]", " "), " +", " ")))

  /** Per-doc normalized-dedup verdict: family size under
    * [[normalizedKey]] and whether this row is the keeper (min id).
    */
  def normalizedFamilies(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val keyed = docs.select(col(idCol), normalizedKey(col(textCol)).as("ck"))
    val fams = keyed.groupBy("ck")
      .agg(count(lit(1)).as("family_size"), min(idCol).as("__keeper"))
    keyed.join(fams, "ck")
      .select(col(idCol), col("family_size"),
        (col(idCol) === col("__keeper")).as("is_keeper"))
  }

  /** Rows surviving exact dedup (the minimum id per content group). */
  def exactKeep(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** One row per (id, 3-token shingle) occurrence. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), TextUdfs.tokenizeCol(col(textCol)).as("__t"))
      .select(col("doc_id"), explode(TextUdfs.shinglesFromTokens(col("__t"))).as("token"))

  /** One row per (id, 60-bit shingle hash): `h` is the first 15 hex
    * nibbles of the shingle's md5 as a LONG — the ONE cryptographic
    * hash the whole minhash/LSH/Jaccard chain computes per shingle
    * (seeds are mixed in arithmetically, see [[minhashSeeds]]), and a
    * long-domain stream so every downstream aggregate is a
    * HashAggregate, never a string SortAggregate.
    */
  def shingleHashRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    shingleRows(docs, idCol, textCol)
      .select(col("doc_id"),
        conv(substring(md5(col("token")), 1, 15), 16, 10).cast("long").as("h"))

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Deterministic 60-bit xor-mixing constants, one per minhash seed
    * (`Long.parseLong(md5("seed:i")[0,15], 16)` — engine-portable
    * literals, embedded verbatim in the DuckDB oracle).
    */
  def minhashSeeds(k: Int): IndexedSeq[Long] =
    (0 until k).map(i => java.lang.Long.parseLong(md5hex(s"seed:$i").substring(0, 15), 16))

  /** k portable minhash signatures per doc (columns sig_0..sig_{k-1}).
    *
    * sig_i = min over the doc's shingles of `h XOR seed_i`: ONE md5 per
    * shingle total, then k cheap bitwise mixes — measured 16 md5/shingle
    * → 1 cut the signature stage ~5× at sf0.1 (xor with independent
    * random 60-bit constants re-orders the hash space per seed; the
    * estimator-quality bound lives in PureProps against this exact
    * construction). min(long) is hash-aggregable, so the shingle stream
    * gets a partial HashAggregate — a linear pass, not a sort, at 100 TB.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16): DataFrame =
    signaturesFromShingles(shingleHashRows(docs, idCol, textCol), k)

  private def signaturesFromShingles(shingles: DataFrame, k: Int): DataFrame = {
    val seeds = minhashSeeds(k)
    val aggs = (0 until k).map(i =>
      min(col("h").bitwiseXOR(lit(seeds(i)))).as(s"sig_$i"))
    shingles.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding of the signatures → (doc_id, band, bhash). */
  def lshBanded(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4): DataFrame =
    bandedFromShingles(shingleHashRows(docs, idCol, textCol), k, bands)

  private def bandedFromShingles(shingles: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val rows = k / bands
    val bandCols: Seq[Column] = (0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until rows).map(r => col(s"sig_${b * rows + r}").cast("string")): _*))
    }
    signaturesFromShingles(shingles, k)
      .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bhash")))
  }

  /** Near-dup candidate pairs (doc_a < doc_b) by grouping per LSH
    * bucket and expanding pairs from the collected id list. Versus a
    * banded self-join this computes the shingle→minhash pipeline ONCE
    * (Spark does not reuse the exchange across self-join sides —
    * measured: the whole signature subtree ran twice) and turns the
    * join into a groupBy whose state is one id list per bucket.
    *
    * `maxBucket` caps the per-bucket list: buckets larger than the cap
    * contribute only their first `maxBucket` (sorted) ids — an explicit
    * skew guard for pathological corpora; with shingle-based signatures
    * real buckets stay in the single digits.
    */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, maxBucket: Int = 1000): DataFrame =
    pairsFromShingles(shingleHashRows(docs, idCol, textCol), k, bands, maxBucket)

  /** The candidate-pair and verified-pair results are persisted too:
    * they are tiny (|pairs| rows — KBs at any sane near-dup rate) and
    * shared across the whole declared dedup chain
    * (llm_lsh_candidate_pairs → llm_jaccard_verify →
    * llm_dedup_pipeline → llm_neardup_components) via the
    * CacheManager's canonicalized-plan matching, so the md5-heavy
    * minhash→LSH segment runs ONCE per corpus instead of four times.
    * [[nearDupComponents]] (the chain's terminal stage) unpersists all
    * of them.
    */
  private def pairsFromShingles(shingles: DataFrame, k: Int, bands: Int,
      maxBucket: Int): DataFrame =
    bandedFromShingles(shingles, k, bands)
      .groupBy("band", "bhash")
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, maxBucket).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x AS doc_a, y AS doc_b))))"))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Exact shingle-set Jaccard for the candidate pairs, with a
    * near-dup flag at `threshold`.
    *
    * Shape: one pass collects the distinct-shingle-HASH set per doc
    * (ObjectHashAggregate over longs — no sort, no strings), candidate
    * pairs join that set table twice, and the intersection is computed
    * per pair with array_intersect. Versus a token-level
    * pair⋈token⋈token join this touches |pairs| rows instead of
    * Σ|pair shingles|. Set identity is the 60-bit shingle hash — a
    * 2⁻⁶⁰-rate collision would merge two shingles; acceptable for
    * near-dup detection and mirrored exactly by the oracle.
    */
  /** Memo for the verified-pairs table, keyed like [[nearDupComponents]]'
    * compCache: whether a verify-family query found the transient
    * shingle / candidate caches warm used to depend on bench ORDER (a
    * sibling's persist being alive). The memo pins the
    * localCheckpoint'd verified table — |pairs| rows, KBs at any sane
    * near-dup rate — per (session, plan, fingerprint, params), so every
    * later call is order-independent. The chain's transient persists
    * are still released by nearDupComponents' terminal unpersist.
    * Session-bound, at most 16 entries.
    */
  private case class VerifyKey(
      session: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      sourceFp: String, idCol: String, textCol: String,
      threshold: Double, k: Int, bands: Int)
  private val verifyCache =
    graft.Memo.sessionBound[VerifyKey, DataFrame](bound = 16)(identity)

  def jaccardVerify(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, k: Int = 16, bands: Int = 4): DataFrame = {
    val analyzed =
      docs.select(col(idCol), col(textCol)).queryExecution.analyzed
    val key = VerifyKey(docs.sparkSession, analyzed.canonicalized,
      Similarity.sourceFingerprint(analyzed), idCol, textCol,
      threshold, k, bands)
    verifyCache(key)(
      jaccardFromShingles(persistedShingles(docs, idCol, textCol),
        threshold, k, bands).localCheckpoint())
  }

  /** Incremental (batch-vs-corpus) near-dup flagging: each NEW doc
    * (rows where `isNew` is true) is checked against the OLD corpus —
    * candidates are old docs sharing an LSH band bucket with the new
    * doc, verified by exact Jaccard over the hashed shingle sets.
    * Returns one row per new doc: (doc_id, n_candidates, max_jaccard,
    * is_dup), with zero-candidate docs present (left join, jaccard 0).
    *
    * This is the continuous-ingestion shape a training corpus actually
    * runs: the full chain's intra-corpus pair expansion is replaced by
    * a (band, bhash)-keyed equi-join of the SMALL new-batch band table
    * against the corpus band table. At 100 TB the old side is a
    * precomputed band artifact (bucketed by (band, bhash), maintained
    * append-only as batches commit), so each ingested batch costs
    * O(batch) signature work + one co-partitioned join — never a
    * corpus rescan, and never intra-batch quadratics.
    */
  def incrementalNearDups(docs: DataFrame, idCol: String, textCol: String,
      isNew: Column, threshold: Double = 0.6, k: Int = 16,
      bands: Int = 4): DataFrame = {
    val flags = docs.select(col(idCol).as("doc_id"), isNew.as("__new"))
    val shingles = persistedShingles(docs, idCol, textCol)
    val banded = bandedFromShingles(shingles, k, bands).join(flags, "doc_id")
    val cand = banded.filter(col("__new")).as("n")
      .join(banded.filter(!col("__new")).as("o"),
        col("n.band") === col("o.band") && col("n.bhash") === col("o.bhash"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .distinct()
    val sets = shingles.groupBy("doc_id").agg(collect_set(col("h")).as("toks"))
    val nInter = size(array_intersect(col("sa.toks"), col("sb.toks")))
    val denom = size(col("sa.toks")) + size(col("sb.toks")) - nInter
    val jac = cand
      .join(sets.as("sa"), col("new_id") === col("sa.doc_id"))
      .join(sets.as("sb"), col("old_id") === col("sb.doc_id"))
      .select(col("new_id"), (nInter.cast("double") / denom).as("__j"))
    val agg = jac.groupBy("new_id").agg(
      count(lit(1)).as("n_candidates"), max(col("__j")).as("__max_j"))
    flags.filter(col("__new")).select(col("doc_id"))
      .join(agg, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        round(coalesce(col("__max_j"), lit(0.0)), 4).as("max_jaccard"),
        (coalesce(col("__max_j"), lit(0.0)) >= threshold).as("is_dup"))
  }

  /** Persist the corpus's near-dup index as two BUCKETED parquet tables
    * — the 100-TB artifact behind [[incrementalNearDupsIndexed]]:
    *
    *   - `<table>_bands` (doc_id, band, bhash), bucketed+sorted by
    *     (band, bhash): the LSH candidate side. Bucketing makes every
    *     later batch-vs-corpus band join co-partitioned — the corpus
    *     side scans straight into the join with NO shuffle Exchange
    *     (DedupIndexSpec asserts this on the executed plan).
    *   - `<table>_sets` (doc_id, toks), bucketed+sorted by doc_id: the
    *     per-doc hashed shingle sets for exact Jaccard verification of
    *     candidates, again exchange-free on the corpus side.
    *
    * `buckets` sizes the artifact for the deployment (fixture tests use
    * 8; a 100-TB corpus wants thousands — bucket count is fixed at
    * write time, so size it for the corpus you'll grow into). The
    * signature work is O(corpus) ONCE; every later ingest pays only
    * O(batch) (see [[appendToBandIndex]]).
    */
  def writeBandIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, k: Int = 16, bands: Int = 4, buckets: Int = 8,
      append: Boolean = false): Unit = {
    val mode =
      if (append) org.apache.spark.sql.SaveMode.Append
      else org.apache.spark.sql.SaveMode.Overwrite
    val shingles = shingleHashRows(docs, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      bandedFromShingles(shingles, k, bands)
        .write.mode(mode)
        .bucketBy(buckets, "band", "bhash").sortBy("band", "bhash")
        .saveAsTable(s"${table}_bands")
      shingles.groupBy("doc_id").agg(sort_array(collect_set(col("h"))).as("toks"))
        .write.mode(mode)
        .bucketBy(buckets, "doc_id").sortBy("doc_id")
        .saveAsTable(s"${table}_sets")
    } finally shingles.unpersist(blocking = false)
  }

  /** Commit an ingested batch into the band index — append-only, cost
    * O(batch): Spark appends new bucket files under the SAME bucket
    * spec, so the artifact stays co-partitionable forever; no corpus
    * rescan, no rewrite. Call after a batch passes
    * [[incrementalNearDupsIndexed]] and is accepted into the corpus.
    */
  def appendToBandIndex(batch: DataFrame, idCol: String, textCol: String,
      table: String, k: Int = 16, bands: Int = 4, buckets: Int = 8): Unit =
    writeBandIndex(batch, idCol, textCol, table, k, bands, buckets, append = true)

  /** Compact the persisted band index — the maintenance op
    * [[appendToBandIndex]]'s continuous-ingestion story accrues toward
    * (the band-index twin of [[graft.api.Similarity.compactIvfIndex]]):
    * every delivery appends its own small bucket files to BOTH halves
    * of the artifact, and read amplification grows with the delivery
    * count until a compaction rewrites each half ONCE under its own
    * original bucket spec (count read from the catalog, so "same spec"
    * holds by construction). `repartition(n, keys)` uses the same hash
    * the bucketing does, so each write task holds exactly one bucket
    * and emits ONE file per bucket — the minimal layout — while content
    * stays bit-identical (each half is localCheckpoint-materialized
    * before its overwrite, so compacting in place is safe). Cost: one
    * read + one shuffle per half, amortized over every later batch's
    * saved file-open fan-out.
    */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, target: String): Unit = {
    def half(suffix: String, keys: Seq[String]): Unit = {
      val src = s"$table$suffix"
      val nb = graft.api.Similarity.catalogBuckets(spark, src)
        .getOrElse(throw new IllegalArgumentException(
          s"compactBandIndex: $src has no bucket spec"))
      val snap = spark.table(src).localCheckpoint()
      snap.repartition(nb, keys.map(col): _*)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(nb, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
        .saveAsTable(s"$target$suffix")
      graft.Memo.releaseCheckpoint(snap)
    }
    half("_bands", Seq("band", "bhash"))
    half("_sets", Seq("doc_id"))
  }

  /** Retrain the persisted band index — the decision the
    * `dedup_index_drift` census informs, executed (the band twin of
    * [[graft.api.Similarity.retrainIvfIndex]]): re-derive the LSH
    * banding at ADJUSTED (k, bands) — e.g. more rows per band when the
    * census shows mega-buckets absorbing the candidate traffic — and
    * rewrite a fresh artifact at `target`, FROM THE STANDING ARTIFACT
    * alone: the `_sets` half stores every doc's distinct 60-bit
    * shingle hashes, which is exactly the input the minhash chain
    * needs (sig_i = min over hashes of h XOR seed_i — distinctness
    * does not move a min), so no source-corpus re-scan, re-tokenize,
    * or re-md5 happens. Cost: one read of the sets half + the k cheap
    * xor-mixes, at any corpus size.
    *
    * Bucket counts are derived per half from the SOURCE artifact's own
    * catalog specs (the compact/retrain same-spec convention —
    * never silently re-bucket); `buckets > 0` overrides both to
    * deliberately re-bucket.
    */
  def retrainBandIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, target: String, k: Int = 16, bands: Int = 4,
      buckets: Int = 0): Unit = {
    def nb(suffix: String): Int =
      if (buckets > 0) buckets
      else graft.api.Similarity.catalogBuckets(spark, s"$table$suffix")
        .getOrElse(throw new IllegalArgumentException(
          s"retrainBandIndex: $table$suffix has no bucket spec"))
    val nbBands = nb("_bands")
    val nbSets = nb("_sets")
    // snapshot the sets half (it is both the signature input and the
    // carried-over content, and `target` may equal `table` in place)
    val sets = spark.table(s"${table}_sets").localCheckpoint()
    val shingles = sets.select(col("doc_id"), explode(col("toks")).as("h"))
    bandedFromShingles(shingles, k, bands)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(nbBands, "band", "bhash").sortBy("band", "bhash")
      .saveAsTable(s"${target}_bands")
    sets
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(nbSets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${target}_sets")
    graft.Memo.releaseCheckpoint(sets)
  }

  /** [[incrementalNearDups]] against the PERSISTED band index — the
    * shape a continuous-ingestion corpus actually runs at 100 TB. The
    * batch side computes its signatures fresh (O(batch)); the corpus
    * side is the pre-bucketed artifact, so both joins against it (band
    * candidates, then shingle-set verification) read the bucketed scan
    * DIRECTLY into the join — the only Exchanges in the plan are on the
    * batch/candidate side, never the corpus side. Corpus columns are
    * aliased (`ob_*` / `set_doc_id`) so plan audits can tell the sides
    * apart; alias-aware output partitioning preserves the bucket
    * distribution through the rename.
    *
    * Same contract as [[incrementalNearDups]]: one row per batch doc —
    * (doc_id, n_candidates, max_jaccard, is_dup), zero-candidate docs
    * present via the left join.
    */
  def incrementalNearDupsIndexed(batch: DataFrame, idCol: String,
      textCol: String, table: String, threshold: Double = 0.6,
      k: Int = 16, bands: Int = 4): DataFrame = {
    val spark = batch.sparkSession
    val corpusBands = spark.table(s"${table}_bands")
      .select(col("band").as("ob_band"), col("bhash").as("ob_bhash"),
        col("doc_id").as("old_id"))
    val corpusSets = spark.table(s"${table}_sets")
      .select(col("doc_id").as("set_doc_id"), col("toks").as("old_toks"))
    // batch shingles recomputed per consumer rather than persisted:
    // the batch is ingest-sized by definition, and leaving no cache
    // entries behind matters more here than one extra batch-local scan
    val shingles = shingleHashRows(batch, idCol, textCol)
    val cand = bandedFromShingles(shingles, k, bands)
      .join(corpusBands,
        col("band") === col("ob_band") && col("bhash") === col("ob_bhash"))
      .select(col("doc_id").as("new_id"), col("old_id"))
      .distinct()
    val newSets = shingles.groupBy("doc_id")
      .agg(collect_set(col("h")).as("new_toks"))
    val nInter = size(array_intersect(col("new_toks"), col("old_toks")))
    val denom = size(col("new_toks")) + size(col("old_toks")) - nInter
    val jac = cand
      .join(newSets, col("new_id") === col("doc_id"))
      .join(corpusSets, col("old_id") === col("set_doc_id"))
      .select(col("new_id"), (nInter.cast("double") / denom).as("__j"))
    val agg = jac.groupBy("new_id").agg(
      count(lit(1)).as("n_candidates"), max(col("__j")).as("__max_j"))
    batch.select(col(idCol).as("doc_id"))
      .join(agg, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        round(coalesce(col("__max_j"), lit(0.0)), 4).as("max_jaccard"),
        (coalesce(col("__max_j"), lit(0.0)) >= threshold).as("is_dup"))
  }

  /** The tokenize+shingle+md5 stream of the whole corpus feeds BOTH the
    * per-doc set branch and the minhash→LSH pair branch; Spark does
    * not share the subtree across the two (the partial aggregates
    * differ, so no exchange reuse). persist() materializes it once —
    * and because persist registers with the session CacheManager by
    * canonicalized plan, later queries over the same corpus (the
    * pipeline + components queries) reuse the same cached stream. The
    * cached rows are (long, long) — hashing the shingles BEFORE the
    * cache both shrinks it ~4× vs token strings and means the md5 cost
    * is paid exactly once per corpus.
    * The cache lives until [[nearDupComponents]] (the terminal stage of
    * the dedup pipeline) unpersists it; callers using [[jaccardVerify]]
    * or [[lshCandidatePairs]] standalone on many distinct corpora
    * should call [[releaseCaches]] per corpus when done.
    */
  private def persistedShingles(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    shingleHashRows(docs, idCol, textCol).persist(StorageLevel.MEMORY_AND_DISK)

  /** Release every MEMORY_AND_DISK entry the dedup chain persists for
    * `docs` — the hashed-shingle stream, the candidate pairs, and the
    * verified pairs — without `clearCache()`-ing the whole session.
    *
    * [[nearDupComponents]] does the equivalent internally as the
    * chain's terminal stage; call this yourself when driving
    * [[jaccardVerify]] / [[lshCandidatePairs]] standalone across many
    * distinct corpora (the caches otherwise accumulate for the session
    * lifetime). Arguments must MATCH the producing calls: the
    * CacheManager resolves entries by canonicalized plan, and
    * threshold / k / bands / maxBucket are all part of that plan.
    * Releasing an entry that was never persisted is a no-op.
    */
  def releaseCaches(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, k: Int = 16, bands: Int = 4,
      maxBucket: Int = 1000): Unit = {
    val shingles = shingleHashRows(docs, idCol, textCol)
    // rebuilding the DataFrames re-registers each plan with the
    // CacheManager (a no-op for already-cached plans) and unpersist
    // then drops the entry by canonicalized-plan match
    jaccardFromShingles(shingles, threshold, k, bands).unpersist(blocking = false)
    pairsFromShingles(shingles, k, bands, maxBucket).unpersist(blocking = false)
    shingles.unpersist(blocking = false)
  }

  private def jaccardFromShingles(shingles: DataFrame, threshold: Double,
      k: Int, bands: Int): DataFrame = {
    val sets = shingles
      .groupBy("doc_id").agg(collect_set(col("h")).as("toks"))
    val pairs = pairsFromShingles(shingles, k, bands, 1000)
    val nInter = size(array_intersect(col("sa.toks"), col("sb.toks")))
    val denom = size(col("sa.toks")) + size(col("sb.toks")) - nInter
    pairs
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(nInter.cast("double") / denom, 4).as("jaccard"),
        (nInter.cast("double") / denom >= threshold).as("is_near_dup"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Connected components over the verified near-duplicate graph:
    * every doc appearing in a near-dup pair gets the MINIMUM doc id
    * reachable from it (its canonical representative). Iterative
    * min-label propagation — each round joins labels to the undirected
    * edge list and keeps the per-node min; converges in O(component
    * diameter) rounds (near-dup components are clique-ish, so 2-3).
    *
    * Convergence is detected from sum(comp) over the freshly
    * materialized labels: min-label propagation only ever DECREASES a
    * label, so the sum is strictly monotone until the fixpoint — an
    * O(|labels|) scan of the just-checkpointed rows instead of the
    * join+filter+isEmpty job a change-set diff would cost per round.
    *
    * `localCheckpoint` truncates the growing lineage each round. It is
    * NOT fault-tolerant (executor loss forfeits the run — the driver
    * cannot recompute truncated lineage); this trade is deliberate
    * here, a production cluster run that must survive executor churn
    * should substitute reliable `checkpoint` with an HDFS checkpoint
    * dir — same loop, same shape, one config.
    *
    * Requires a NUMERIC `idCol` (the convergence check sums labels; doc
    * ids in this engine are longs). The sum runs in DECIMAL(38,0), so
    * it cannot overflow under ANSI mode even for 10^19-scale id domains
    * (38 digits of headroom over any realistic corpus).
    */
  /** Memo for the component labels, keyed like Similarity's k-means
    * codebook cache: canonicalized analyzed plan (exprId-free) + a
    * (path, length, mtime) fingerprint of every file-source leaf, so a
    * regenerated fixture invalidates the entry, + the owning session
    * (reference equality): the value is a localCheckpoint'd DataFrame
    * pinned to the SparkContext that created it, so a plan-only key
    * would serve a dead-context entry to a NEW session in the same JVM.
    * The value is the final label table — model-sized (only docs with a
    * near-dup edge). The chain costs ~2.5 s uncached and THREE queries
    * run it (llm_neardup_components / llm_dedup_keep_best /
    * llm_dupcluster_sources); the memo makes the reuse explicit and
    * order-independent. Session-bound, at most 16 entries.
    */
  private case class CompKey(
      session: org.apache.spark.sql.SparkSession, // reference identity
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      sourceFp: String, idCol: String, textCol: String,
      threshold: Double, k: Int, bands: Int, maxIters: Int)
  private val compCache =
    graft.Memo.sessionBound[CompKey, DataFrame](bound = 16)(identity)

  def nearDupComponents(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, k: Int = 16, bands: Int = 4,
      maxIters: Int = 25): DataFrame = {
    val analyzed =
      docs.select(col(idCol), col(textCol)).queryExecution.analyzed
    val key = CompKey(docs.sparkSession, analyzed.canonicalized,
      Similarity.sourceFingerprint(analyzed), idCol, textCol,
      threshold, k, bands, maxIters)
    compCache(key)(
      computeNearDupComponents(docs, idCol, textCol, threshold, k,
        bands, maxIters))
  }

  private def computeNearDupComponents(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double, k: Int, bands: Int,
      maxIters: Int): DataFrame = {
    require(docs.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"nearDupComponents requires a numeric id column; '$idCol' is " +
        s"${docs.schema(idCol).dataType.simpleString} (the convergence check sums labels)")
    val shingles = persistedShingles(docs, idCol, textCol)
    val verified = jaccardFromShingles(shingles, threshold, k, bands)
    val pairs = verified.filter(col("is_near_dup"))
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .localCheckpoint() // eager — the upstream caches are consumed here
    // This is the terminal stage of the dedup chain: release every
    // cache the chain created (blocking=false: lazy eviction).
    shingles.unpersist(blocking = false)
    verified.unpersist(blocking = false)
    // same canonicalized plan as the chain's cached candidate pairs —
    // unpersist resolves the entry through the CacheManager
    pairsFromShingles(shingles, k, bands, 1000).unpersist(blocking = false)
    var labels = edges.select(col("u").as("doc")).distinct()
      .withColumn("comp", col("doc"))
      .localCheckpoint()
    def labelSum(df: DataFrame): BigDecimal = {
      val r = df.agg(sum(col("comp").cast("decimal(38,0)"))).head
      if (r.isNullAt(0)) BigDecimal(0) else BigDecimal(r.getDecimal(0))
    }
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val propagated = labels.join(edges, col("doc") === col("u"))
        .select(col("v").as("doc"), col("comp"))
      val next = labels.unionByName(propagated)
        .groupBy("doc").agg(min("comp").as("comp"))
        .localCheckpoint() // eager: the round's one real job
      // cheap scan of the checkpointed rows, no join
      val nextSum = labelSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      iter += 1
    }
    labels
  }

  /** Near-dup dedup with a KEEP-BEST policy: every document gets a
    * near-duplicate component label ([[nearDupComponents]]; documents
    * with no near-dup edge are their own singleton component) and each
    * component keeps exactly one representative — the LONGEST document
    * (token count, ties to the lowest id), the keep-longest rule
    * web-corpus curation uses so boilerplate-trimmed fragments lose to
    * the fullest copy. Emits every input doc with its component, token
    * count, and keep verdict, so the caller can either filter `kept`
    * or audit the drop set.
    *
    * Scale shape: the component labels come from the banded-LSH chain
    * (never all-pairs); scoring is per-row expression work; the verdict
    * is one row_number window over components — component sizes are
    * near-dup cluster sizes (small by construction; a pathological
    * mega-cluster would already have been the LSH chain's problem, not
    * this stage's).
    */
  def keepBestPerComponent(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, k: Int = 16, bands: Int = 4): DataFrame = {
    val comps = nearDupComponents(docs, idCol, textCol, threshold, k, bands)
    val scored = docs.select(col(idCol),
      size(TextUdfs.tokenizeCol(col(textCol))).cast("long").as("n_tokens"))
    val w = Window.partitionBy("comp")
      .orderBy(col("n_tokens").desc, col(idCol))
    scored.join(comps, scored(idCol) === comps("doc"), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("comp"),
        col("n_tokens"))
      .withColumn("kept", row_number().over(w) === 1)
  }

  /** Line-level cross-document dedup — the CCNet/RefinedWeb boilerplate
    * stage: split every document into sub-document "lines", drop each
    * line that occurs in more than `maxDocs` DISTINCT documents (nav
    * bars, cookie banners, license headers), and reassemble the
    * surviving lines in original order with per-doc retention stats.
    *
    * The fixture corpus has no newlines, so a "line" here is a
    * fixed-width chunk of `lineWords` consecutive tokens — the unit is
    * a parameter; on real web text pass-through of `split(text, '\n')`
    * slots into the same shape unchanged.
    *
    * Scale shape (the reason this beats per-doc heuristics at 100 TB):
    * one linear explode to (doc, pos, line); one line-keyed hash
    * aggregate for the distinct-doc counts (map-side partial combine,
    * carries one row per DISTINCT line); one equi-join of the line
    * stream back to those counts on the SAME key — Catalyst reuses the
    * hash partitioning, so the boilerplate verdict costs no extra wide
    * shuffle; one doc-keyed aggregate to reassemble. No quadratic
    * stage and no driver-side state. A mega-frequent line skews its
    * aggregate partition, but the aggregate emits one row per line
    * value, so the skew is bounded by the distinct-line count, not the
    * corpus.
    */
  def dropBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
      lineWords: Int = 3, maxDocs: Int = 2): DataFrame = {
    val lined = docs
      .select(col(idCol).as("doc_id"), TextUdfs.tokenizeCol(col(textCol)).as("__t"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(__t) / ${lineWords}.0) as int) - 1),
           |  i -> array_join(slice(__t, i * $lineWords + 1, $lineWords), ' '))"""
          .stripMargin)).as(Seq("pos", "line")))
    val docFreq = lined.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("line_docs"))
    lined.join(docFreq, Seq("line"))
      .withColumn("__keep", col("line_docs") <= maxDocs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("pos"), col("line"))))),
          x => x.getField("line")), " ").as("kept_text"))
  }

  /** Exact-substring cross-document duplication report — the
    * suffix-array-free Spark shape of Lee et al.'s "Deduplicating
    * Training Data" exact-substring dedup: for every document, the
    * fraction of its token positions covered by a `spanTokens`-token
    * run that also appears VERBATIM in at least `minDocs−1` other
    * documents. Heavily-covered docs are templated/near-copied content
    * the token-level curation gates miss.
    *
    * Mechanics: sliding `spanTokens`-grams WITH positions (unlike the
    * disjoint chunks of [[dropBoilerplateLines]], spans overlap, so a
    * shared 6-token run yields two overlapping 5-grams covering 6
    * tokens, not 10); gram→distinct-doc-count aggregate; flagged gram
    * positions per doc merged into an interval UNION via one running
    * `max(pos+span)` window (newly-covered = span end minus the
    * farther of previous coverage end and span start, floored at 0).
    * `dup_heavy` is the ≥1/5-coverage gate, compared in INTEGER form
    * (`dup_tokens * 5 >= n_tokens`) because `0.2 * n` in binary
    * floating point is not midpoint-safe cross-engine.
    *
    * Scale shape: one explode (×~tokens rows), one gram-keyed hash
    * aggregate, one equi-join back on the same key, one doc-keyed
    * window + aggregate — linear with key shuffles, no quadratic
    * stage, same envelope as the minhash chain.
    */
  def exactSubstringSpans(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 5, minDocs: Int = 2): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextUdfs.tokenizeCol(col(textCol)).as("__t"))
    // The gram stream feeds BOTH the doc-frequency aggregate and the
    // join-back; without a cache each branch re-explodes and
    // re-tokenizes the corpus (measured 26 s → 14 s at 100k docs with
    // the persist). Same shared-CacheManager-entry device as the
    // minhash chain: the canonicalized plan keys the cache, so
    // repeated calls over the same input reuse one entry.
    val grams = toks.select(col("doc_id"),
      posexplode(expr(
        s"""CASE WHEN size(__t) >= $spanTokens
           |THEN transform(sequence(1, size(__t) - ${spanTokens - 1}),
           |  i -> array_join(slice(__t, i, $spanTokens), ' '))
           |ELSE array() END""".stripMargin)).as(Seq("__p0", "g")))
      .select(col("doc_id"), (col("__p0") + 1).as("pos"), col("g"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val docFreq = grams.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = grams.join(docFreq, Seq("g"))
      .withColumn("__prev_end", max(col("pos") + spanTokens).over(wPrev))
      .withColumn("__newly", greatest(lit(0),
        col("pos") + spanTokens -
          greatest(coalesce(col("__prev_end"), lit(0)), col("pos"))))
    val perDoc = cov.groupBy("doc_id")
      .agg(sum(col("__newly")).cast("long").as("dup_tokens"))
    toks.select(col("doc_id"), size(col("__t")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_ratio",
        round(col("dup_tokens").cast("double") / col("n_tokens"), 4))
      .withColumn("dup_heavy", col("dup_tokens") * 5 >= col("n_tokens"))
  }

  /** 32-bit SimHash fingerprint per doc from portable md5 nibble bits. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val shingled = shingleRows(docs, idCol, textCol).withColumn("h", md5(col("token")))
    def bitVote(k: Int): Column = expr(
      s"CASE WHEN shiftright((instr('0123456789abcdef', substr(h, ${k / 4 + 1}, 1)) - 1), ${k % 4}) % 2 = 1 THEN 1 ELSE -1 END")
    val bitAggs = (0 until 32).map(k => sum(bitVote(k)).as(s"s_$k"))
    val sums = shingled.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val packed = (0 until 32).map(k =>
      when(col(s"s_$k") > 0, lit(1L << k)).otherwise(lit(0L))).reduce(_ + _)
    sums.select(col("doc_id"), packed.as("simhash"))
  }
}
