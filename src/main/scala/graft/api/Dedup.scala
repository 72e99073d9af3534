package graft.api

import graft.functions.{ShingleHashes, TextUdfs}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
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
  *
  * The minhash family — signatures, bands, candidate pairs, Jaccard
  * verification, components, both incremental checks and the band
  * index — reads ONE per-document [[sketch]] (doc_id, k signatures,
  * sorted distinct shingle-hash set), built in one pass by the native
  * [[graft.functions.ShingleHashes]] kernel and one groupBy.
  *
  * Memo (the reuse across an analysis session):
  *   - Key: the session, the canonicalized `select(id, text)` plan, the
  *     id and text columns, [[Similarity.sourceFingerprint]] of the
  *     input's files, and the derivation's parameters (k for a sketch).
  *   - Bound: at most 8 sketches, least recently used out, their
  *     checkpoint blocks released; candidate pairs, verified pairs and
  *     component labels share a second memo of 48.
  *   - Staleness: a file rewritten in place changes the fingerprint, so
  *     the next call misses and rebuilds.
  *   - Guard: only a deterministic plan whose leaves are all file
  *     relations or `LocalRelation`s is memoized; anything else (an RDD,
  *     a catalog table, a streaming micro-batch over them, `rand()`)
  *     builds per call and pins nothing.
  *   - Scale bound: one sketch entry holds the input's distinct shingle
  *     hashes plus k longs per doc — the size of the band index's `_sets`
  *     half (~1.2 MB of longs for 2,000 docs of ~60 shingles). It is held
  *     by a default `localCheckpoint` (memory, spilling to disk): on
  *     `llm_pipeline` the live heap after a warm pass went down, not up,
  *     against the persisted streams it replaced. Should an entry ever
  *     show there, `localCheckpoint(eager, StorageLevel.DISK_ONLY)` keeps
  *     it off the heap.
  *
  * Nothing here registers with the CacheManager: no persist, no
  * unpersist, except the gram stream inside [[exactSubstringSpans]].
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

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Deterministic 60-bit xor-mixing constants, one per minhash seed
    * (`Long.parseLong(md5("seed:i")[0,15], 16)` — engine-portable
    * literals, embedded verbatim in the DuckDB oracle).
    */
  def minhashSeeds(k: Int): IndexedSeq[Long] =
    (0 until k).map(i => java.lang.Long.parseLong(md5hex(s"seed:$i").substring(0, 15), 16))

  /** The per-document sketch every minhash/LSH/Jaccard call reads: one
    * row per distinct id — `doc_id`, `sig_0..sig_{k-1}`, `toks`.
    *
    *   - `toks` is the sorted, distinct set of the doc's 60-bit shingle
    *     hashes ([[graft.functions.ShingleHashes]]: the first 15 hex
    *     digits of each 3-token shingle's md5 — the ONE cryptographic
    *     hash the chain computes per shingle). Set identity is the hash:
    *     a 2⁻⁶⁰-rate collision would merge two shingles; acceptable for
    *     near-dup detection and mirrored exactly by the oracle.
    *   - `sig_i` = min over `toks` of `h XOR seed_i` ([[minhashSeeds]]):
    *     one md5 per shingle, then k cheap bitwise mixes (xor with
    *     independent random 60-bit constants re-orders the hash space
    *     per seed; the estimator-quality bound lives in PureProps
    *     against this exact construction).
    *
    * Built in one pass: the kernel hashes each input row's shingles
    * into one array, and ONE `groupBy(doc_id)` over those per-row
    * arrays unions them — an id on two rows gets the union of their
    * shingles, exactly as the per-shingle form did. Memoized as the
    * object doc describes; [[releaseCaches]] drops an input's entries.
    */
  private[graft] def sketch(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16): DataFrame =
    memoized(sketches, docs, idCol, textCol, ("sketch", k))(withSignatures(docs
      .select(col(idCol).as("doc_id"),
        ShingleHashes(TextUdfs.tokenizeCol(col(textCol))).as("hs"))
      .groupBy("doc_id")
      .agg(array_sort(array_distinct(flatten(collect_list(col("hs"))))).as("toks")), k))

  /** (doc_id, sig_0..sig_{k-1}, toks) from a (doc_id, toks) set table. */
  private def withSignatures(sets: DataFrame, k: Int): DataFrame = {
    val sigs = minhashSeeds(k).zipWithIndex.map { case (seed, i) =>
      array_min(transform(col("toks"), h => h.bitwiseXOR(lit(seed)))).as(s"sig_$i")
    }
    sets.select(col("doc_id") +: sigs :+ col("toks"): _*)
  }

  /** One input: the owning session (reference identity — a
    * localCheckpoint'd value is pinned to its SparkContext), the
    * canonicalized (exprId-free) plan of the `select(id, text)`
    * projection, and the two column names.
    */
  private case class Input(session: SparkSession, plan: LogicalPlan,
      idCol: String, textCol: String)
  /** A memo key: the input, its source files' fingerprint, and what was
    * derived from it with which parameters.
    */
  private case class Key(in: Input, sourceFp: String, what: Product)

  private val sketches = graft.Memo.sessionBound[Key, DataFrame](bound = 8)(identity)
  /** Pair-sized results: candidate pairs, verified pairs, component labels. */
  private val results = graft.Memo.sessionBound[Key, DataFrame](bound = 48)(identity)

  /** `build`, memoized in `memo` (pinned by `pin`) when `docs` can key
    * a memo: a deterministic plan whose leaves are all file relations or
    * `LocalRelation`s. An RDD or a catalog table may change under an
    * equal plan with no fingerprint to notice it, so anything else gets
    * a fresh, unpinned build per call.
    */
  private def memoized(memo: graft.Memo[Key, DataFrame], docs: DataFrame,
      idCol: String, textCol: String, what: Product,
      pin: DataFrame => DataFrame = _.localCheckpoint())(build: => DataFrame): DataFrame =
    memoInput(docs, idCol, textCol).fold(build) { case (in, fp) =>
      memo(Key(in, fp, what))(pin(build))
    }

  private def memoInput(docs: DataFrame, idCol: String,
      textCol: String): Option[(Input, String)] = {
    val analyzed = docs.select(col(idCol), col(textCol)).queryExecution.analyzed
    val keyable = analyzed.deterministic && analyzed.collectLeaves().forall {
      case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
      case _: LocalRelation => true
      case _ => false
    }
    if (!keyable) None
    else Some((Input(docs.sparkSession, analyzed.canonicalized, idCol, textCol),
      Similarity.sourceFingerprint(analyzed)))
  }

  /** k portable minhash signatures per doc (columns sig_0..sig_{k-1}). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16): DataFrame =
    sketch(docs, idCol, textCol, k).drop("toks")

  /** LSH banding of the signatures → (doc_id, band, bhash). */
  def lshBanded(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4): DataFrame =
    banded(sketch(docs, idCol, textCol, k), k, bands)

  private def banded(sk: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val rows = k / bands
    val bandCols: Seq[Column] = (0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until rows).map(r => col(s"sig_${b * rows + r}").cast("string")): _*))
    }
    sk.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bhash")))
  }

  /** Near-dup candidate pairs (doc_a < doc_b) by grouping per LSH
    * bucket and expanding pairs from the collected id list. Versus a
    * banded self-join this turns the join into a groupBy whose state is
    * one id list per bucket.
    *
    * `maxBucket` caps the per-bucket list: buckets larger than the cap
    * contribute only their first `maxBucket` (sorted) ids — an explicit
    * skew guard for pathological corpora; with shingle-based signatures
    * real buckets stay in the single digits.
    *
    * The pairs — |pairs| rows, KBs at any sane near-dup rate — are
    * memoized like the [[sketch]], per input and (k, bands, maxBucket),
    * in the memo of pair-sized results (at most 48 entries).
    */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, maxBucket: Int = 1000): DataFrame =
    memoized(results, docs, idCol, textCol, ("pairs", k, bands, maxBucket))(
      banded(sketch(docs, idCol, textCol, k), k, bands)
      .groupBy("band", "bhash")
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, maxBucket).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x AS doc_a, y AS doc_b))))"))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct())

  /** Exact shingle-set Jaccard for the candidate pairs, with a
    * near-dup flag at `threshold`: candidate pairs join the sketch's
    * hash sets twice and the intersection is computed per pair with
    * array_intersect — |pairs| rows, never Σ|pair shingles|.
    *
    * The verified table is memoized like the candidate pairs, per input
    * and (threshold, k, bands).
    */
  def jaccardVerify(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, k: Int = 16, bands: Int = 4): DataFrame =
    memoized(results, docs, idCol, textCol, ("verified", threshold, k, bands)) {
      val sets = sketch(docs, idCol, textCol, k).select(col("doc_id"), col("toks"))
      val nInter = size(array_intersect(col("sa.toks"), col("sb.toks")))
      val denom = size(col("sa.toks")) + size(col("sb.toks")) - nInter
      lshCandidatePairs(docs, idCol, textCol, k, bands)
        .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          round(nInter.cast("double") / denom, 4).as("jaccard"),
          (nInter.cast("double") / denom >= threshold).as("is_near_dup"))
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
    val sk = sketch(docs, idCol, textCol, k)
    val bandRows = banded(sk, k, bands).join(flags, "doc_id")
    val cand = bandRows.filter(col("__new")).as("n")
      .join(bandRows.filter(!col("__new")).as("o"),
        col("n.band") === col("o.band") && col("n.bhash") === col("o.bhash"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .distinct()
    val sets = sk.select(col("doc_id"), col("toks"))
    val nInter = size(array_intersect(col("sa.toks"), col("sb.toks")))
    val denom = size(col("sa.toks")) + size(col("sb.toks")) - nInter
    val jac = cand
      .join(sets.as("sa"), col("new_id") === col("sa.doc_id"))
      .join(sets.as("sb"), col("old_id") === col("sb.doc_id"))
      .select(col("new_id"), (nInter.cast("double") / denom).as("__j"))
    verdicts(flags.filter(col("__new")).select(col("doc_id")), jac, threshold)
  }

  /** One row per batch doc from its candidates' Jaccard values `jac`
    * (new_id, __j): (doc_id, n_candidates, max_jaccard, is_dup).
    */
  private def verdicts(batchIds: DataFrame, jac: DataFrame,
      threshold: Double): DataFrame = {
    val agg = jac.groupBy("new_id").agg(
      count(lit(1)).as("n_candidates"), max(col("__j")).as("__max_j"))
    // the aggregate is O(batch): broadcast it, so the batch ids are
    // never shuffled to meet it
    batchIds
      .join(broadcast(agg), col("doc_id") === col("new_id"), "left")
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
    * Both halves are written from the one [[sketch]]: one write job
    * each. `buckets` sizes the artifact for the deployment (fixture
    * tests use 8; a 100-TB corpus wants thousands — bucket count is
    * fixed at write time, so size it for the corpus you'll grow into).
    * The signature work is O(corpus) ONCE; every later ingest pays only
    * O(batch) (see [[appendToBandIndex]]).
    */
  def writeBandIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, k: Int = 16, bands: Int = 4, buckets: Int = 8): Unit =
    writeHalves(sketch(docs, idCol, textCol, k), k, bands, table,
      SaveMode.Overwrite, buckets, buckets)

  /** Commit an ingested batch into the band index — append-only, cost
    * O(batch): Spark appends new bucket files under the SAME bucket
    * spec, so the artifact stays co-partitionable forever; no corpus
    * rescan, no rewrite. Call after a batch passes
    * [[incrementalNearDupsIndexed]] and is accepted into the corpus.
    *
    * `buckets <= 0` (the default) takes each half's count from its own
    * catalog spec when the half exists (else the write-path default of
    * 8), so appending to an index written with any bucket count keeps
    * its layout; a positive count is used as given.
    */
  def appendToBandIndex(batch: DataFrame, idCol: String, textCol: String,
      table: String, k: Int = 16, bands: Int = 4, buckets: Int = 0): Unit = {
    def nb(suffix: String): Int = graft.api.Similarity
      .resolveAppendBuckets(batch.sparkSession, s"$table$suffix", buckets)
    writeHalves(sketch(batch, idCol, textCol, k), k, bands, table,
      SaveMode.Append, nb("_bands"), nb("_sets"))
  }

  /** Both halves of a band index from the sketch frame `sk`. */
  private def writeHalves(sk: DataFrame, k: Int, bands: Int, table: String,
      mode: SaveMode, nbBands: Int, nbSets: Int): Unit = {
    banded(sk, k, bands)
      .write.mode(mode)
      .bucketBy(nbBands, "band", "bhash").sortBy("band", "bhash")
      .saveAsTable(s"${table}_bands")
    sk.select(col("doc_id"), col("toks"))
      .write.mode(mode)
      .bucketBy(nbSets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${table}_sets")
  }

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
  def compactBandIndex(spark: SparkSession,
      table: String, target: String): Unit = {
    def half(suffix: String, keys: Seq[String]): Unit = {
      val src = s"$table$suffix"
      val nb = graft.api.Similarity.catalogBuckets(spark, src)
        .getOrElse(throw new IllegalArgumentException(
          s"compactBandIndex: $src has no bucket spec"))
      val snap = spark.table(src).localCheckpoint()
      snap.repartition(nb, keys.map(col): _*)
        .write.mode(SaveMode.Overwrite)
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
    * shingle hashes, which is exactly the sketch's input to the
    * signatures, so no source-corpus re-scan, re-tokenize, or re-md5
    * happens. Cost: one read of the sets half + the k cheap xor-mixes,
    * at any corpus size.
    *
    * Bucket counts are derived per half from the SOURCE artifact's own
    * catalog specs (the compact/retrain same-spec convention —
    * never silently re-bucket); `buckets > 0` overrides both to
    * deliberately re-bucket.
    */
  def retrainBandIndex(spark: SparkSession,
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
    writeHalves(withSignatures(sets, k), k, bands, target, SaveMode.Overwrite,
      nbBands, nbSets)
    graft.Memo.releaseCheckpoint(sets)
  }

  /** [[incrementalNearDups]] against the PERSISTED band index — the
    * shape a continuous-ingestion corpus actually runs at 100 TB. The
    * batch side is the batch's [[sketch]] (O(batch), built once and
    * read by both joins); the corpus side is the pre-bucketed
    * artifact, so both joins against it (band candidates, then
    * shingle-set verification) read the bucketed scan DIRECTLY into the
    * join — the only Exchanges in the plan are on the batch/candidate
    * side, never the corpus side. Corpus columns are aliased (`ob_*` /
    * `set_doc_id`) so plan audits can tell the sides apart;
    * alias-aware output partitioning preserves the bucket distribution
    * through the rename.
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
    val sk = sketch(batch, idCol, textCol, k)
    val cand = banded(sk, k, bands)
      .join(corpusBands,
        col("band") === col("ob_band") && col("bhash") === col("ob_bhash"))
      .select(col("doc_id").as("new_id"), col("old_id"))
      .distinct()
    val nInter = size(array_intersect(col("new_toks"), col("old_toks")))
    val denom = size(col("new_toks")) + size(col("old_toks")) - nInter
    val jac = cand
      .join(sk.select(col("doc_id"), col("toks").as("new_toks")),
        col("new_id") === col("doc_id"))
      .join(corpusSets, col("old_id") === col("set_doc_id"))
      .select(col("new_id"), (nInter.cast("double") / denom).as("__j"))
    verdicts(batch.select(col(idCol).as("doc_id")), jac, threshold)
  }

  /** Release `docs`' memoized [[sketch]]es (every k; their checkpoint
    * blocks go at once) — for a caller that drives the chain over many
    * distinct inputs in one session and wants the memory back before
    * the entries age out of the memo's bound. Frames returned earlier
    * over the same input read the released sketch and must not be
    * executed again. Releasing an input with no entry is a no-op.
    */
  def releaseCaches(docs: DataFrame, idCol: String, textCol: String): Unit =
    memoInput(docs, idCol, textCol).foreach { case (in, _) =>
      sketches.removeIf(_.in == in)
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
    *
    * The final label table — model-sized (only docs with a near-dup
    * edge), already checkpointed — is memoized like the candidate pairs,
    * per input and (threshold, k, bands, maxIters): three fixture
    * queries (llm_neardup_components / llm_dedup_keep_best /
    * llm_dupcluster_sources) read the same labels.
    */
  def nearDupComponents(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, k: Int = 16, bands: Int = 4,
      maxIters: Int = 25): DataFrame =
    memoized(results, docs, idCol, textCol,
        ("components", threshold, k, bands, maxIters), pin = identity)(
      computeNearDupComponents(docs, idCol, textCol, threshold, k, bands, maxIters))

  private def computeNearDupComponents(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double, k: Int, bands: Int,
      maxIters: Int): DataFrame = {
    require(docs.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"nearDupComponents requires a numeric id column; '$idCol' is " +
        s"${docs.schema(idCol).dataType.simpleString} (the convergence check sums labels)")
    val pairs = jaccardVerify(docs, idCol, textCol, threshold, k, bands)
      .filter(col("is_near_dup"))
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .localCheckpoint() // eager — every round reads the edges
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
