package graft.operators

import graft.{Ops, Q, Tables}
import graft.Ops.SQL_HEX15
import graft.functions.TextUdfs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.K — LLM-data-pipeline operators + catalog-heat analog.
  *
  * Scale notes per operator are inline; the common theme: no O(n²)
  * all-pairs work except where explicitly blocked (LSH banding bounds
  * near-dup candidates; label blocking bounds knn; brute-force cosine is
  * a single-query top-k, not all-pairs). Hashes are md5-of-string on
  * purpose — portable, so DuckDB mirrors bit-for-bit.
  */
object Llm {
  import Ops._
  import TextUdfs.SQL_TOKENIZE

  private val K = 16 // minhash signature length
  private val BANDS = 4 // LSH bands (rows per band = K / BANDS = 4)

  /** Band-index artifact table → it is built. The persisted index is
    * the artifact of the continuous-ingestion story: build once per
    * corpus, serve every batch. Every table lives in [[dedupIdxDb]],
    * named by the documents' [[graft.Fixtures.tableKey]], so a
    * rewritten corpus builds into a fresh database instead of being
    * served the old tables. At most 64 tables; an evicted one is only
    * rebuilt.
    */
  private val bandIndexMemo = graft.Memo[String, Unit](bound = 64)

  /** The band-index database of fixture `d`, created on first use in
    * [[graft.Artifacts.home]]: a FIXED path would collide across JVMs
    * (catalog metadata does not outlive the session, so a later JVM's
    * CREATE TABLE finds the previous run's orphaned directory →
    * LOCATION_ALREADY_EXISTS).
    */
  private def dedupIdxDb(s: SparkSession, d: String): String =
    graft.Artifacts.database(s,
      s"graft_dedup_idx_${graft.Fixtures.tableKey(d, "documents")}")

  /** The standing corpus band index (doc_id % 10 >= 2) of fixture `d`,
    * built once; the dedup_index_* queries serve batches against it.
    */
  private def corpusIndex(s: SparkSession, d: String): String = {
    val corpus = s"${dedupIdxDb(s, d)}.corpus"
    bandIndexMemo(corpus) {
      graft.api.Dedup.writeBandIndex(
        Tables.documents(s, d).filter(col("doc_id") % 10 >= 2), "doc_id",
        "text", corpus, K, BANDS)
    }
    corpus
  }

  /** DuckDB twin of the exploded unigram token stream (Spark side lives
    * in graft.api.TextMetrics).
    */
  private val SQL_TOKENS =
    s"SELECT doc_id, unnest($SQL_TOKENIZE) AS token FROM documents"

  private val SQL_SHINGLE_ROWS =
    s"""SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(t)-2, 1)),
       |  i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS token
       |FROM (SELECT doc_id, $SQL_TOKENIZE AS t FROM documents)""".stripMargin

  /** DuckDB twin of the shingle hashes in graft.api.Dedup.sketch: ONE
    * md5 per shingle, reduced to a 60-bit long.
    */
  private val SQL_SHINGLE_HASHES =
    s"SELECT doc_id, ${SQL_HEX15("md5(token)")} AS h FROM ($SQL_SHINGLE_ROWS)"

  /** sig_i = MIN(h XOR seed_i) — same xor-mix family as
    * graft.api.Dedup.minhashSignatures, identical literal seeds.
    */
  private def sqlSigsP(k: Int): String = {
    val seeds = graft.api.Dedup.minhashSeeds(k)
    s"SELECT doc_id, " +
      (0 until k).map(i =>
        s"MIN(xor(h, CAST(${seeds(i)} AS BIGINT))) AS sig_$i").mkString(", ") +
      s" FROM ($SQL_SHINGLE_HASHES) GROUP BY doc_id"
  }

  private val SQL_SIGS = sqlSigsP(K)

  /** Banding at arbitrary (k, bands) over a signatures relation `src`
    * (defaults to the freshly-derived sigs) — parameterized so
    * `dedup_index_retrain`'s oracle can band the SAME sigs at two
    * different band counts without recomputing the minhash chain.
    */
  private def sqlBandedP(k: Int, bands: Int, src: String = ""): String = {
    val from = if (src.nonEmpty) src else s"(${sqlSigsP(k)})"
    val bandList = (0 until bands)
      .map(b => "md5(concat_ws('|', " + (0 until k / bands)
        .map(r => s"CAST(sig_${b * (k / bands) + r} AS VARCHAR)").mkString(", ") + "))")
      .mkString("[", ", ", "]")
    s"""SELECT doc_id, CAST(generate_subscripts(bl, 1) - 1 AS INT) AS band, unnest(bl) AS bhash
       |FROM (SELECT doc_id, $bandList AS bl FROM $from)""".stripMargin
  }

  private val SQL_BANDED = sqlBandedP(K, BANDS)

  /** DuckDB twin of the batch-vs-corpus incremental near-dup check —
    * shared verbatim by `llm_incremental_dedup` (in-session corpus) and
    * `dedup_index_incremental` (persisted bucketed artifact): both
    * compute the same rows, only the Spark-side physical shape differs.
    */
  private[graft] val SQL_INCREMENTAL =
    s"""WITH banded AS ($SQL_BANDED),
       |cands AS (
       |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
       |  FROM (SELECT * FROM banded WHERE doc_id % 10 < 2) n
       |  JOIN (SELECT * FROM banded WHERE doc_id % 10 >= 2) o
       |    ON n.band = o.band AND n.bhash = o.bhash),
       |sets AS (SELECT doc_id, list(DISTINCT h) AS toks
       |         FROM ($SQL_SHINGLE_HASHES) GROUP BY doc_id),
       |jac AS (
       |  SELECT c.new_id,
       |    CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
       |      / (len(sa.toks) + len(sb.toks) - len(list_intersect(sa.toks, sb.toks))) AS j
       |  FROM cands c JOIN sets sa ON c.new_id = sa.doc_id
       |               JOIN sets sb ON c.old_id = sb.doc_id),
       |agg AS (SELECT new_id, COUNT(*) AS n_candidates, MAX(j) AS max_j
       |        FROM jac GROUP BY new_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(a.n_candidates, 0) AS BIGINT) AS n_candidates,
       |  ROUND(COALESCE(a.max_j, 0.0), 4) AS max_jaccard,
       |  COALESCE(a.max_j, 0.0) >= 0.6 AS is_dup
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 < 2) d
       |LEFT JOIN agg a ON d.doc_id = a.new_id
       |ORDER BY doc_id""".stripMargin

  /** Content-preservation audit over a band-index artifact pair —
    * shared by `dedup_index_compact` (batch-built, appended, compacted)
    * and `stream_compact_catchup` (the same corpus delivered by
    * streaming micro-batches, then compacted): per band, row/doc
    * counts and an exact modular checksum of the 60-bit band-hash
    * keys, plus the same for the shingle-set half. Any dropped,
    * duplicated, or perturbed posting fails the gate.
    */
  private[graft] def bandIndexAudit(s: SparkSession,
      table: String): DataFrame = {
    val bAudit = s.table(s"${table}_bands")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(conv(substring(col("bhash"), 1, 15), 16, 10).cast("long")
          % 1000003).as("checksum"))
      .select(concat(lit("bands:"), col("band").cast("string")).as("part"),
        col("n_rows"), col("n_docs"), col("checksum"))
    val sAudit = s.table(s"${table}_sets")
      .select(col("doc_id"), explode(col("toks")).as("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("h") % 1000003).as("checksum"))
      .select(lit("sets").as("part"), col("n_docs").as("n_rows"),
        col("n_docs"), col("checksum"))
    bAudit.unionByName(sAudit).orderBy("part")
  }

  /** DuckDB twin of [[bandIndexAudit]] over the doc_id % 10 >= 2
    * corpus — the delivery path (batch appends vs streaming
    * micro-batches) is invisible to the content, so both declared
    * compaction queries share this oracle verbatim.
    */
  private[graft] lazy val SQL_BAND_AUDIT: String =
    s"""WITH banded AS (
       |  SELECT * FROM ($SQL_BANDED) WHERE doc_id % 10 >= 2),
       |b AS (
       |  SELECT 'bands:' || CAST(band AS VARCHAR) AS part,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(SUM(${SQL_HEX15("bhash")} % 1000003) AS BIGINT)
       |      AS checksum
       |  FROM banded GROUP BY band),
       |sh AS (
       |  SELECT DISTINCT doc_id, h FROM ($SQL_SHINGLE_HASHES)
       |  WHERE doc_id % 10 >= 2),
       |st AS (
       |  SELECT 'sets' AS part,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_rows,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(SUM(h % 1000003) AS BIGINT) AS checksum
       |  FROM sh)
       |SELECT part, n_rows, n_docs, checksum FROM b
       |UNION ALL SELECT part, n_rows, n_docs, checksum FROM st
       |ORDER BY part""".stripMargin

  private val SQL_PAIRS =
    s"""SELECT DISTINCT p.doc_a AS doc_a, p.doc_b AS doc_b FROM (
       |  SELECT unnest(flatten(list_transform(ids, (x, i) ->
       |    list_transform(ids[i+1:], y -> {'doc_a': x, 'doc_b': y})))) AS p
       |  FROM (SELECT band, bhash, list_sort(list(doc_id))[:1000] AS ids
       |        FROM ($SQL_BANDED) GROUP BY band, bhash) bk
       |  WHERE len(ids) > 1) t""".stripMargin

  /** DuckDB twin of graft.api.Dedup.jaccardVerify (no ORDER BY — reused
    * by llm_jaccard_verify and llm_dedup_pipeline).
    */
  private val SQL_JACCARD =
    s"""WITH sets AS (
       |  SELECT doc_id, list(DISTINCT h) AS toks
       |  FROM ($SQL_SHINGLE_HASHES) GROUP BY doc_id),
       |pairs AS ($SQL_PAIRS)
       |SELECT p.doc_a, p.doc_b,
       |ROUND(CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
       |  / (len(sa.toks) + len(sb.toks) - len(list_intersect(sa.toks, sb.toks))), 4) AS jaccard,
       |CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
       |  / (len(sa.toks) + len(sb.toks) - len(list_intersect(sa.toks, sb.toks))) >= 0.6 AS is_near_dup
       |FROM pairs p
       |JOIN sets sa ON p.doc_a = sa.doc_id
       |JOIN sets sb ON p.doc_b = sb.doc_id""".stripMargin

  // DuckDB twins of graft.api.Similarity's vector preparation: the
  // Spark side lives in the API; these strings stay here because they
  // are oracle-dialect, not engine code.
  private def SQL_DOT(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private val SQL_V = "list_transform(embedding, e -> CAST(e AS DOUBLE))"
  private val SQL_VECS =
    s"SELECT vec_id, label, v, sqrt(${SQL_DOT("v", "v")}) AS nrm " +
      s"FROM (SELECT vec_id, label, $SQL_V AS v FROM embeddings)"

  val queries: Seq[Q] = Seq(
    Q("heat_daily",
      (s, d) => Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          countDistinct(col("user_id")).as("active_users"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("day"),
      Some(s"""SELECT CAST(ts AS DATE) AS day,
              |COUNT(DISTINCT user_id) AS active_users,
              |COUNT(*) AS n_events,
              |${SQL_DSUM("value")} AS sum_value
              |FROM events GROUP BY 1 ORDER BY day""".stripMargin)),

    // Exact dedup: one shuffle on the content hash; min() picks the
    // canonical survivor deterministically.
    Q("llm_exact_dedup",
      (s, d) => graft.api.Dedup
        .exactGroups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("md5_hex"),
      Some("""SELECT md5(text) AS md5_hex, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
             |FROM documents GROUP BY md5(text) ORDER BY md5_hex""".stripMargin)),

    Q("llm_minhash_signatures",
      (s, d) => graft.api.Dedup
        .minhashSignatures(Tables.documents(s, d), "doc_id", "text", K)
        .orderBy("doc_id"),
      Some(s"$SQL_SIGS ORDER BY doc_id")),

    Q("llm_lsh_candidate_pairs",
      (s, d) => graft.api.Dedup
        .lshCandidatePairs(Tables.documents(s, d), "doc_id", "text", K, BANDS)
        .orderBy("doc_a", "doc_b"),
      Some(s"SELECT doc_a, doc_b FROM ($SQL_PAIRS) ORDER BY doc_a, doc_b")),

    // LSH bucket-size audit — the skew diagnostic run BEFORE committing
    // to the pair expansion: per band, how many buckets, how many are
    // singletons (no candidates), the largest bucket, and the exact
    // ΣC(size,2) pair bound the expansion would produce. This is the
    // number that decides band/row tuning at 100 TB (a single mega-
    // bucket turns the "candidate-bounded" story quadratic — the
    // shingle-vs-unigram lesson in PERF.md was diagnosed with exactly
    // this view). One groupBy to bucket sizes, one to band rollups —
    // all exact integers, no pair is ever materialized.
    Q("llm_lsh_bucket_stats",
      (s, d) => graft.api.Dedup
        .lshBanded(Tables.documents(s, d), "doc_id", "text", K, BANDS)
        .groupBy("band", "bhash").agg(count(lit(1)).as("sz"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_buckets"),
          count(when(col("sz") === 1, lit(1))).as("n_singletons"),
          max("sz").as("max_bucket"),
          sum(expr("sz * (sz - 1) div 2")).as("candidate_pairs"))
        .orderBy("band"),
      Some(s"""WITH banded AS ($SQL_BANDED),
              |bk AS (
              |  SELECT band, bhash, CAST(COUNT(*) AS BIGINT) AS sz
              |  FROM banded GROUP BY 1, 2)
              |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_buckets,
              |  COUNT(*) FILTER (WHERE sz = 1) AS n_singletons,
              |  MAX(sz) AS max_bucket,
              |  CAST(SUM((sz * (sz - 1)) // 2) AS BIGINT) AS candidate_pairs
              |FROM bk GROUP BY band ORDER BY band""".stripMargin)),

    // Vocabulary coverage (tokenizer-prep view): top-50 corpus tokens
    // with rank and CUMULATIVE token-mass share — the curve a
    // vocab-size decision reads (how much of the corpus do the first
    // N entries cover). The token aggregate is vocab-sized, not
    // corpus-sized; the ranking window runs over that vocab (fine at
    // ~1M entries; the corpus-sized stream never hits a single
    // partition).
    Q("llm_vocab_coverage",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(explode(TextUdfs.tokenizeCol(col("text"))).as("token"))
        val counts = tok.groupBy("token").agg(count(lit(1)).as("n"))
        val wOrd = Window.orderBy(col("n").desc, col("token"))
        val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy()
        counts
          .withColumn("rank", row_number().over(wOrd).cast("long"))
          .withColumn("cum_share",
            round(sum("n").over(wCum).cast("double") / sum("n").over(wAll), 6))
          .filter(col("rank") <= 50)
          .select(col("rank"), col("token"), col("n"), col("cum_share"))
          .orderBy("rank")
      },
      Some(s"""SELECT CAST(rank AS BIGINT) AS rank, token, n, cum_share FROM (
              |  SELECT token, n,
              |    ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank,
              |    ROUND(CAST(SUM(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING) AS DOUBLE)
              |      / SUM(n) OVER (), 6) AS cum_share
              |  FROM (SELECT token, COUNT(*) AS n FROM ($SQL_TOKENS) GROUP BY token) c) t
              |WHERE rank <= 50 ORDER BY rank""".stripMargin)),

    // Incremental (batch-vs-corpus) dedup — the continuous-ingestion
    // shape: docs with doc_id % 10 < 2 stand in for a freshly crawled
    // batch checked against the standing corpus. Band-bucket equi-join
    // (new bands × old bands), Jaccard verify on candidates only, one
    // row per new doc with its verdict. At scale the old band table is
    // a precomputed bucketed artifact — see Dedup.incrementalNearDups.
    Q("llm_incremental_dedup",
      (s, d) => graft.api.Dedup
        .incrementalNearDups(Tables.documents(s, d), "doc_id", "text",
          col("doc_id") % 10 < 2, 0.6, K, BANDS)
        .orderBy("doc_id"),
      Some(SQL_INCREMENTAL)),

    // The SAME batch-vs-corpus check driven through the PERSISTED
    // bucketed band artifact (Dedup.writeBandIndex →
    // incrementalNearDupsIndexed): the corpus side is two bucketed
    // tables — (band,bhash)-bucketed candidates and doc_id-bucketed
    // shingle sets — that join WITHOUT a shuffle Exchange on the corpus
    // side (DedupIndexSpec asserts the plan). This is the continuous-
    // ingestion 100-TB shape: index signatures computed once at build,
    // every later batch pays O(batch) + two co-partitioned joins.
    // Results are identical to llm_incremental_dedup (same oracle).
    Q("dedup_index_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = corpusIndex(s, d)
        graft.api.Dedup.incrementalNearDupsIndexed(
          docs.filter(col("doc_id") % 10 < 2), "doc_id", "text",
          corpus, 0.6, K, BANDS)
          .orderBy("doc_id")
      },
      Some(SQL_INCREMENTAL)),

    // Band-index COMPACTION (the dedup twin of
    // ann_index_compact, completing the band artifact's lifecycle:
    // build → serve batches → append deliveries → compact): the same
    // corpus content as dedup_index_incremental's artifact is built
    // FRAGMENTED (one initial write + three appendToBandIndex
    // deliveries, each leaving its own small bucket files in BOTH
    // halves), then Dedup.compactBandIndex rewrites each half
    // one-file-per-bucket under its original catalog bucket spec. The
    // declared result is a CONTENT-PRESERVATION audit over the
    // compacted artifact: per band, row/doc counts and an exact modular
    // checksum of the 60-bit band-hash keys, plus the same for the
    // shingle-set half — so a compaction that drops, duplicates, or
    // perturbs ANY posting fails the gate. The oracle states the
    // identical audit from the first-principles signature derivation
    // (the corpus is doc_id % 10 >= 2 however it was delivered).
    // DedupIndexSpec asserts the layout claim itself (fewer files,
    // equal rows, source untouched).
    Q("dedup_index_compact",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val db = dedupIdxDb(s, d)
        val src = s"$db.cmpsrc"
        val dst = s"$db.cmpdst"
        bandIndexMemo(dst) {
          val m10 = col("doc_id") % 10
          graft.api.Dedup.writeBandIndex(
            docs.filter(m10.isin(2, 3, 4)), "doc_id", "text", src, K, BANDS)
          Seq(Seq(5, 6), Seq(7, 8), Seq(9)).foreach(del =>
            graft.api.Dedup.appendToBandIndex(
              docs.filter(m10.isin(del: _*)), "doc_id", "text", src, K, BANDS))
          graft.api.Dedup.compactBandIndex(s, src, dst)
        }
        bandIndexAudit(s, dst)
      },
      Some(SQL_BAND_AUDIT)),

    // Band-index DRIFT audit (the dedup twin of ann_index_drift,
    // making the two persisted-index lifecycles symmetric: build →
    // serve → append → compact → DRIFT): per band, the standing
    // corpus index's bucket census (bucket count, rows, max bucket —
    // skew says some buckets absorb most candidate traffic) next to
    // the INCOMING batch's collision profile against it (rows landing
    // in an existing corpus bucket, hit rate). A rising hit rate or a
    // growing max bucket is the re-banding / re-hashing signal, read
    // BEFORE committing a delivery — exactly what ivfIndexDrift's
    // fill/drift is for cells. The batch probes the BUCKETED artifact
    // with a (band, bhash) semi-join: at corpus scale the bucketed
    // scan feeds the join with no corpus-side Exchange; at fixture
    // scale the optimizer rightly broadcasts the small corpus instead
    // (size-driven, both shapes correct — PlanAuditSpec pins the
    // bucketed scan). All outputs are exact integers + one rounded
    // ratio, mirrored from the first-principles banding derivation.
    Q("dedup_index_drift",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cb = s.table(s"${corpusIndex(s, d)}_bands")
        val corpusStats = cb.groupBy("band", "bhash")
          .agg(count(lit(1)).as("sz"))
          .groupBy("band")
          .agg(count(lit(1)).as("n_buckets"), sum("sz").as("n_rows"),
            max("sz").as("max_bucket"))
        val batch = graft.api.Dedup.lshBanded(
          docs.filter(col("doc_id") % 10 < 2), "doc_id", "text", K, BANDS)
          .localCheckpoint(eager = false) // consumed by both aggregates below
        val batchStats = batch.groupBy("band")
          .agg(count(lit(1)).as("n_batch_rows"))
        val hitStats = batch
          .join(cb.select(col("band"), col("bhash")),
            Seq("band", "bhash"), "left_semi")
          .groupBy("band").agg(count(lit(1)).as("n_batch_hits"))
        corpusStats.join(batchStats, "band")
          .join(hitStats, Seq("band"), "left")
          .select(col("band"), col("n_buckets"), col("n_rows"),
            col("max_bucket"), col("n_batch_rows"),
            coalesce(col("n_batch_hits"), lit(0L)).as("n_batch_hits"),
            round(coalesce(col("n_batch_hits"), lit(0L)).cast("double")
              / col("n_batch_rows"), 4).as("hit_rate"))
          .orderBy("band")
      },
      Some(s"""WITH banded AS ($SQL_BANDED),
              |cbd AS (SELECT * FROM banded WHERE doc_id % 10 >= 2),
              |nbd AS (SELECT * FROM banded WHERE doc_id % 10 < 2),
              |bk AS (
              |  SELECT band, bhash, CAST(COUNT(*) AS BIGINT) AS sz
              |  FROM cbd GROUP BY 1, 2),
              |cs AS (
              |  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_buckets,
              |    CAST(SUM(sz) AS BIGINT) AS n_rows,
              |    CAST(MAX(sz) AS BIGINT) AS max_bucket
              |  FROM bk GROUP BY band),
              |bs AS (
              |  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_batch_rows
              |  FROM nbd GROUP BY band),
              |hs AS (
              |  SELECT n.band, CAST(COUNT(*) AS BIGINT) AS n_batch_hits
              |  FROM nbd n JOIN (SELECT DISTINCT band, bhash FROM cbd) c
              |    USING (band, bhash)
              |  GROUP BY n.band)
              |SELECT cs.band, n_buckets, n_rows, max_bucket, n_batch_rows,
              |  COALESCE(n_batch_hits, 0) AS n_batch_hits,
              |  ROUND(CAST(COALESCE(n_batch_hits, 0) AS DOUBLE)
              |    / n_batch_rows, 4) AS hit_rate
              |FROM cs JOIN bs USING (band) LEFT JOIN hs ON cs.band = hs.band
              |ORDER BY band""".stripMargin)),

    // Band-index RETRAIN (r15, verdict Next #3 — the decision
    // dedup_index_drift informs, EXECUTED, the band twin of
    // ann_index_retrain): Dedup.retrainBandIndex re-derives the banding
    // at adjusted (k, bands) — here BANDS 4 → 2, i.e. rows-per-band
    // 4 → 8, the tightening a census full of mega-buckets calls for
    // (collision probability per band falls from j⁴ to j⁸) — and
    // rewrites a fresh artifact FROM THE STANDING ARTIFACT alone: the
    // _sets half already stores every doc's distinct shingle hashes,
    // which is the whole input the minhash chain needs, so no source
    // re-scan/re-tokenize/re-md5 at any corpus size. Declared result =
    // per band the drift census BEFORE (4-band artifact probed by the
    // 4-banded batch) next to AFTER (2-band artifact probed by the
    // 2-banded batch), full-outer on band (the after columns are null
    // for bands 2-3 — the retrained index has fewer, stricter bands).
    // Oracle = the first-principles banding derivation at BOTH
    // parameter sets over ONE materialized signature table.
    // DedupIndexSpec pins post-retrain max_bucket < pre-retrain on a
    // skew-injected near-dup fixture.
    Q("dedup_index_retrain",
      (s, d) => {
        val BANDS2 = 2
        val docs = Tables.documents(s, d)
        val corpus = corpusIndex(s, d)
        val retr = s"${dedupIdxDb(s, d)}.retr"
        bandIndexMemo(retr) {
          graft.api.Dedup.retrainBandIndex(s, corpus, retr, K, BANDS2)
        }
        def census(table: String, batchBands: Int): DataFrame = {
          val cb = s.table(s"${table}_bands")
          val cs = cb.groupBy("band", "bhash").agg(count(lit(1)).as("sz"))
            .groupBy("band")
            .agg(count(lit(1)).as("n_buckets"), sum("sz").as("n_rows"),
              max("sz").as("max_bucket"))
          val batch = graft.api.Dedup.lshBanded(
            docs.filter(col("doc_id") % 10 < 2), "doc_id", "text",
            K, batchBands)
          val bs = batch.groupBy("band")
            .agg(count(lit(1)).as("n_batch_rows"))
          val hs = batch
            .join(cb.select(col("band"), col("bhash")),
              Seq("band", "bhash"), "left_semi")
            .groupBy("band").agg(count(lit(1)).as("n_batch_hits"))
          cs.join(bs, "band").join(hs, Seq("band"), "left")
            .select(col("band"), col("n_buckets"), col("n_rows"),
              col("max_bucket"),
              coalesce(col("n_batch_hits"), lit(0L)).as("hits"),
              round(coalesce(col("n_batch_hits"), lit(0L)).cast("double")
                / col("n_batch_rows"), 4).as("hit_rate"))
        }
        val before = census(corpus, BANDS)
          .select(col("band"), col("n_buckets").as("nb_before"),
            col("n_rows").as("rows_before"),
            col("max_bucket").as("maxb_before"),
            col("hits").as("hits_before"),
            col("hit_rate").as("hitrate_before"))
        val after = census(retr, BANDS2)
          .select(col("band"), col("n_buckets").as("nb_after"),
            col("n_rows").as("rows_after"),
            col("max_bucket").as("maxb_after"),
            col("hits").as("hits_after"),
            col("hit_rate").as("hitrate_after"))
        before.join(after, Seq("band"), "full_outer").orderBy("band")
      },
      Some {
        val BANDS2 = 2
        def half(n: Int, cte: String, tag: String): String =
          s"""bk$n AS (
             |  SELECT band, bhash, CAST(COUNT(*) AS BIGINT) AS sz
             |  FROM cb$n GROUP BY 1, 2),
             |cs$n AS (
             |  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_buckets,
             |    CAST(SUM(sz) AS BIGINT) AS n_rows,
             |    CAST(MAX(sz) AS BIGINT) AS max_bucket
             |  FROM bk$n GROUP BY band),
             |bs$n AS (
             |  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_batch_rows
             |  FROM nb$n GROUP BY band),
             |hs$n AS (
             |  SELECT n.band, CAST(COUNT(*) AS BIGINT) AS n_hits
             |  FROM nb$n n JOIN (SELECT DISTINCT band, bhash FROM cb$n) c
             |    USING (band, bhash)
             |  GROUP BY n.band),
             |$cte AS (
             |  SELECT cs$n.band,
             |    n_buckets AS nb_$tag, n_rows AS rows_$tag,
             |    max_bucket AS maxb_$tag,
             |    COALESCE(n_hits, 0) AS hits_$tag,
             |    ROUND(CAST(COALESCE(n_hits, 0) AS DOUBLE)
             |      / n_batch_rows, 4) AS hitrate_$tag
             |  FROM cs$n JOIN bs$n USING (band)
             |  LEFT JOIN hs$n ON cs$n.band = hs$n.band)""".stripMargin
        s"""WITH sigs AS MATERIALIZED (${sqlSigsP(K)}),
           |b1 AS MATERIALIZED (${sqlBandedP(K, BANDS, "sigs")}),
           |b2 AS MATERIALIZED (${sqlBandedP(K, BANDS2, "sigs")}),
           |cb1 AS (SELECT * FROM b1 WHERE doc_id % 10 >= 2),
           |nb1 AS (SELECT * FROM b1 WHERE doc_id % 10 < 2),
           |cb2 AS (SELECT * FROM b2 WHERE doc_id % 10 >= 2),
           |nb2 AS (SELECT * FROM b2 WHERE doc_id % 10 < 2),
           |${half(1, "befc", "before")},
           |${half(2, "aftc", "after")}
           |SELECT COALESCE(b.band, a.band) AS band,
           |  nb_before, rows_before, maxb_before, hits_before,
           |  hitrate_before, nb_after, rows_after, maxb_after,
           |  hits_after, hitrate_after
           |FROM befc b FULL JOIN aftc a ON b.band = a.band
           |ORDER BY band""".stripMargin
      }),

    // Exact shingle-set Jaccard for LSH candidates only (the verify
    // step touches |candidates| pairs, not n²; same shingle unit the
    // signatures estimate). Integer set sizes + one division →
    // deterministic doubles.
    Q("llm_jaccard_verify",
      (s, d) => graft.api.Dedup
        .jaccardVerify(Tables.documents(s, d), "doc_id", "text", 0.6, K, BANDS)
        .orderBy("doc_a", "doc_b"),
      Some(s"$SQL_JACCARD ORDER BY doc_a, doc_b")),

    // LSH band tuning, MEASURED: for every (bands, rows) split of the
    // K=16 signature, count candidate pairs and verified dups, report
    // precision, recall vs the finest split, and the analytic
    // s-curve capture probability 1-(1-s^r)^b at s=0.6 next to the
    // measured numbers. Candidate sets are provably NESTED here
    // (a match on a 2r-row band implies both r-row halves match ⇒
    // fewer bands ⊆ more bands), so recall_vs_finest is exact, not
    // sampled twice. The shingle pass is shared across settings via
    // the memoized Dedup.sketch; everything downstream is
    // signature-sized. (At 100 TB you tune on a deterministic sample
    // first — the query is shape-identical under any doc_id filter; at
    // fixture scale the full corpus is the interesting measurement:
    // bands=2 MISSES dups the finer splits find, bands=8 admits false
    // candidates the verify stage rejects — the s-curve, observed.)
    Q("llm_lsh_band_tuning", {
      val SETTINGS = Seq(2, 4, 8)
      val analytic: Map[Int, Double] = SETTINGS.map(b =>
        b -> (1.0 - math.pow(1.0 - math.pow(0.6, K / b), b))).toMap
      (s, d) => {
        val stats = SETTINGS.map { b =>
          graft.api.Dedup
            .jaccardVerify(Tables.documents(s, d), "doc_id", "text", 0.6, K, b)
            .agg(count(lit(1)).as("n_candidates"),
              sum(when(col("is_near_dup"), 1L).otherwise(0L)).as("n_dups"))
            .select(lit(b.toLong).as("bands"),
              lit((K / b).toLong).as("rows_per_band"),
              col("n_candidates"), col("n_dups"))
        }
        val all = stats.reduce(_.unionByName(_))
        val best = all.filter(col("bands") === SETTINGS.max)
          .select(col("n_dups").as("best_dups"))
        val pCol = SETTINGS.foldLeft(lit(0.0)) { (acc, b) =>
          when(col("bands") === b.toLong,
            expr(s"CAST('${analytic(b)}' AS DOUBLE)")).otherwise(acc)
        }
        all.crossJoin(broadcast(best))
          .withColumn("p_capture_analytic", round(pCol, 4))
          .selectExpr("bands", "rows_per_band", "n_candidates", "n_dups",
            "round(CAST(n_dups AS DOUBLE) / nullif(n_candidates, 0), 4) AS candidate_precision",
            "round(CAST(n_dups AS DOUBLE) / nullif(best_dups, 0), 4) AS recall_vs_finest",
            "p_capture_analytic")
          .orderBy("bands")
      }
    },
      Some {
        val seeds = graft.api.Dedup.minhashSeeds(K)
        val analytic: Map[Int, Double] = Seq(2, 4, 8).map(b =>
          b -> (1.0 - math.pow(1.0 - math.pow(0.6, K / b), b))).toMap
        val sigsSel = (0 until K).map(i =>
          s"MIN(xor(h, CAST(${seeds(i)} AS BIGINT))) AS sig_$i").mkString(", ")
        def bandCtes(b: Int): String = {
          val bandList = (0 until b)
            .map(bb => "md5(concat_ws('|', " + (0 until K / b)
              .map(r => s"CAST(sig_${bb * (K / b) + r} AS VARCHAR)").mkString(", ") + "))")
            .mkString("[", ", ", "]")
          s"""bd$b AS (
             |  SELECT doc_id, CAST(generate_subscripts(bl, 1) - 1 AS INT) AS band,
             |    unnest(bl) AS bhash
             |  FROM (SELECT doc_id, $bandList AS bl FROM sigs)),
             |cand$b AS (
             |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM bd$b a JOIN bd$b b
             |    ON a.band = b.band AND a.bhash = b.bhash
             |   AND a.doc_id < b.doc_id),
             |st$b AS (
             |  SELECT CAST($b AS BIGINT) AS bands,
             |    CAST(${K / b} AS BIGINT) AS rows_per_band,
             |    COUNT(*) AS n_candidates,
             |    CAST(SUM(CASE WHEN CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
             |      / (len(sa.toks) + len(sb.toks) - len(list_intersect(sa.toks, sb.toks)))
             |      >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
             |  FROM cand$b c
             |  JOIN sets sa ON c.doc_a = sa.doc_id
             |  JOIN sets sb ON c.doc_b = sb.doc_id)""".stripMargin
        }
        val pCase = Seq(2, 4, 8)
          .map(b => s"WHEN bands = $b THEN CAST('${analytic(b)}' AS DOUBLE)")
          .mkString("CASE ", " ", " ELSE 0.0 END")
        s"""WITH toks AS (
           |  SELECT doc_id, $SQL_TOKENIZE AS t FROM documents),
           |sh AS (
           |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(t)-2, 1)),
           |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS token
           |  FROM toks),
           |hs AS (SELECT doc_id, ${SQL_HEX15("md5(token)")} AS h FROM sh),
           |sets AS (SELECT doc_id, list(DISTINCT h) AS toks FROM hs GROUP BY doc_id),
           |sigs AS (SELECT doc_id, $sigsSel FROM hs GROUP BY doc_id),
           |${Seq(2, 4, 8).map(bandCtes).mkString(",\n")},
           |allst AS (SELECT * FROM st2 UNION ALL SELECT * FROM st4
           |          UNION ALL SELECT * FROM st8),
           |best AS (SELECT n_dups AS best_dups FROM st8)
           |SELECT bands, rows_per_band, n_candidates, n_dups,
           |  ROUND(CAST(n_dups AS DOUBLE) / nullif(n_candidates, 0), 4)
           |    AS candidate_precision,
           |  ROUND(CAST(n_dups AS DOUBLE) / nullif(best_dups, 0), 4)
           |    AS recall_vs_finest,
           |  ROUND($pCase, 4) AS p_capture_analytic
           |FROM allst, best ORDER BY bands""".stripMargin
      }),

    // The end-to-end training-data dedup deliverable: the CLEANED
    // corpus after exact dedup (keep min doc per content hash) and
    // greedy near-dup removal (drop doc_b of every verified pair).
    Q("llm_dedup_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val kept = graft.api.Dedup.exactKeep(docs, "doc_id", "text")
        val nearDupLosers = graft.api.Dedup
          .jaccardVerify(docs, "doc_id", "text", 0.6, K, BANDS)
          .filter(col("is_near_dup"))
          .select(col("doc_b"))
        kept.join(nearDupLosers, col("doc_id") === col("doc_b"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy("doc_id")
      },
      Some(s"""WITH kept AS (
              |  SELECT doc_id, lang, source FROM (
              |    SELECT doc_id, lang, source,
              |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              |    FROM documents) t WHERE rn = 1),
              |losers AS (SELECT DISTINCT doc_b FROM ($SQL_JACCARD) WHERE is_near_dup)
              |SELECT doc_id, lang, source FROM kept
              |WHERE NOT EXISTS (SELECT 1 FROM losers WHERE doc_b = doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // Per-SOURCE dedup health — the curation dashboard view that tells
    // you WHICH feed is polluting the corpus (a scraped mirror shows up
    // here long before a global dup rate moves): per source, exact-dup
    // mass (non-canonical members of md5 groups) and near-dup loser
    // mass (doc_b of verified pairs), plus the clean share. Reuses the
    // exact-group and LSH-verify chains (shared Dedup.sketch); the
    // per-source rollup is one broadcastable join + one aggregate on
    // top of work the pipeline already does.
    Q("llm_dedup_rate_by_source",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val exactLosers = graft.api.Dedup
          .exactGroups(docs, "doc_id", "text")
          .filter(col("n_docs") > 1)
          .join(docs.select(col("doc_id"), md5(col("text")).as("md5_hex")),
            Seq("md5_hex"))
          .filter(col("doc_id") =!= col("keep_doc_id"))
          .select(col("doc_id"))
        val nearLosers = graft.api.Dedup
          .jaccardVerify(docs, "doc_id", "text", 0.6, K, BANDS)
          .filter(col("is_near_dup"))
          .select(col("doc_b").as("doc_id")).distinct()
        docs.select(col("doc_id"), col("source"))
          .join(exactLosers.withColumn("__e", lit(1L)), Seq("doc_id"), "left")
          .join(nearLosers.withColumn("__n", lit(1L)), Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("__e"), lit(0L))).as("n_exact_dups"),
            sum(coalesce(col("__n"), lit(0L))).as("n_near_dup_losers"),
            sum(when(col("__e").isNull && col("__n").isNull, 1L)
              .otherwise(0L)).as("n_clean"))
          .withColumn("clean_share",
            round(col("n_clean").cast("double") / col("n_docs"), 4))
          .orderBy("source")
      },
      Some(s"""WITH ex AS (
              |  SELECT doc_id FROM (
              |    SELECT doc_id,
              |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
              |      COUNT(*) OVER (PARTITION BY md5(text)) AS n
              |    FROM documents) t
              |  WHERE n > 1 AND rn > 1),
              |nl AS (SELECT DISTINCT doc_b AS doc_id
              |       FROM ($SQL_JACCARD) WHERE is_near_dup)
              |SELECT d.source, COUNT(*) AS n_docs,
              |  CAST(SUM(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_exact_dups,
              |  CAST(SUM(CASE WHEN nl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_near_dup_losers,
              |  CAST(SUM(CASE WHEN ex.doc_id IS NULL AND nl.doc_id IS NULL
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
              |  ROUND(CAST(SUM(CASE WHEN ex.doc_id IS NULL AND nl.doc_id IS NULL
              |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS clean_share
              |FROM documents d
              |LEFT JOIN ex ON d.doc_id = ex.doc_id
              |LEFT JOIN nl ON d.doc_id = nl.doc_id
              |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // Connected components over the near-dup graph (iterative
    // min-label propagation; DuckDB cross-checks with a recursive CTE
    // reaching the same fixpoint).
    Q("llm_neardup_components",
      (s, d) => graft.api.Dedup
        .nearDupComponents(Tables.documents(s, d), "doc_id", "text", 0.6, K, BANDS)
        .orderBy("doc"),
      Some(s"""WITH RECURSIVE
              |jac AS ($SQL_JACCARD),
              |edges AS (
              |  SELECT doc_a AS u, doc_b AS v FROM jac WHERE is_near_dup
              |  UNION ALL
              |  SELECT doc_b AS u, doc_a AS v FROM jac WHERE is_near_dup),
              |reach(doc, lab) AS (
              |  SELECT DISTINCT u, u FROM edges
              |  UNION
              |  SELECT e.v, r.lab FROM reach r JOIN edges e ON r.doc = e.u)
              |SELECT doc, MIN(lab) AS comp FROM reach GROUP BY doc
              |ORDER BY doc""".stripMargin)),

    // Near-dup cluster PROVENANCE: within each multi-doc near-dup
    // component, is the duplication re-crawl (one source) or
    // syndication (many sources)? Reports per component size, source
    // diversity, the dominant source (exact (n DESC, source) order)
    // and its share — the curation decision input: re-crawl clusters
    // dedup freely, syndication clusters may need source-weighted
    // keep rules. One join of the component labels (the shared LSH
    // device) back to doc metadata + two component-keyed aggregates;
    // components are cluster-bounded, never corpus-wide.
    Q("llm_dupcluster_sources",
      (s, d) => {
        val comp = graft.api.Dedup
          .nearDupComponents(Tables.documents(s, d), "doc_id", "text",
            0.6, K, BANDS)
        val meta = Tables.documents(s, d).select(col("doc_id"),
          col("source"))
        val bySrc = comp.join(meta, comp("doc") === meta("doc_id"))
          .groupBy("comp", "source").agg(count(lit(1)).as("n"))
        val wTop = Window.partitionBy("comp")
          .orderBy(col("n").desc, col("source"))
        val top = bySrc.withColumn("rk", row_number().over(wTop))
          .filter(col("rk") === 1)
          .select(col("comp"), col("source").as("top_source"),
            col("n").as("top_n"))
        bySrc.groupBy("comp")
          .agg(sum("n").cast("long").as("n_docs"),
            count(lit(1)).as("n_sources"))
          .filter(col("n_docs") > 1)
          .join(top, "comp")
          .select(col("comp"), col("n_docs"), col("n_sources"),
            col("top_source"),
            round(col("top_n").cast("double") /
              col("n_docs").cast("double"), 4).as("top_share"))
          .orderBy("comp")
      },
      Some(s"""WITH RECURSIVE
              |jac AS ($SQL_JACCARD),
              |edges AS (
              |  SELECT doc_a AS u, doc_b AS v FROM jac WHERE is_near_dup
              |  UNION ALL
              |  SELECT doc_b AS u, doc_a AS v FROM jac WHERE is_near_dup),
              |reach(doc, lab) AS (
              |  SELECT DISTINCT u, u FROM edges
              |  UNION
              |  SELECT e.v, r.lab FROM reach r JOIN edges e ON r.doc = e.u),
              |lbl AS (SELECT doc, MIN(lab) AS comp FROM reach GROUP BY doc),
              |bysrc AS (
              |  SELECT comp, source, COUNT(*) AS n
              |  FROM lbl JOIN documents ON doc = doc_id
              |  GROUP BY comp, source),
              |top AS (
              |  SELECT comp, source AS top_source, n AS top_n
              |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY comp
              |      ORDER BY n DESC, source) AS rk FROM bysrc) x
              |  WHERE rk = 1),
              |agg AS (
              |  SELECT comp, CAST(SUM(n) AS BIGINT) AS n_docs,
              |    CAST(COUNT(*) AS BIGINT) AS n_sources
              |  FROM bysrc GROUP BY comp)
              |SELECT agg.comp, n_docs, n_sources, top_source,
              |  ROUND(CAST(top_n AS DOUBLE) / CAST(n_docs AS DOUBLE), 4)
              |    AS top_share
              |FROM agg JOIN top ON top.comp = agg.comp
              |WHERE n_docs > 1
              |ORDER BY agg.comp""".stripMargin)),

    // Keep-best near-dup collapse: every doc labeled with its near-dup
    // component (singletons keep themselves), each component keeps its
    // LONGEST member (ties → lowest id) — the keep-longest curation
    // rule, with the full audit trail (comp, n_tokens, kept) per doc.
    Q("llm_dedup_keep_best",
      (s, d) => graft.api.Dedup
        .keepBestPerComponent(Tables.documents(s, d), "doc_id", "text",
          0.6, K, BANDS)
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE
              |jac AS ($SQL_JACCARD),
              |edges AS (
              |  SELECT doc_a AS u, doc_b AS v FROM jac WHERE is_near_dup
              |  UNION ALL
              |  SELECT doc_b AS u, doc_a AS v FROM jac WHERE is_near_dup),
              |reach(doc, lab) AS (
              |  SELECT DISTINCT u, u FROM edges
              |  UNION
              |  SELECT e.v, r.lab FROM reach r JOIN edges e ON r.doc = e.u),
              |comps AS (SELECT doc, MIN(lab) AS comp FROM reach GROUP BY doc),
              |scored AS (
              |  SELECT doc_id, CAST(len($SQL_TOKENIZE) AS BIGINT) AS n_tokens
              |  FROM documents)
              |SELECT doc_id, comp, n_tokens, rn = 1 AS kept FROM (
              |  SELECT s.doc_id, COALESCE(c.comp, s.doc_id) AS comp, s.n_tokens,
              |    ROW_NUMBER() OVER (PARTITION BY COALESCE(c.comp, s.doc_id)
              |      ORDER BY s.n_tokens DESC, s.doc_id) AS rn
              |  FROM scored s LEFT JOIN comps c ON s.doc_id = c.doc) t
              |ORDER BY doc_id""".stripMargin)),

    // Brute-force cosine top-k for ONE query vector — the correctness
    // baseline for ANN. Broadcast of the single query row; ranking on
    // the raw double, rounded only for output.
    Q("llm_cosine_topk",
      (s, d) => graft.api.Similarity
        .bruteForceTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          queryId = 0, topK = 10)
        .select(col("vec_id"), round(col("cos_sim"), 4).as("cos_sim")),
      Some(s"""SELECT vec_id, ROUND(sim_raw, 4) AS cos_sim FROM (
              |  SELECT a.vec_id,
              |    ${SQL_DOT("a.v", "b.qv")} / (a.nrm * b.qnrm) AS sim_raw
              |  FROM (SELECT vec_id, v, nrm FROM ($SQL_VECS) WHERE vec_id <> 0) a,
              |       (SELECT v AS qv, nrm AS qnrm FROM ($SQL_VECS) WHERE vec_id = 0) b)
              |ORDER BY sim_raw DESC, vec_id LIMIT 10""".stripMargin)),

    // kNN with label blocking: the quadratic term is bounded per label
    // partition (n/L)² — the standard blocked-similarity layout; the
    // pair stream feeds a per-vector top-k window, no global sort.
    Q("llm_knn_per_label",
      (s, d) => graft.api.Similarity
        .knnPerLabel(Tables.embeddings(s, d), "vec_id", "embedding", "label",
          topK = 3)
        .select(col("vec_id"), col("rn").cast("long").as("rn"), col("label"),
          col("nbr_id"), round(col("cos_sim"), 4).as("cos_sim"))
        .orderBy("vec_id", "rn"),
      Some(s"""SELECT vec_id, rn, label, nbr_id, ROUND(sim_raw, 4) AS cos_sim FROM (
              |  SELECT a.vec_id, a.label, b.vec_id AS nbr_id,
              |    ${SQL_DOT("a.v", "b.v")} / (a.nrm * b.nrm) AS sim_raw,
              |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY ${SQL_DOT("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) AS rn
              |  FROM ($SQL_VECS) a
              |  JOIN ($SQL_VECS) b
              |    ON a.label = b.label AND a.vec_id <> b.vec_id) t
              |WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin)),

    // tf-idf: two linear agg passes over the exploded token stream +
    // a broadcast-sized per-lang top-k. Ranking uses the ROUNDED score
    // so cross-engine ulp differences in ln() can't reorder ties.
    Q("llm_tfidf_top_terms",
      (s, d) => graft.api.TextMetrics
        .tfIdfTopTerms(Tables.documents(s, d), "doc_id", "text", "lang", topN = 5)
        .orderBy("lang", "rn"),
      Some(s"""WITH tok AS ($SQL_TOKENS),
              |tf AS (
              |  SELECT lang, token, COUNT(*) AS tf
              |  FROM tok JOIN documents USING (doc_id) GROUP BY lang, token),
              |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
              |scored AS (
              |  SELECT lang, token, tf, df,
              |    ROUND(tf * ln((SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) / df), 4) AS score
              |  FROM tf JOIN df USING (token))
              |SELECT lang, rn, token, tf, df, score FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, token) AS rn
              |  FROM scored) t
              |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin)),

    Q("llm_lang_stats",
      (s, d) => Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"),
          round(lit(1.0) -
            countDistinct(md5(col("text"))).cast("double") / count(lit(1)), 4)
            .as("dup_rate"))
        .orderBy("lang"),
      Some("""SELECT lang, COUNT(*) AS n_docs,
             |ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars,
             |ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*), 4) AS dup_rate
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Multimodal row assembly: text cols ⋈ vector cols by id; the
    // output keeps hashable scalars (SURVEY §2.K) — internally the
    // struct() form is what a pipeline would carry.
    Q("llm_multimodal_join",
      (s, d) => Tables.documents(s, d)
        .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("label"),
          size(TextUdfs.tokenizeCol(col("text"))).cast("long").as("n_tokens"),
          round(sqrt(aggregate(
            transform(col("embedding"), x => x.cast("double") * x.cast("double")),
            lit(0.0), (acc, x) => acc + x)), 4).as("l2_norm"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang, label,
              |CAST(len($SQL_TOKENIZE) AS BIGINT) AS n_tokens,
              |ROUND(sqrt(list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))), 4) AS l2_norm
              |FROM documents JOIN embeddings ON doc_id = vec_id
              |ORDER BY doc_id""".stripMargin)),

    // ROUGE-2 overlap scoring of the LSH candidate pairs — the
    // summarization-style n-gram metric applied where a curation
    // pipeline actually uses it: quantifying HOW MUCH two near-dup
    // candidates overlap (Jaccard says "related"; clipped-bigram
    // ROUGE says "how much of b is reproduced in a"). Clipped overlap
    // Σ_g min(count_a(g), count_b(g)) is exact integer arithmetic from
    // per-(doc, bigram) count tables; precision (vs a), recall (vs b)
    // and F1 drop to double only behind ROUND(…,4). Scale shape: the
    // bigram-count table is corpus-linear and the per-gram join is
    // candidate-pair-bounded — the all-pairs stage never exists (the
    // pairs come from banded LSH), so cost is |pairs|·|grams per doc|.
    Q("llm_rouge2_pairs",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select(col("doc_id"), TextUdfs.tokenizeCol(col("text")).as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
            .as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        val totals = grams.groupBy("doc_id").agg(sum("c").as("tot"))
        val pairs = graft.api.Dedup
          .lshCandidatePairs(Tables.documents(s, d), "doc_id", "text", K, BANDS)
        val overlap = pairs
          .join(grams.select(col("doc_id").as("doc_a"), col("g"),
            col("c").as("ca")), Seq("doc_a"))
          .join(grams.select(col("doc_id").as("doc_b"), col("g"),
            col("c").as("cb")), Seq("doc_b", "g"))
          .groupBy("doc_a", "doc_b")
          .agg(sum(least(col("ca"), col("cb"))).as("ov"))
        pairs
          .join(overlap, Seq("doc_a", "doc_b"), "left")
          .join(totals.select(col("doc_id").as("doc_a"),
            col("tot").as("tot_a")), Seq("doc_a"))
          .join(totals.select(col("doc_id").as("doc_b"),
            col("tot").as("tot_b")), Seq("doc_b"))
          .withColumn("ov", coalesce(col("ov"), lit(0L)))
          .select(col("doc_a"), col("doc_b"),
            col("ov").as("n_overlap_bigrams"),
            round(col("ov").cast("double") / col("tot_a").cast("double"), 4)
              .as("rouge2_precision"),
            round(col("ov").cast("double") / col("tot_b").cast("double"), 4)
              .as("rouge2_recall"),
            round(when(col("ov") === 0, lit(0.0)).otherwise(
              lit(2.0) * col("ov").cast("double") /
                (col("tot_a") + col("tot_b")).cast("double")), 4)
              .as("rouge2_f1"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH grams AS (
              |  SELECT doc_id, g, COUNT(*) AS c FROM (
              |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
              |      i -> t[i] || ' ' || t[i+1])) AS g
              |    FROM (SELECT doc_id, $SQL_TOKENIZE AS t FROM documents)
              |    WHERE len(t) >= 2)
              |  GROUP BY doc_id, g),
              |totals AS (SELECT doc_id, SUM(c) AS tot FROM grams GROUP BY doc_id),
              |pairs AS ($SQL_PAIRS),
              |ov AS (
              |  SELECT p.doc_a, p.doc_b, SUM(LEAST(ga.c, gb.c)) AS ov
              |  FROM pairs p
              |  JOIN grams ga ON ga.doc_id = p.doc_a
              |  JOIN grams gb ON gb.doc_id = p.doc_b AND gb.g = ga.g
              |  GROUP BY p.doc_a, p.doc_b)
              |SELECT p.doc_a, p.doc_b,
              |  CAST(COALESCE(o.ov, 0) AS BIGINT) AS n_overlap_bigrams,
              |  ROUND(CAST(COALESCE(o.ov, 0) AS DOUBLE) / CAST(ta.tot AS DOUBLE), 4)
              |    AS rouge2_precision,
              |  ROUND(CAST(COALESCE(o.ov, 0) AS DOUBLE) / CAST(tb.tot AS DOUBLE), 4)
              |    AS rouge2_recall,
              |  ROUND(CASE WHEN COALESCE(o.ov, 0) = 0 THEN 0.0
              |    ELSE 2.0 * CAST(o.ov AS DOUBLE)
              |      / CAST(ta.tot + tb.tot AS DOUBLE) END, 4) AS rouge2_f1
              |FROM pairs p
              |LEFT JOIN ov o ON p.doc_a = o.doc_a AND p.doc_b = o.doc_b
              |JOIN totals ta ON ta.doc_id = p.doc_a
              |JOIN totals tb ON tb.doc_id = p.doc_b
              |ORDER BY p.doc_a, p.doc_b""".stripMargin)),

    // Inverted index construction — the search-engine/retrieval
    // primitive: token → (df, total tf, head of the sorted posting
    // list). The posting-list HEAD is computed scale-safely: a
    // row_number window over the per-(token, doc) table keeps only the
    // 10 smallest doc_ids per token BEFORE any list materializes, so
    // per-group state is bounded even for stopword-grade tokens whose
    // full posting lists are corpus-sized (the classic inverted-index
    // hot-key). df ≥ 5 prunes hapax noise. Serialized as a CSV string
    // (the round-2 array-hashability device).
    Q("llm_inverted_index",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(TextUdfs.tokenizeCol(col("text"))).as("token"))
        val pd = tok.groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
        val stats = pd.groupBy("token")
          .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
        val w = Window.partitionBy("token").orderBy("doc_id")
        val head = pd.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .groupBy("token")
          .agg(concat_ws(",", transform(
            sort_array(collect_list(col("doc_id"))),
            x => x.cast("string"))).as("postings_head"))
        stats.join(head, "token")
          .filter(col("df") >= 5)
          .select(col("token"), col("df"), col("total_tf"),
            col("postings_head"))
          .orderBy("token")
      },
      Some(s"""WITH tok AS ($SQL_TOKENS),
              |pd AS (
              |  SELECT token, doc_id, COUNT(*) AS tf
              |  FROM tok GROUP BY 1, 2)
              |SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
              |  array_to_string(list_transform(list_sort(list(doc_id))[1:10],
              |    e -> CAST(e AS VARCHAR)), ',') AS postings_head
              |FROM pd GROUP BY token HAVING COUNT(*) >= 5
              |ORDER BY token""".stripMargin)),

    // BM25 ranking (k1=1.2, b=0.75) of a fixed 3-term query — the
    // retrieval scorer the inverted index exists to serve. Every input
    // to the closed form is an integer aggregate (tf, df, dl, N, Σdl);
    // the per-(doc, term) score is pure scalar double math and the
    // per-doc Σ has ≤3 terms (the stat_entropy adjudication), ranked
    // by the ROUNDED score with doc_id tie-break (the tfidf device) so
    // ulp noise can't reorder the top-20. Scale shape: term postings
    // are corpus-linear ONLY for the queried terms (the filter comes
    // before the groupBy), dl/stats are one linear pass, the final
    // top-k is TakeOrdered — no global sort.
    Q("llm_bm25_topk",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(TextUdfs.tokenizeCol(col("text"))).as("token"))
        val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val st = dl.agg(count(lit(1)).as("n"), sum("dl").as("sumdl"))
        val tf = tok.filter(col("token").isin("spark", "query", "window"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
        tf.join(broadcast(df), "token")
          .join(dl, "doc_id")
          .crossJoin(broadcast(st))
          .withColumn("term_s",
            log((col("n").cast("double") - col("df") + 0.5) /
              (col("df") + 0.5) + 1.0) *
              (col("tf").cast("double") * 2.2) /
              (col("tf").cast("double") + lit(1.2) *
                (lit(0.25) + lit(0.75) * col("dl").cast("double") *
                  col("n") / col("sumdl"))))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_terms"),
            round(sum("term_s"), 4).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH tok AS ($SQL_TOKENS),
              |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
              |st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl
              |  FROM dl),
              |tf AS (
              |  SELECT doc_id, token, COUNT(*) AS tf FROM tok
              |  WHERE token IN ('spark', 'query', 'window') GROUP BY 1, 2),
              |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
              |sc AS (
              |  SELECT tf.doc_id, COUNT(*) AS n_terms,
              |    SUM(ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
              |      * (CAST(tf AS DOUBLE) * 2.2)
              |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25
              |        + 0.75 * CAST(dl.dl AS DOUBLE) * n / sumdl))) AS s
              |  FROM tf JOIN df USING (token)
              |  JOIN dl ON tf.doc_id = dl.doc_id, st
              |  GROUP BY tf.doc_id)
              |SELECT doc_id, n_terms, ROUND(s, 4) AS bm25 FROM sc
              |ORDER BY ROUND(s, 4) DESC, doc_id LIMIT 20""".stripMargin)),

    // Reciprocal-rank fusion — the standard HYBRID retrieval merge
    // (Cormack/Clarke/Büttcher 2009): the lexical bm25 top-20 (same
    // scoring chain and term set as llm_bm25_topk) fused with the
    // dense cosine top-20 against query vector 0 (llm_cosine_topk's
    // retriever), RRF = Σ 1/(60 + rank) over the lists containing the
    // doc. Both rank lists are distributed top-k (TakeOrdered — no
    // global window over the corpus; the 20-row rank stamping windows
    // run post-limit on model-sized frames), ranks break ties on the
    // ROUNDED score + id, and each RRF term is a single mirrored
    // division — one add, bit-exact, ROUND(…,6). The list-merge shape
    // every RAG stack runs between its two retrievers.
    Q("llm_rrf_fusion",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(TextUdfs.tokenizeCol(col("text"))).as("token"))
        val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val st = dl.agg(count(lit(1)).as("n"), sum("dl").as("sumdl"))
        val tf = tok.filter(col("token").isin("spark", "query", "window"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dfk = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val bm = tf.join(broadcast(dfk), "token")
          .join(dl, "doc_id")
          .crossJoin(broadcast(st))
          .withColumn("term_s",
            log((col("n").cast("double") - col("df") + 0.5) /
              (col("df") + 0.5) + 1.0) *
              (col("tf").cast("double") * 2.2) /
              (col("tf").cast("double") + lit(1.2) *
                (lit(0.25) + lit(0.75) * col("dl").cast("double") *
                  col("n") / col("sumdl"))))
          .groupBy("doc_id")
          .agg(round(sum("term_s"), 4).as("bm25"))
        val bmTop = bm.orderBy(col("bm25").desc, col("doc_id")).limit(20)
          .withColumn("bm25_rank", row_number().over(
            Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
          .select(col("doc_id").as("id"), col("bm25_rank"))
        val cosTop = graft.api.Similarity
          .bruteForceTopK(Tables.embeddings(s, d), "vec_id", "embedding",
            queryId = 0, topK = 20)
          .withColumn("cos_rank", row_number().over(
            Window.orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
          .select(col("vec_id").as("id"), col("cos_rank"))
        bmTop.join(cosTop, Seq("id"), "full_outer")
          .withColumn("rrf_score", round(
            coalesce(lit(1.0) / (col("bm25_rank") + 60), lit(0.0)) +
              coalesce(lit(1.0) / (col("cos_rank") + 60), lit(0.0)), 6))
          .orderBy(col("rrf_score").desc, col("id"))
          .limit(10)
          .select(col("id").as("doc_id"), col("bm25_rank"),
            col("cos_rank"), col("rrf_score"))
      },
      Some(s"""WITH tok AS ($SQL_TOKENS),
              |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
              |st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl
              |  FROM dl),
              |tf AS (
              |  SELECT doc_id, token, COUNT(*) AS tf FROM tok
              |  WHERE token IN ('spark', 'query', 'window') GROUP BY 1, 2),
              |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
              |bm AS (
              |  SELECT tf.doc_id,
              |    ROUND(SUM(ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)
              |        + 1.0)
              |      * (CAST(tf AS DOUBLE) * 2.2)
              |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25
              |        + 0.75 * CAST(dl.dl AS DOUBLE) * n / sumdl))), 4)
              |      AS bm25
              |  FROM tf JOIN df USING (token)
              |  JOIN dl ON tf.doc_id = dl.doc_id, st
              |  GROUP BY tf.doc_id),
              |bmr AS (
              |  SELECT doc_id AS id,
              |    CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
              |      AS BIGINT) AS bm25_rank
              |  FROM bm),
              |bmtop AS (SELECT * FROM bmr WHERE bm25_rank <= 20),
              |cosr AS (
              |  SELECT vec_id AS id,
              |    CAST(ROW_NUMBER() OVER (ORDER BY sim_raw DESC, vec_id)
              |      AS BIGINT) AS cos_rank
              |  FROM (
              |    SELECT a.vec_id,
              |      ${SQL_DOT("a.v", "b.qv")} / (a.nrm * b.qnrm) AS sim_raw
              |    FROM (SELECT vec_id, v, nrm FROM ($SQL_VECS)
              |          WHERE vec_id <> 0) a,
              |         (SELECT v AS qv, nrm AS qnrm FROM ($SQL_VECS)
              |          WHERE vec_id = 0) b) t),
              |costop AS (SELECT * FROM cosr WHERE cos_rank <= 20),
              |fused AS (
              |  SELECT COALESCE(b.id, c.id) AS doc_id,
              |    b.bm25_rank, c.cos_rank,
              |    ROUND(COALESCE(1.0 / (b.bm25_rank + 60), 0.0)
              |      + COALESCE(1.0 / (c.cos_rank + 60), 0.0), 6)
              |      AS rrf_score
              |  FROM bmtop b FULL JOIN costop c ON b.id = c.id)
              |SELECT doc_id, bm25_rank, cos_rank, rrf_score FROM fused
              |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin)),

    // Per-source KL divergence from the corpus token distribution —
    // the domain-shift / source-mix drift monitor (which feed's
    // language has wandered from the blend). The grid is
    // vocabulary × sources, NOT corpus-sized: after two linear count
    // passes the whole computation lives on |V|·|S| rows (the
    // dq_psi_drift spine idea at vocabulary granularity), with
    // Laplace smoothing on the source side so absent tokens
    // contribute their penalty instead of vanishing. Corpus marginal
    // Q is unsmoothed (every token has c ≥ 1 by construction).
    Q("llm_kl_divergence",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("source"),
            explode(TextUdfs.tokenizeCol(col("text"))).as("token"))
        val ct = tok.groupBy("token").agg(count(lit(1)).as("c"))
        val nv = ct.agg(sum("c").as("n"), count(lit(1)).as("v"))
        val ns = tok.groupBy("source").agg(count(lit(1)).as("ns"))
        val stc = tok.groupBy("source", "token").agg(count(lit(1)).as("cs"))
        ns.crossJoin(broadcast(ct))
          .join(stc, Seq("source", "token"), "left")
          .na.fill(0L, Seq("cs"))
          .crossJoin(broadcast(nv))
          .withColumn("p", (col("cs").cast("double") + 0.5) /
            (col("ns").cast("double") + lit(0.5) * col("v")))
          .withColumn("q", col("c").cast("double") / col("n").cast("double"))
          .groupBy("source")
          .agg(max("ns").as("n_tokens"),
            sum(when(col("cs") > 0, 1L).otherwise(0L)).as("vocab_used"),
            round(sum(col("p") * log2(col("p") / col("q"))), 4).as("kl_bits"))
          .orderBy("source")
      },
      Some(s"""WITH tok AS (
              |  SELECT source, unnest($SQL_TOKENIZE) AS token FROM documents),
              |ct AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY 1),
              |nv AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v FROM ct),
              |ns AS (SELECT source, COUNT(*) AS ns FROM tok GROUP BY 1),
              |stc AS (SELECT source, token, COUNT(*) AS cs FROM tok GROUP BY 1, 2),
              |grid AS (
              |  SELECT source, ns, token, c, COALESCE(cs, 0) AS cs, n, v
              |  FROM ns CROSS JOIN ct LEFT JOIN stc USING (source, token), nv)
              |SELECT source, CAST(MAX(ns) AS BIGINT) AS n_tokens,
              |  CAST(SUM(CASE WHEN cs > 0 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS vocab_used,
              |  ROUND(SUM(((CAST(cs AS DOUBLE) + 0.5)
              |      / (CAST(ns AS DOUBLE) + 0.5 * v))
              |    * log2(((CAST(cs AS DOUBLE) + 0.5)
              |        / (CAST(ns AS DOUBLE) + 0.5 * v))
              |      / (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))), 4) AS kl_bits
              |FROM grid GROUP BY source ORDER BY source""".stripMargin)),

    // GREEDY DECODING from the corpus bigram LM — the engine closes
    // the loop from counting n-grams (llm_bigram_stats) to actually
    // GENERATING with them: per-token argmax successor table
    // (row_number over count DESC, token ASC — fully deterministic),
    // then an 8-step unrolled chain of 1-row joins against the
    // checkpointed argmax table. Scale shape: the successor table is
    // |V| rows (broadcastable), the decode itself is constant work —
    // exactly how a distributed engine serves "most likely
    // continuation" probes. Seed token 'the'.
    Q("llm_greedy_decode",
      (s, d) => {
        val STEPS = 8
        val tok = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(TextUdfs.tokenizeCol(col("text")))
              .as(Seq("pos", "token")))
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val big = tok
          .withColumn("nxt", lead("token", 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy("token", "nxt").agg(count(lit(1)).as("c"))
        val wBest = Window.partitionBy("token")
          .orderBy(col("c").desc, col("nxt").asc)
        val best = big.withColumn("rn", row_number().over(wBest))
          .filter(col("rn") === 1)
          .select(col("token"), col("nxt"), col("c"))
          .localCheckpoint(eager = false)
        var chain = best.filter(col("token") === "the")
          .select(lit(1L).as("step"), col("token").as("from_token"),
            col("nxt").as("to_token"), col("c").as("n_bigram"))
          .localCheckpoint(eager = false)
        var frontier = chain
        for (step <- 2 to STEPS) {
          frontier = frontier
            .join(best, frontier("to_token") === best("token"))
            .select(lit(step.toLong).as("step"),
              best("token").as("from_token"),
              best("nxt").as("to_token"), best("c").as("n_bigram"))
            .localCheckpoint(eager = false)
          chain = chain.unionByName(frontier)
        }
        chain.orderBy("step")
      },
      Some {
        val STEPS = 8
        def stepCte(r: Int): String =
          s"""g$r AS (
             |  SELECT CAST($r AS BIGINT) AS step, b.token AS from_token,
             |    b.nxt AS to_token, b.c AS n_bigram
             |  FROM g${r - 1} p JOIN best b ON p.to_token = b.token)""".stripMargin
        s"""WITH bigr AS (
           |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
           |    i -> t[i] || ' ' || t[i + 1])) AS g
           |  FROM (SELECT $SQL_TOKENIZE AS t FROM documents)
           |  WHERE len(t) >= 2),
           |big AS (
           |  SELECT string_split(g, ' ')[1] AS token,
           |    string_split(g, ' ')[2] AS nxt, COUNT(*) AS c
           |  FROM bigr GROUP BY 1, 2),
           |best AS MATERIALIZED (
           |  SELECT token, nxt, c FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY token
           |      ORDER BY c DESC, nxt ASC) AS rn FROM big) x
           |  WHERE rn = 1),
           |g1 AS (
           |  SELECT CAST(1 AS BIGINT) AS step, token AS from_token,
           |    nxt AS to_token, c AS n_bigram
           |  FROM best WHERE token = 'the'),
           |${(2 to STEPS).map(stepCte).mkString(",\n")}
           |${(1 to STEPS).map(r => s"SELECT * FROM g$r").mkString("\nUNION ALL ")}
           |ORDER BY step""".stripMargin
      }),

    // CONTAINMENT scoring of the LSH candidate pairs — the asymmetric
    // companion to llm_jaccard_verify: C(A⊂B) = |A∩B|/|A| separates
    // "B quotes most of A" (containment high one way) from "A and B
    // are siblings" (Jaccard high both ways) — the distinction that
    // decides KEEP-LONGEST vs KEEP-ONE in a dedup policy. Exact
    // integer set sizes over the shared Dedup.sketch hash sets;
    // the pair⋈hash⋈hash join is candidate-bounded (pairs come from
    // banded LSH — the all-pairs stage never exists).
    Q("llm_containment_pairs",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sh = graft.api.Dedup.sketch(docs, "doc_id", "text", K)
          .select(col("doc_id"), explode(col("toks")).as("h"))
        val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val pairs = graft.api.Dedup
          .lshCandidatePairs(docs, "doc_id", "text", K, BANDS)
        val ov = pairs
          .join(sh.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"), col("h")),
            Seq("doc_b", "h"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
        pairs
          .join(ov, Seq("doc_a", "doc_b"), "left")
          .na.fill(0L, Seq("n_shared"))
          .join(broadcast(sz.select(col("doc_id").as("doc_a"),
            col("n").as("n_a"))), "doc_a")
          .join(broadcast(sz.select(col("doc_id").as("doc_b"),
            col("n").as("n_b"))), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
            col("n_shared"),
            round(col("n_shared").cast("double") /
              col("n_a").cast("double"), 4).as("cont_a_in_b"),
            round(col("n_shared").cast("double") /
              col("n_b").cast("double"), 4).as("cont_b_in_a"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH sh AS (
              |  SELECT DISTINCT doc_id, h FROM ($SQL_SHINGLE_HASHES)),
              |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              |pairs AS ($SQL_PAIRS),
              |ov AS (
              |  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_shared
              |  FROM pairs p
              |  JOIN sh a ON a.doc_id = p.doc_a
              |  JOIN sh b ON b.doc_id = p.doc_b AND b.h = a.h
              |  GROUP BY 1, 2)
              |SELECT p.doc_a, p.doc_b, sa.n AS n_a, sb.n AS n_b,
              |  COALESCE(ov.n_shared, 0) AS n_shared,
              |  ROUND(CAST(COALESCE(ov.n_shared, 0) AS DOUBLE)
              |    / CAST(sa.n AS DOUBLE), 4) AS cont_a_in_b,
              |  ROUND(CAST(COALESCE(ov.n_shared, 0) AS DOUBLE)
              |    / CAST(sb.n AS DOUBLE), 4) AS cont_b_in_a
              |FROM pairs p
              |LEFT JOIN ov ON p.doc_a = ov.doc_a AND p.doc_b = ov.doc_b
              |JOIN sz sa ON sa.doc_id = p.doc_a
              |JOIN sz sb ON sb.doc_id = p.doc_b
              |ORDER BY p.doc_a, p.doc_b""".stripMargin)),

    // BEAM-SEARCH decoding (width 2) over the bigram LM — the search
    // upgrade of llm_greedy_decode, and the determinism showcase for
    // float scoring: every edge log-probability is pre-rounded to
    // 10 dp and cast DECIMAL(20,10) (the text_nb_langid device), so
    // beam scores accumulate EXACTLY and the top-2 cut per step —
    // (score DESC, sequence ASC) — can never flip on ulp noise. Each
    // step is one join of ≤2 beams against the checkpointed successor
    // table + a 2-row window cut; the LM table is |V|·branching rows,
    // broadcastable at any corpus size.
    Q("llm_beam_decode",
      (s, d) => {
        val STEPS = 5
        val tok = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(TextUdfs.tokenizeCol(col("text")))
              .as(Seq("pos", "token")))
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val big = tok
          .withColumn("nxt", lead("token", 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy("token", "nxt").agg(count(lit(1)).as("c"))
        val ctot = big.groupBy("token").agg(sum("c").as("ct"))
        val edges = big.join(broadcast(ctot), "token")
          .withColumn("logp",
            round(log(col("c").cast("double") / col("ct").cast("double")),
              10).cast("decimal(20,10)"))
          .select("token", "nxt", "logp")
          .localCheckpoint(eager = false)
        val wTop = Window.orderBy(col("score").desc, col("seq").asc)
        var beams = s.range(1)
          .select(lit("the").as("seq"), lit("the").as("cur"),
            lit(0).cast("decimal(20,10)").as("score"))
          .localCheckpoint(eager = false)
        var acc = beams.select(lit(0L).as("step"),
          row_number().over(wTop).cast("long").as("rank"),
          col("seq"), round(col("score").cast("double"), 4).as("log_score"))
        for (step <- 1 to STEPS) {
          beams = beams.join(edges, beams("cur") === edges("token"))
            .select(concat(col("seq"), lit(" "), col("nxt")).as("seq"),
              col("nxt").as("cur"),
              (col("score") + col("logp")).cast("decimal(20,10)")
                .as("score"))
            .withColumn("rn", row_number().over(wTop))
            .filter(col("rn") <= 2).drop("rn")
            .localCheckpoint(eager = false)
          acc = acc.unionByName(beams.select(lit(step.toLong).as("step"),
            row_number().over(wTop).cast("long").as("rank"), col("seq"),
            round(col("score").cast("double"), 4).as("log_score")))
        }
        acc.orderBy("step", "rank")
      },
      Some {
        val STEPS = 5
        def stepCte(r: Int): String =
          s"""b$r AS MATERIALIZED (
             |  SELECT seq, cur, score FROM (
             |    SELECT p.seq || ' ' || e.nxt AS seq, e.nxt AS cur,
             |      CAST(p.score + e.logp AS DECIMAL(20,10)) AS score,
             |      ROW_NUMBER() OVER (ORDER BY p.score + e.logp DESC,
             |        p.seq || ' ' || e.nxt ASC) AS rn
             |    FROM b${r - 1} p JOIN edges e ON p.cur = e.token) x
             |  WHERE rn <= 2)""".stripMargin
        val outs = (0 to STEPS).map(r =>
          s"""SELECT CAST($r AS BIGINT) AS step,
             |  ROW_NUMBER() OVER (ORDER BY score DESC, seq ASC) AS rank,
             |  seq, ROUND(CAST(score AS DOUBLE), 4) AS log_score
             |FROM b$r""".stripMargin).mkString("\nUNION ALL ")
        s"""WITH bigr AS (
           |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
           |    i -> t[i] || ' ' || t[i + 1])) AS g
           |  FROM (SELECT $SQL_TOKENIZE AS t FROM documents)
           |  WHERE len(t) >= 2),
           |big AS (
           |  SELECT string_split(g, ' ')[1] AS token,
           |    string_split(g, ' ')[2] AS nxt, COUNT(*) AS c
           |  FROM bigr GROUP BY 1, 2),
           |ctot AS (SELECT token, CAST(SUM(c) AS BIGINT) AS ct
           |  FROM big GROUP BY 1),
           |edges AS MATERIALIZED (
           |  SELECT b.token, b.nxt,
           |    CAST(ROUND(ln(CAST(c AS DOUBLE) / CAST(ct AS DOUBLE)), 10)
           |      AS DECIMAL(20,10)) AS logp
           |  FROM big b JOIN ctot USING (token)),
           |b0 AS (SELECT 'the' AS seq, 'the' AS cur,
           |  CAST(0 AS DECIMAL(20,10)) AS score),
           |${(1 to STEPS).map(stepCte).mkString(",\n")}
           |$outs
           |ORDER BY step, rank""".stripMargin
      }),

    // MMR diversity rerank over each label's relevance pool — see
    // [[graft.api.Similarity.mmrRerank]] for the scale contract (one
    // corpus-wide broadcast-join + top-pool window; the k−1 greedy
    // rounds run on the checkpointed labels×pool frame only). The
    // oracle UNROLLS the greedy recursion: one (max-sim, argmax-pick,
    // selected-union) CTE triple per round, pairwise similarity by the
    // same ordered-fold SQL_DOT device, every score rounded to 4 dp
    // before its ORDER BY with vec_id as the total tie-break.
    Q("ann_mmr_rerank", {
      val POOL = 8; val K = 4
      (s, d) => graft.api.Similarity
        .mmrRerank(Tables.embeddings(s, d), "vec_id", "embedding",
          "label", pool = POOL, k = K, lambda = 0.7)
        .orderBy("label", "pick")
    },
      Some {
        val POOL = 8; val K = 4
        // Emit the EXACT Scala doubles (1.0 − 0.7 is 0.30000000000000004,
        // not the double nearest 0.3) so both engines multiply by
        // bit-identical weights.
        val LAM = s"${0.7}"; val OML = s"${1.0 - 0.7}"
        def simc(a: String, b: String) =
          s"ROUND(${SQL_DOT(s"$a.v", s"$b.v")} / ($a.nrm * $b.nrm), 4)"
        val rounds = (2 to K).map { r =>
          val prev = s"sel${r - 1}"
          s"""m$r AS (
             |  SELECT c.label, c.vec_id, c.rel, MAX(${simc("c", "p")}) AS msim
             |  FROM candp c JOIN $prev p ON c.label = p.label
             |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
             |    WHERE x.label = c.label AND x.vec_id = c.vec_id)
             |  GROUP BY c.label, c.vec_id, c.rel),
             |p$r AS (
             |  SELECT label, vec_id, rel,
             |    ROUND($LAM * rel - $OML * msim, 4) AS score, $r AS pick
             |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
             |      ORDER BY ROUND($LAM * rel - $OML * msim, 4) DESC, vec_id)
             |      AS prn FROM m$r) t
             |  WHERE prn = 1),
             |sel$r AS (
             |  SELECT * FROM $prev
             |  UNION ALL
             |  SELECT c.label, c.vec_id, c.v, c.nrm, p.rel, p.score, p.pick
             |  FROM p$r p JOIN candp c
             |    ON p.label = c.label AND p.vec_id = c.vec_id)""".stripMargin
        }.mkString(",\n")
        s"""WITH vecs AS ($SQL_VECS),
           |seeds AS (
           |  SELECT label, vec_id AS seed_id, v AS sv, nrm AS snrm
           |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
           |      ORDER BY vec_id) AS srn FROM vecs) t
           |  WHERE srn = 1),
           |cand AS (
           |  SELECT label, vec_id, v, nrm, rel,
           |    ROW_NUMBER() OVER (PARTITION BY label
           |      ORDER BY rel DESC, vec_id) AS rn
           |  FROM (SELECT a.label, a.vec_id, a.v, a.nrm,
           |      ROUND(${SQL_DOT("a.v", "s.sv")} / (a.nrm * s.snrm), 4) AS rel
           |    FROM vecs a JOIN seeds s
           |      ON a.label = s.label AND a.vec_id <> s.seed_id) b),
           |candp AS (SELECT * FROM cand WHERE rn <= $POOL),
           |sel1 AS (
           |  SELECT label, vec_id, v, nrm, rel, rel AS score, 1 AS pick
           |  FROM candp WHERE rn = 1),
           |$rounds
           |SELECT label, CAST(pick AS BIGINT) AS pick, vec_id, rel, score
           |FROM sel$K ORDER BY label, pick""".stripMargin
      }),

    // DSIR importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every raw doc
    // by the hashed-unigram log-likelihood ratio between a TARGET
    // distribution (here: the lang='en' slice) and the RAW corpus —
    // the published recipe for tilting a web crawl toward a target
    // domain before pretraining. Two linear passes: one exploded-token
    // aggregate builds the 64-bucket hashed counts (buckets from 2 md5
    // nibbles — the portable-hash device), which collapse to ONE
    // broadcast row of two dense count arrays; then each doc folds its
    // OWN token array against those arrays in token order, so the
    // add-1-smoothed Σ ln ratios accumulate identically on both
    // engines with no orderless float sum anywhere. At 100 TB the
    // model is 64 integers per side regardless of corpus size and the
    // scoring pass is embarrassingly parallel.
    Q("llm_dsir_weights", {
      val B = 64
      val bucketS = (t: String) =>
        s"CAST(conv(substring(md5($t), 1, 2), 16, 10) AS BIGINT) % $B"
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("lang"),
            explode(TextUdfs.tokenizeCol(col("text"))).as("token"))
          .withColumn("bucket", expr(bucketS("token")))
        val cnt = toks.groupBy("bucket")
          .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"),
            count(lit(1)).as("rc"))
        val grid = cnt.sparkSession.range(0, B).toDF("bucket")
          .join(cnt, Seq("bucket"), "left")
          .select(col("bucket"), coalesce(col("tc"), lit(0L)).as("tc"),
            coalesce(col("rc"), lit(0L)).as("rc"))
        val model = grid.agg(
          expr("transform(array_sort(collect_list(struct(bucket, tc))), x -> x.tc)")
            .as("tca"),
          expr("transform(array_sort(collect_list(struct(bucket, rc))), x -> x.rc)")
            .as("rca"),
          sum("tc").as("tt"), sum("rc").as("rt"))
        Tables.documents(s, d)
          .crossJoin(broadcast(model))
          .withColumn("t", TextUdfs.tokenizeCol(col("text")))
          .select(col("doc_id"), col("lang"),
            size(col("t")).cast("long").as("n_tokens"),
            round(expr(
              s"""aggregate(t, CAST(0.0 AS DOUBLE), (acc, tk) ->
                 |  acc + (ln((element_at(tca, CAST(${bucketS("tk")} AS INT) + 1) + 1.0)
                 |           / (tt + $B.0))
                 |       - ln((element_at(rca, CAST(${bucketS("tk")} AS INT) + 1) + 1.0)
                 |           / (rt + $B.0))))""".stripMargin), 4)
              .as("dsir_weight"))
          .orderBy("doc_id")
      }
    },
      Some {
        val B = 64
        val bucketD = (t: String) =>
          s"""((strpos('0123456789abcdef', substr(md5($t), 1, 1)) - 1) * 16
             | + (strpos('0123456789abcdef', substr(md5($t), 2, 1)) - 1)) % $B"""
            .stripMargin
        s"""WITH toks AS (
           |  SELECT lang, ${bucketD("token")} AS bucket
           |  FROM (SELECT lang, unnest($SQL_TOKENIZE) AS token
           |        FROM documents) x),
           |cnt AS (
           |  SELECT bucket,
           |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc,
           |    COUNT(*) AS rc
           |  FROM toks GROUP BY bucket),
           |grid AS (
           |  SELECT g.b AS bucket, COALESCE(tc, 0) AS tc, COALESCE(rc, 0) AS rc
           |  FROM (SELECT unnest(generate_series(0, ${B - 1})) AS b) g
           |  LEFT JOIN cnt ON g.b = cnt.bucket),
           |model AS (
           |  SELECT list(tc ORDER BY bucket) AS tca,
           |    list(rc ORDER BY bucket) AS rca,
           |    SUM(tc) AS tt, SUM(rc) AS rt
           |  FROM grid)
           |SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tokens,
           |  ROUND(list_sum(list_transform(t, tk ->
           |    ln((tca[CAST(${bucketD("tk")} AS INT) + 1] + 1.0)
           |      / (tt + $B.0))
           |    - ln((rca[CAST(${bucketD("tk")} AS INT) + 1] + 1.0)
           |      / (rt + $B.0)))), 4) AS dsir_weight
           |FROM (SELECT doc_id, lang, $SQL_TOKENIZE AS t FROM documents) dx,
           |  model
           |ORDER BY doc_id""".stripMargin
      }),

    // Budgeted corpus selection — the knapsack-greedy every
    // fixed-token-budget training run ends with: rank docs by lexical
    // richness per token (distinct/total, held as an EXACT integer
    // key ·10⁶ so the greedy order is float-free), take the prefix
    // whose cumulative tokens fit budget = corpus/4, report the cut
    // per source. The prefix-sum selection is exact greedy; its one
    // global-ordered cumsum is the honest cost (fine to ~10⁸ docs —
    // beyond that production swaps in the two-pass threshold-refine
    // variant, same ordering key, no semantic change).
    Q("llm_budget_select",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            TextUdfs.tokenizeCol(col("text")).as("t"))
          .withColumn("tok", size(col("t")).cast("long"))
          .withColumn("dw", size(array_distinct(col("t"))).cast("long"))
          .filter(col("tok") > 0)
          .withColumn("rkey", expr("(dw * 1000000L) div tok"))
          .drop("t")
        val tot = docs.agg(expr("sum(tok) div 4").as("budget"))
        val w = Window.orderBy(col("rkey").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs.crossJoin(tot)
          .withColumn("cum", sum("tok").over(w))
          .withColumn("sel", (col("cum") <= col("budget")).cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("sel").as("n_selected"),
            sum(col("sel") * col("tok")).as("tokens_selected"))
          .orderBy("source")
      },
      Some(s"""WITH docs AS (
              |  SELECT doc_id, source,
              |    CAST(len(t) AS BIGINT) AS tok,
              |    CAST(len(list_distinct(t)) AS BIGINT) AS dw
              |  FROM (SELECT doc_id, source, $SQL_TOKENIZE AS t
              |        FROM documents) x
              |  WHERE len(t) > 0),
              |rk AS (SELECT *, (dw * 1000000) // tok AS rkey FROM docs),
              |bud AS (SELECT CAST(SUM(tok) // 4 AS BIGINT) AS budget
              |        FROM docs),
              |sel AS (
              |  SELECT source, tok,
              |    CASE WHEN SUM(tok) OVER (ORDER BY rkey DESC, doc_id
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      <= (SELECT budget FROM bud) THEN 1 ELSE 0 END AS s
              |  FROM rk)
              |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(s) AS BIGINT) AS n_selected,
              |  CAST(SUM(s * tok) AS BIGINT) AS tokens_selected
              |FROM sel GROUP BY source ORDER BY source""".stripMargin)),

    // Perplexity-ratio data selection (the RHO-1 / domain-filter
    // shape, model-based companion to llm_dsir_weights' hashed n-gram
    // importance weights): score each doc by its mean log-likelihood
    // RATIO under a target-domain unigram LM (lang='en' slice) vs the
    // general-corpus LM, both add-one smoothed over the shared vocab;
    // select score > 0 ("more target-like than general") — a PER-ROW
    // rule, so selection needs NO global sort/quantile at any corpus
    // size (the rank-based top-k variant would). Both LMs are
    // vocab-bounded broadcast tables; per-token ln-ratio terms are
    // rounded to 9dp and summed as DECIMAL so each doc's score is
    // exact and order-free; the per-source mean folds the same way.
    Q("llm_ppl_ratio_select",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tok = docs.select(col("doc_id"),
          explode(TextUdfs.tokenizeCol(col("text"))).as("token"))
        val gc = tok.groupBy("token").agg(count(lit(1)).as("cg"))
        val gt = gc.agg(sum("cg").cast("long").as("totg"),
          count(lit(1)).cast("long").as("v"))
        val tc = docs.filter(col("lang") === "en")
          .select(explode(TextUdfs.tokenizeCol(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("ct"))
        val tt = tc.agg(coalesce(sum("ct"), lit(0L)).cast("long")
          .as("tott"))
        val lm = gc.join(tc, Seq("token"), "left")
          .crossJoin(broadcast(gt)).crossJoin(broadcast(tt))
          .select(col("token"), round(
            log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
              (col("tott") + col("v")).cast("double")) -
              log((col("cg") + 1).cast("double") /
                (col("totg") + col("v")).cast("double")), 9)
            .cast("decimal(18,9)").as("lr"))
        val ds = tok.join(broadcast(lm), "token")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("ntok"), sum("lr").as("ssum"))
        val sc = ds.join(docs.select("doc_id", "source"), "doc_id")
          .withColumn("score",
            col("ssum").cast("double") / col("ntok").cast("double"))
        sc.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("score") > 0, 1L).otherwise(0L))
              .as("n_selected"),
            sum(round(col("score"), 9).cast("decimal(28,9)")).as("msum"))
          .select(col("source"), col("n_docs"), col("n_selected"),
            round(col("n_selected").cast("double") /
              col("n_docs").cast("double"), 4).as("sel_rate"),
            round(col("msum").cast("double") /
              col("n_docs").cast("double"), 6).as("mean_score"))
          .orderBy("source")
      },
      Some(s"""WITH tok AS ($SQL_TOKENS),
              |gc AS (SELECT token, COUNT(*) AS cg FROM tok GROUP BY 1),
              |gt AS (SELECT CAST(SUM(cg) AS BIGINT) AS totg,
              |  CAST(COUNT(*) AS BIGINT) AS v FROM gc),
              |tc AS (
              |  SELECT token, COUNT(*) AS ct
              |  FROM (SELECT unnest($SQL_TOKENIZE) AS token
              |        FROM documents WHERE lang = 'en') x GROUP BY 1),
              |tt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS tott
              |  FROM tc),
              |lm AS (
              |  SELECT gc.token, CAST(ROUND(
              |    ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
              |      / CAST(tott + v AS DOUBLE))
              |    - ln(CAST(cg + 1 AS DOUBLE)
              |      / CAST(totg + v AS DOUBLE)), 9) AS DECIMAL(18,9))
              |    AS lr
              |  FROM gc LEFT JOIN tc USING (token), gt, tt),
              |ds AS (
              |  SELECT doc_id, COUNT(*) AS ntok, SUM(lr) AS ssum
              |  FROM tok JOIN lm USING (token) GROUP BY 1),
              |sc AS (
              |  SELECT d.source,
              |    CAST(ssum AS DOUBLE) / CAST(ntok AS DOUBLE) AS score
              |  FROM ds JOIN documents d USING (doc_id))
              |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_selected,
              |  ROUND(CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END)
              |    AS DOUBLE) / COUNT(*), 4) AS sel_rate,
              |  ROUND(CAST(SUM(CAST(ROUND(score, 9) AS DECIMAL(28,9)))
              |    AS DOUBLE) / COUNT(*), 6) AS mean_score
              |FROM sc GROUP BY source ORDER BY source""".stripMargin)),

    // Prompt/template census — the template-spam detector: docs
    // sharing the same first-8-token prefix are one "template
    // cluster"; report the top-10 clusters by size with their source
    // diversity. The prefix key is a bounded slice (8 tokens) hashed
    // per row, so the census is ONE md5-keyed groupBy at any corpus
    // size — the boilerplate signal line-dedup misses when bodies
    // differ after a shared opener. Top-10 under the exact
    // (n DESC, prefix) total order.
    Q("llm_template_census",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("prefix",
            concat_ws(" ", slice(TextUdfs.tokenizeCol(col("text")), 1, 8)))
        val g = docs.groupBy("prefix")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("source")).as("n_sources"))
        val wR = Window.orderBy(col("n_docs").desc, col("prefix"))
        g.withColumn("rk", row_number().over(wR).cast("long"))
          .filter(col("rk") <= 10)
          .select(col("rk"), col("prefix"), col("n_docs"),
            col("n_sources"))
          .orderBy("rk")
      },
      Some(s"""WITH p AS (
              |  SELECT source, array_to_string(
              |    list_slice(${TextUdfs.SQL_TOKENIZE}, 1, 8), ' ')
              |    AS prefix
              |  FROM documents),
              |g AS (
              |  SELECT prefix, COUNT(*) AS n_docs,
              |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
              |  FROM p GROUP BY prefix)
              |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC,
              |    prefix) AS BIGINT) AS rk,
              |  prefix, n_docs, n_sources
              |FROM g
              |QUALIFY rk <= 10 ORDER BY rk""".stripMargin)),

    // Unbiased pass@k estimator (the Codex-paper formula) per prompt
    // group: with n samples and c passes, pass@k = 1 − C(n−c,k)/C(n,k)
    // = 1 − Π_{i=0..k−1} (n−c−i)/(n−i) — the PRODUCT form that never
    // materializes factorials. Source stands in for the prompt; a
    // sample "passes" when its 4dp quality score clears 0.75. n and c
    // are exact integers from one linear aggregate; the k-term product
    // folds in ASCENDING i on both engines (k ≤ 10, a constant), so
    // the double is bit-identical. Degenerate guard: k > n ⇒ C(n,k)=0
    // conventionally pass@k = 1 when c > 0 else 0 — the fixture's
    // smallest source exceeds k=10, and the CASE is mirrored anyway.
    Q("llm_pass_at_k",
      (s, d) => {
        val STOP = Seq("the", "a", "of", "and", "to", "in")
        val base = graft.api.TextMetrics
          .quality(Tables.documents(s, d), "doc_id", "text", STOP)
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(when(col("quality") >= 0.75, 1L).otherwise(0L)).as("c"))
        def passAt(k: Int) = {
          val prod = (0 until k).map(i =>
            (col("n") - col("c") - i).cast("double") /
              (col("n") - i).cast("double")).reduce(_ * _)
          round(when(col("n") < k,
            when(col("c") > 0, 1.0).otherwise(0.0))
            .otherwise(lit(1.0) - prod), 6)
        }
        base.select(col("source"), col("n"), col("c"),
            passAt(1).as("pass_at_1"), passAt(5).as("pass_at_5"),
            passAt(10).as("pass_at_10"))
          .orderBy("source")
      },
      Some {
        def prod(k: Int) = (0 until k).map(i =>
          s"(CAST(n - c - $i AS DOUBLE) / CAST(n - $i AS DOUBLE))")
          .mkString(" * ")
        def passAt(k: Int) =
          s"""ROUND(CASE WHEN n < $k
             |    THEN CASE WHEN c > 0 THEN 1.0 ELSE 0.0 END
             |    ELSE 1.0 - ${prod(k)} END, 6)""".stripMargin
        s"""WITH q AS (
           |  SELECT source,
           |    floor((0.4 * least(CAST(len(t) AS DOUBLE) / 50.0, 1.0)
           |      + 0.4 * (1.0 - CAST(len(list_filter(t, x -> x IN
           |        ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
           |        / len(t))
           |      + 0.2 * least((CAST(n_letters AS DOUBLE) / len(t))
           |        / 8.0, 1.0)) * 10000.0 + 0.5) / 10000.0 AS quality
           |  FROM (SELECT source, $SQL_TOKENIZE AS t,
           |        length(regexp_replace(lower(text), '[^a-z]', '',
           |          'g')) AS n_letters
           |        FROM documents) x),
           |g AS (
           |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(CASE WHEN quality >= 0.75 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS c
           |  FROM q GROUP BY source)
           |SELECT source, n, c,
           |  ${passAt(1)} AS pass_at_1,
           |  ${passAt(5)} AS pass_at_5,
           |  ${passAt(10)} AS pass_at_10
           |FROM g ORDER BY source""".stripMargin
      }),

    // Empirical LSH RECALL audit — llm_lsh_band_tuning gives the
    // THEORETICAL 1−(1−s^r)^b curve; this measures the real thing on
    // a 1-in-20 doc slice: exact all-pairs Jaccard over the slice
    // (the ground truth LSH is supposed to find — quadratic, which is
    // exactly why it runs on the CAPPED slice and never the corpus)
    // vs the banded candidate set on the same slice. Bucket caps
    // never bind at fixture bucket sizes (≤4), so slice-LSH equals
    // corpus-LSH filtered to the slice on both engines. The number a
    // 100-TB dedup run needs BEFORE trusting its band parameters.
    Q("llm_lsh_recall_audit",
      (s, d) => {
        val slice = Tables.documents(s, d)
          .filter(col("doc_id") % 20 === 0)
        val sets = graft.api.Dedup.sketch(slice, "doc_id", "text", K)
          .select(col("doc_id"), col("toks"))
        val a = sets.select(col("doc_id").as("doc_a"),
          col("toks").as("ta"))
        val b = sets.select(col("doc_id").as("doc_b"),
          col("toks").as("tb"))
        val truePairs = a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("inter",
            size(array_intersect(col("ta"), col("tb"))).cast("long"))
          .withColumn("j", col("inter").cast("double") /
            (size(col("ta")).cast("long") + size(col("tb")).cast("long")
              - col("inter")).cast("double"))
          .filter(col("j") >= 0.6)
          .select("doc_a", "doc_b")
        val cands = graft.api.Dedup
          .lshCandidatePairs(slice, "doc_id", "text", K, BANDS, 1000)
        val hits = truePairs.join(
          cands.withColumn("cand", lit(1L)), Seq("doc_a", "doc_b"),
          "left")
          .agg(count(lit(1)).as("true_pairs"),
            sum(coalesce(col("cand"), lit(0L))).cast("long")
              .as("found_by_lsh"))
        hits
          .crossJoin(broadcast(
            cands.agg(count(lit(1)).as("lsh_candidates"))))
          .crossJoin(broadcast(
            slice.agg(count(lit(1)).as("n_slice"))))
          .select(col("n_slice"), col("true_pairs"),
            col("found_by_lsh"), col("lsh_candidates"),
            round(col("found_by_lsh").cast("double") /
              col("true_pairs").cast("double"), 4).as("recall"))
      },
      Some(s"""WITH sh AS (
              |  SELECT doc_id, h FROM ($SQL_SHINGLE_HASHES)
              |  WHERE doc_id % 20 = 0),
              |sets AS (SELECT doc_id, list(DISTINCT h) AS toks
              |  FROM sh GROUP BY doc_id),
              |tp AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
              |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              |    / (len(a.toks) + len(b.toks)
              |      - len(list_intersect(a.toks, b.toks))) >= 0.6),
              |cands AS (
              |  SELECT DISTINCT p.doc_a, p.doc_b FROM (
              |    SELECT unnest(flatten(list_transform(ids, (x, i) ->
              |      list_transform(ids[i+1:],
              |        y -> {'doc_a': x, 'doc_b': y})))) AS p
              |    FROM (SELECT band, bhash,
              |          list_sort(list(doc_id))[:1000] AS ids
              |        FROM (SELECT * FROM ($SQL_BANDED)
              |              WHERE doc_id % 20 = 0) sb
              |        GROUP BY band, bhash) bk
              |    WHERE len(ids) > 1) t),
              |m AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS true_pairs,
              |    CAST(SUM(CASE WHEN c.doc_a IS NOT NULL
              |      THEN 1 ELSE 0 END) AS BIGINT) AS found_by_lsh
              |  FROM tp LEFT JOIN cands c
              |    ON tp.doc_a = c.doc_a AND tp.doc_b = c.doc_b),
              |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS lsh_candidates
              |  FROM cands),
              |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_slice
              |  FROM documents WHERE doc_id % 20 = 0)
              |SELECT n_slice, true_pairs, found_by_lsh, lsh_candidates,
              |  ROUND(CAST(found_by_lsh AS DOUBLE)
              |    / CAST(true_pairs AS DOUBLE), 4) AS recall
              |FROM m, nc, ns""".stripMargin)),

    // Group-relative advantage normalization (the GRPO/RLOO shape):
    // per prompt group (source stands in for the prompt), z-score each
    // response's reward against ITS GROUP's mean/std — the variance-
    // reduction step group-relative RL methods run on every rollout
    // batch. Reward = n_chars (the stub scalar; swap one column for a
    // real reward model score). Group moments are exact integer sums
    // broadcast back; each advantage is one identical double
    // expression; singleton/zero-variance groups guard to NULL.
    Q("llm_grpo_advantage",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars").as("r"))
        val g = docs.groupBy("source").agg(count(lit(1)).as("n"),
          sum("r").as("sr"), sum(col("r") * col("r")).as("srr"))
        docs.join(broadcast(g), "source")
          .withColumn("mean_g", col("sr").cast("double") / col("n"))
          .withColumn("var_g",
            (col("srr").cast("double")
              - col("sr").cast("double") * col("sr").cast("double") / col("n"))
              / (col("n") - 1))
          .select(col("doc_id"), col("source"), col("r").as("reward"),
            round(when(col("n") > 1 && col("var_g") > 0,
              (col("r").cast("double") - col("mean_g"))
                / sqrt(col("var_g"))), 4).as("advantage"))
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, source, n_chars AS r FROM documents),
             |g AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(r) AS BIGINT) AS sr,
             |    CAST(SUM(r * r) AS BIGINT) AS srr
             |  FROM docs GROUP BY source),
             |j AS (
             |  SELECT doc_id, docs.source, r,
             |    CAST(sr AS DOUBLE) / n AS mean_g,
             |    (CAST(srr AS DOUBLE)
             |      - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / n)
             |      / (n - 1) AS var_g, n
             |  FROM docs JOIN g ON docs.source = g.source)
             |SELECT doc_id, source, r AS reward,
             |  ROUND(CASE WHEN n > 1 AND var_g > 0
             |    THEN (CAST(r AS DOUBLE) - mean_g) / sqrt(var_g) END, 4)
             |    AS advantage
             |FROM j ORDER BY doc_id""".stripMargin)),

    // Best-of-n rejection sampling: per prompt group keep the top-2
    // responses by reward (deterministic doc_id tiebreak) — the
    // SFT-data selection step after candidate generation. Per-group
    // top-k via the ranking window over prompt-sized partitions
    // (bounded by rollout width at any corpus scale); acceptance
    // metadata (group size) rides along for the yield audit.
    Q("llm_best_of_n",
      (s, d) => {
        val w = Window.partitionBy("source")
          .orderBy(col("reward").desc, col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars").as("reward"))
          .withColumn("rk", row_number().over(w))
          .withColumn("group_n",
            count(lit(1)).over(Window.partitionBy("source")))
          .filter(col("rk") <= 2)
          .select(col("source"), col("rk").cast("long").as("rank"),
            col("doc_id"), col("reward"), col("group_n"))
          .orderBy("source", "rank")
      },
      Some("""SELECT source, CAST(rk AS BIGINT) AS rank, doc_id,
             |  n_chars AS reward, group_n
             |FROM (
             |  SELECT doc_id, source, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY n_chars DESC, doc_id) AS rk,
             |    COUNT(*) OVER (PARTITION BY source) AS group_n
             |  FROM documents) t
             |WHERE rk <= 2 ORDER BY source, rank""".stripMargin)),

    // Chunk-level dedup rate: fixed 200-char chunks (the RAG/packing
    // unit), exact md5 identity, per-source duplicate share — dedup
    // measured at the granularity training actually consumes (doc-
    // level exact dedup misses boilerplate chunks shared across
    // distinct docs; the fixture's planted shared prefixes surface
    // here). Chunk explode is fact-linear; the shuffle carries
    // (source, chunk-hash) keys only.
    Q("llm_chunk_dedup_rate",
      (s, d) => {
        val ch = Tables.documents(s, d)
          .select(col("source"), explode(expr(
            """transform(sequence(0,
              |    cast(greatest(length(text) - 1, 0) div 200 as int)),
              |  i -> md5(substring(text, i * 200 + 1, 200)))""".stripMargin))
            .as("h"))
        ch.groupBy("source", "h").agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(sum("c").as("n_chunks"), count(lit(1)).as("n_distinct"),
            round((sum("c") - count(lit(1))).cast("double") / sum("c"), 6)
              .as("dup_rate"))
          .orderBy("source")
      },
      Some("""WITH ch AS (
             |  SELECT source,
             |    md5(substr(text, i * 200 + 1, 200)) AS h
             |  FROM documents,
             |    unnest(generate_series(0,
             |      CAST(greatest(length(text) - 1, 0) // 200 AS INT))) t(i)),
             |g AS (
             |  SELECT source, h, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM ch GROUP BY 1, 2)
             |SELECT source, CAST(SUM(c) AS BIGINT) AS n_chunks,
             |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
             |  ROUND(CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c), 6)
             |    AS dup_rate
             |FROM g GROUP BY source ORDER BY source""".stripMargin)),

    // Prefix-cache economics: for each candidate prefix length, how
    // many docs share an identical prefix with an earlier doc — the
    // KV-cache hit rate an inference server would get serving this
    // corpus with prefix caching (the fixture plants 20 groups of
    // shared 60-char prefixes, so the curve bends at L > 60). One
    // linear groupBy per length on a constant 4-length explode;
    // hits = Σ(group_size − 1) and the rate are exact integer math.
    // At 100 TB the prefix key should be a hash of the prefix, not
    // the prefix string — same plan shape, smaller shuffle rows.
    Q("llm_prefix_cache",
      (s, d) => Tables.documents(s, d)
        .select(explode(expr("array(10, 20, 40, 80)")).as("plen"),
          col("text"))
        .select(col("plen"), expr("substring(text, 1, plen)").as("pfx"))
        .groupBy("plen", "pfx").agg(count(lit(1)).as("c"))
        .groupBy("plen")
        .agg(count(lit(1)).as("n_groups"), sum("c").as("n_docs"),
          sum(col("c") - 1).as("cache_hits"),
          round(sum(col("c") - 1).cast("double") / sum("c"), 6)
            .as("hit_rate"))
        .orderBy("plen"),
      Some("""WITH p AS (
             |  SELECT l.plen, substr(text, 1, l.plen) AS pfx
             |  FROM documents,
             |    (VALUES (10), (20), (40), (80)) l(plen)),
             |g AS (
             |  SELECT plen, pfx, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM p GROUP BY 1, 2)
             |SELECT plen, CAST(COUNT(*) AS BIGINT) AS n_groups,
             |  CAST(SUM(c) AS BIGINT) AS n_docs,
             |  CAST(SUM(c - 1) AS BIGINT) AS cache_hits,
             |  ROUND(CAST(SUM(c - 1) AS DOUBLE) / CAST(SUM(c) AS BIGINT), 6)
             |    AS hit_rate
             |FROM g GROUP BY plen ORDER BY plen""".stripMargin))
  ) ++ wave29

  private def wave29: Seq[Q] = Seq(

    // Retrieval-quality evaluation — NDCG@10 / MRR@10 / P@10 of the
    // lexical retriever (the EXACT llm_bm25_topk scoring chain over the
    // 3-term query) against a graded relevance label, rel = number of
    // distinct query terms the doc contains (1..3). The eval loop every
    // RAG / search stack runs after each index or scorer change.
    // Scale shape: the ranked list is a distributed TakeOrdered top-10
    // (never a global window over the corpus — the rank-stamping window
    // runs post-limit on the 10-row frame), and the IDEAL ranking is
    // NOT a corpus sort: gain depends only on the ≤3 relevance grades,
    // so IDCG reduces to per-grade counts (a 3-row aggregate) expanded
    // to positions 1..10 via sequence(). Two passes over the scored
    // pool (top-10 + grade counts) — each one tok-scan, no unbounded
    // materialization. Float determinism: each DCG term is rounded to
    // 9 dp and DECIMAL-summed (the ln-round9 device), so the sum is
    // order-free and bit-equal across engines.
    Q("llm_ndcg_retrieval",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(TextUdfs.tokenizeCol(col("text"))).as("token"))
        val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val st = dl.agg(count(lit(1)).as("n"), sum("dl").as("sumdl"))
        val tf = tok.filter(col("token").isin("spark", "query", "window"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val scored = tf.join(broadcast(dfq), "token")
          .join(dl, "doc_id")
          .crossJoin(broadcast(st))
          .withColumn("term_s",
            log((col("n").cast("double") - col("df") + 0.5) /
              (col("df") + 0.5) + 1.0) *
              (col("tf").cast("double") * 2.2) /
              (col("tf").cast("double") + lit(1.2) *
                (lit(0.25) + lit(0.75) * col("dl").cast("double") *
                  col("n") / col("sumdl"))))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("rel"), round(sum("term_s"), 4).as("bm25"))
        val gain = pow(lit(2.0), col("rel")) - 1.0
        val top = scored.orderBy(col("bm25").desc, col("doc_id")).limit(10)
          .withColumn("rnk",
            row_number().over(Window.orderBy(col("bm25").desc,
              col("doc_id"))))
        val dcg = top.agg(
          sum(round(gain / log2(col("rnk") + 1), 9).cast("decimal(28,9)"))
            .as("dcg_raw"),
          min(when(col("rel") >= 2, col("rnk"))).as("first_rel"),
          sum(when(col("rel") >= 2, 1L).otherwise(0L)).as("hits10"))
        val grades = scored.groupBy("rel").agg(count(lit(1)).as("cnt"))
        // ≤3-row frame: the single-partition window is grade-bounded
        val wHi = Window.orderBy(col("rel").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val ideal = grades
          .withColumn("prefix", coalesce(sum("cnt").over(wHi), lit(0L)))
          .filter(col("prefix") < 10)
          .select(col("rel"), explode(sequence(col("prefix") + 1,
            least(col("prefix") + col("cnt"), lit(10L)))).as("pos"))
          .agg(sum(round(gain / log2(col("pos") + 1), 9)
            .cast("decimal(28,9)")).as("idcg_raw"))
        val npool = grades.agg(sum("cnt").as("n_pool"))
        dcg.crossJoin(broadcast(ideal)).crossJoin(broadcast(npool))
          .select(col("n_pool"),
            round(col("dcg_raw").cast("double"), 6).as("dcg10"),
            round(col("idcg_raw").cast("double"), 6).as("idcg10"),
            round(col("dcg_raw").cast("double") /
              col("idcg_raw").cast("double"), 6).as("ndcg10"),
            round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6)
              .as("mrr10"),
            round(col("hits10").cast("double") / 10, 6).as("precision10"))
      },
      Some(s"""WITH tok AS ($SQL_TOKENS),
              |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
              |st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl
              |  FROM dl),
              |tf AS (
              |  SELECT doc_id, token, COUNT(*) AS tf FROM tok
              |  WHERE token IN ('spark', 'query', 'window') GROUP BY 1, 2),
              |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
              |sc AS (
              |  SELECT tf.doc_id, COUNT(*) AS rel,
              |    ROUND(SUM(ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)
              |        + 1.0)
              |      * (CAST(tf AS DOUBLE) * 2.2)
              |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25
              |        + 0.75 * CAST(dl.dl AS DOUBLE) * n / sumdl))), 4)
              |      AS bm25
              |  FROM tf JOIN df USING (token)
              |  JOIN dl ON tf.doc_id = dl.doc_id, st
              |  GROUP BY tf.doc_id),
              |top AS (
              |  SELECT rel, bm25,
              |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
              |  FROM sc ORDER BY bm25 DESC, doc_id LIMIT 10),
              |d AS (
              |  SELECT CAST(SUM(CAST(ROUND((POWER(2.0, rel) - 1.0)
              |        / log2(rnk + 1), 9) AS DECIMAL(28,9))) AS DOUBLE)
              |      AS dcg_raw,
              |    MIN(CASE WHEN rel >= 2 THEN rnk END) AS first_rel,
              |    CAST(SUM(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS hits10
              |  FROM top),
              |g AS (SELECT rel, CAST(COUNT(*) AS BIGINT) AS cnt
              |  FROM sc GROUP BY rel),
              |gp AS (
              |  SELECT rel, cnt,
              |    CAST(COALESCE(SUM(cnt) OVER (ORDER BY rel DESC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS BIGINT) AS pfx
              |  FROM g),
              |pos AS (
              |  SELECT rel, unnest(generate_series(pfx + 1,
              |    CAST(least(pfx + cnt, 10) AS BIGINT))) AS pos
              |  FROM gp WHERE pfx < 10),
              |i AS (
              |  SELECT CAST(SUM(CAST(ROUND((POWER(2.0, rel) - 1.0)
              |      / log2(pos + 1), 9) AS DECIMAL(28,9))) AS DOUBLE)
              |    AS idcg_raw
              |  FROM pos),
              |np AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_pool FROM g)
              |SELECT n_pool, ROUND(dcg_raw, 6) AS dcg10,
              |  ROUND(idcg_raw, 6) AS idcg10,
              |  ROUND(dcg_raw / idcg_raw, 6) AS ndcg10,
              |  ROUND(COALESCE(CAST(1.0 AS DOUBLE) / first_rel, 0.0), 6)
              |    AS mrr10,
              |  ROUND(CAST(hits10 AS DOUBLE) / 10, 6) AS precision10
              |FROM d, i, np""".stripMargin)),

    // Speculative-decoding acceptance curve — the serving-side
    // analytics every draft-model deployment watches: per draft
    // position k, the mean rejection-sampling acceptance probability
    // min(1, p_target/p_draft) and the mean probability that the WHOLE
    // prefix 1..k survives (the expected-speedup curve). Token
    // probabilities are deterministic md5-derived uniforms in
    // (0, 0.997] (the repo's hash-coin device — portable bit-for-bit
    // to the oracle), 16 draft positions per document. Scale shape:
    // positions explode 16× (bounded), the prefix product runs as a
    // per-doc 16-row window over round9'd ln terms (exact DECIMAL
    // sums → order-free), and the final per-position means are
    // round9+DECIMAL too. No corpus-wide window, no driver state.
    Q("llm_speculative_accept",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(sequence(lit(1), lit(16))).as("pos"))
        def coin(tag: String) =
          ((conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":"), col("pos").cast("string"), lit(tag))), 1, 15),
            16, 10).cast("long") % 997) + 1).cast("double") / 1000.0
        val a = least(lit(1.0), coin(":t") / coin(":d"))
        val wCum = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, 0)
        base
          .withColumn("a", a)
          .withColumn("cum", exp(
            sum(round(log(col("a")), 9).cast("decimal(28,9)")).over(wCum)
              .cast("double")))
          .groupBy("pos")
          .agg(count(lit(1)).as("n_docs"),
            round(sum(round(col("a"), 9).cast("decimal(28,9)"))
              .cast("double") / count(lit(1)), 6).as("avg_accept"),
            round(sum(round(col("cum"), 9).cast("decimal(28,9)"))
              .cast("double") / count(lit(1)), 6).as("mean_prefix_accept"))
          .orderBy("pos")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, unnest(generate_series(1, 16)) AS pos
              |  FROM documents),
              |c AS (
              |  SELECT doc_id, pos,
              |    least(CAST(1.0 AS DOUBLE),
              |      (CAST((${SQL_HEX15("md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR) || ':t')")} % 997) + 1 AS DOUBLE) / 1000.0)
              |      / (CAST((${SQL_HEX15("md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR) || ':d')")} % 997) + 1 AS DOUBLE) / 1000.0))
              |      AS a
              |  FROM base),
              |cum AS (
              |  SELECT doc_id, pos, a,
              |    exp(CAST(SUM(CAST(ROUND(ln(a), 9) AS DECIMAL(28,9)))
              |      OVER (PARTITION BY doc_id ORDER BY pos
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS DOUBLE)) AS cum
              |  FROM c)
              |SELECT CAST(pos AS INT) AS pos,
              |  CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  ROUND(CAST(SUM(CAST(ROUND(a, 9) AS DECIMAL(28,9)))
              |    AS DOUBLE) / COUNT(*), 6) AS avg_accept,
              |  ROUND(CAST(SUM(CAST(ROUND(cum, 9) AS DECIMAL(28,9)))
              |    AS DOUBLE) / COUNT(*), 6) AS mean_prefix_accept
              |FROM cum GROUP BY pos ORDER BY pos""".stripMargin))
  )
}
