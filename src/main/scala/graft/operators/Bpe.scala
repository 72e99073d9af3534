package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Byte-pair-encoding vocabulary TRAINING and application — the one
  * canonical LLM-training-data stage the inventory lacked (round-7
  * verdict Next #2): tokenize→`llm_bpe_train`→`llm_bpe_tokenize`→
  * chunk→pack completes the text-side curation pipeline.
  *
  * Algorithm (Sennrich et al. 2016, arXiv:1508.07909): pre-tokenize
  * the corpus into words, collapse to a WORD HISTOGRAM (word, freq),
  * represent each word as a symbol sequence (characters + a `</w>`
  * end-of-word marker), then for a bounded number of rounds pick the
  * adjacent symbol pair with the highest freq-weighted count and fuse
  * every left-to-right non-overlapping occurrence into one symbol.
  *
  * Spark-first shape: the corpus appears in exactly ONE pass (the word
  * histogram groupBy); every merge round thereafter is one small
  * groupBy(pair) aggregate over the histogram — whose size is the
  * DISTINCT vocabulary, corpus-size-independent — plus a map-only
  * merge application. At 100 TB the histogram is the only stage that
  * scales with data, and it is a plain hash aggregate; the 20-round
  * training loop runs on the (millions-of-rows, not billions) word
  * table. The per-round best pair is a driver-side scalar model
  * parameter (the sanctioned k-means/auto-k pattern).
  *
  * Determinism devices: pair counts are exact integers; the best pair
  * is the total order (count DESC, lhs, rhs); the merge application is
  * a LEFT-TO-RIGHT fold both engines express identically (Spark
  * `aggregate` HOF / DuckDB `list_reduce` over the space-joined symbol
  * string) — greedy non-overlap falls out of the fold because a
  * just-fused symbol `lhs||rhs` never string-equals `lhs` (rhs is
  * non-empty), so [A,A,A] merging (A,A) yields [AA, A] in both.
  * The compression ratio is emitted as the raw long/long double
  * division — identical IEEE in both engines, no rounding device.
  */
object Bpe {
  private val N_MERGES = 12
  private val EOW = "</w>"

  final case class MergeRow(rank: Long, lhs: String, rhs: String,
      merged: String, pair_n: Long, vocab_size: Long, corpus_tokens: Long)

  /** One merge application: fuse left-to-right non-overlapping (a,b)
    * occurrences in the space-joined symbol string. The fold keeps the
    * merged-so-far string as the accumulator; `lhs`/`rhs` are interned
    * as SQL literals (symbols are [a-z] + the `</w>` marker — no
    * escaping hazard, asserted below).
    */
  private def applyMerge(toksCol: String, a: String, b: String): Column = {
    require((a + b).forall(c => c.isLower || "</w>".contains(c)),
      s"unexpected symbol characters in merge ($a, $b)")
    expr(
      s"""aggregate(
         |  slice(split($toksCol, ' '), 2, size(split($toksCol, ' ')) - 1),
         |  element_at(split($toksCol, ' '), 1),
         |  (acc, x) -> CASE
         |    WHEN element_at(split(acc, ' '), -1) = '$a' AND x = '$b'
         |    THEN concat(substring(acc, 1, length(acc) - ${a.length}), '$a$b')
         |    ELSE concat(acc, ' ', x) END)""".stripMargin)
  }

  /** Corpus word histogram → initial symbolization. */
  private def symbolized(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(
        expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("toks", concat(
        concat_ws(" ", expr("filter(split(word, ''), x -> x <> '')")),
        lit(" " + EOW)))

  /** Trained state: the merge table with per-round stats plus the final
    * word→symbols table (for tokenization). Memoized per (session,
    * documents [[graft.Fixtures.key]]) so `llm_bpe_train` and
    * `llm_bpe_tokenize` share one training run, a rewritten corpus
    * retrains, and a later session is never served a stopped one's
    * checkpoint. At most 8 entries.
    */
  private val memo = graft.Memo.sessionBound[
    (SparkSession, String), (Seq[MergeRow], DataFrame)](bound = 8)(_._2)

  private[graft] def train(s: SparkSession, d: String): (Seq[MergeRow], DataFrame) =
    memo((s, graft.Fixtures.key(d, "documents")))(trainOnWords(symbolized(s, d)))

  /** The merge-round loop over an arbitrary (word, freq, toks)
    * histogram — split out so it can be driven at synthetic vocab
    * scales the fixture corpus can't produce (PERF.md round 8).
    */
  private[graft] def trainOnWords(hist: DataFrame): (Seq[MergeRow], DataFrame) = {
    {
      // localCheckpoint, NOT cache (PERF.md round 13 scan census): cache
      // keeps the full lineage, so 12 rounds of nested cached plans
      // print 2^13 FileScans and every analyzer/stats traversal walks
      // the exponential tree — the same iterative-loop hazard the
      // graph fixpoints hit. The eager checkpoint costs nothing extra
      // here (each round already runs an action for its stats row) and
      // the final vocab-sized table stays materialized for the
      // tokenize joins.
      var words = hist.localCheckpoint()
      val merges = Seq.newBuilder[MergeRow]
      var exhausted = false
      for (r <- 1 to N_MERGES if !exhausted) {
        val bestRows = words
          .select(col("freq"), expr("split(toks, ' ')").as("syms"))
          .select(col("freq"), explode(expr(
            """transform(slice(syms, 1, size(syms) - 1),
              |  (x, i) -> struct(x AS a, element_at(syms, i + 2) AS b))"""
              .stripMargin)).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("freq").as("n"))
          .orderBy(col("n").desc, col("a"), col("b"))
          .take(1)
        if (bestRows.isEmpty) { exhausted = true }
        else {
        val best = bestRows(0)
        val (a, b, n) = (best.getString(0), best.getString(1), best.getLong(2))
        val next = words
          .withColumn("toks", applyMerge("toks", a, b))
          .localCheckpoint()
        // per-round stats chart the classic vocab-growth / compression
        // curve the merge table is judged by. ONE action for both:
        // over the exploded (sym, freq) rows, distinct syms is the
        // vocab and Σfreq is exactly Σ_word freq·n_syms (`next` is
        // already materialized by the eager checkpoint; superseded
        // round blocks are reclaimed by the ContextCleaner)
        val statsRow = next
          .select(col("freq"), explode(expr("split(toks, ' ')")).as("sym"))
          .agg(countDistinct("sym"), sum("freq")).head()
        val vocab = statsRow.getLong(0)
        val corpusToks = statsRow.getLong(1)
        // release the superseded round's checkpoint blocks NOW: waiting
        // for GC + ContextCleaner lets up to N_MERGES corpus-scale block
        // sets pile up in the block manager
        val prev = words
        words = next
        graft.Memo.releaseCheckpoint(prev)
        merges += MergeRow(r.toLong, a, b, a + b, n, vocab, corpusToks)
        }
      }
      (merges.result(), words)
    }
  }

  // ---------------------------------------------------------------------
  // Oracle: the same bounded loop unrolled as one CTE chain. Every w{r}
  // and b{r} is MATERIALIZED — DuckDB inlines CTEs by default and each
  // round's table is referenced twice (next round's pair counts + the
  // per-round stats), which un-materialized would double the expansion
  // every round (2^12 scans; the IVF-PQ oracle lesson, see
  // DataOps.ivfPqCoarseCtes).
  // ---------------------------------------------------------------------
  private def round(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""b$r AS MATERIALIZED (
       |  SELECT a, b, n FROM (
       |    SELECT x[1] AS a, x[2] AS b, SUM(freq) AS n FROM (
       |      SELECT freq, unnest(list_zip(s[1:len(s) - 1], s[2:len(s)])) AS x
       |      FROM (SELECT freq, string_split(toks, ' ') AS s FROM $prev))
       |    GROUP BY 1, 2)
       |  ORDER BY n DESC, a, b LIMIT 1),
       |w$r AS MATERIALIZED (
       |  SELECT word, freq,
       |    CASE WHEN br.a IS NULL THEN w.toks ELSE
       |      list_reduce(string_split(w.toks, ' '), (acc, x) -> CASE
       |        WHEN string_split(acc, ' ')[-1] = br.a AND x = br.b
       |        THEN substr(acc, 1, length(acc) - length(br.a)) || br.a || br.b
       |        ELSE acc || ' ' || x END) END AS toks
       |  FROM $prev w LEFT JOIN b$r br ON TRUE),
       |s$r AS (
       |  SELECT
       |    (SELECT COUNT(DISTINCT x) FROM
       |      (SELECT unnest(string_split(toks, ' ')) AS x FROM w$r)) AS vocab_size,
       |    (SELECT CAST(SUM(freq * len(string_split(toks, ' '))) AS BIGINT)
       |     FROM w$r) AS corpus_tokens)""".stripMargin
  }

  private val baseCte =
    s"""w0 AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS freq,
       |    array_to_string(list_filter(string_split(word, ''), x -> x <> ''), ' ')
       |      || ' $EOW' AS toks
       |  FROM (
       |    SELECT unnest(list_filter(
       |      string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
       |    FROM documents)
       |  GROUP BY word)""".stripMargin

  private val trainChain: String =
    (baseCte +: (1 to N_MERGES).map(round)).mkString(",\n")

  private val trainSql: String = {
    val rows = (1 to N_MERGES).map(r =>
      s"""SELECT CAST($r AS BIGINT) AS rank, a AS lhs, b AS rhs,
         |  a || b AS merged, CAST(n AS BIGINT) AS pair_n,
         |  CAST(vocab_size AS BIGINT) AS vocab_size, corpus_tokens
         |FROM b$r, s$r""".stripMargin)
    s"WITH $trainChain\n${rows.mkString("\nUNION ALL\n")}\nORDER BY rank"
  }

  // NOTE: the chain is interpolated ALREADY-STRIPPED, so the outer
  // string must not stripMargin again (it would eat one pipe of every
  // `||` that starts a chain line).
  private val tokenizeSql: String =
    s"WITH $trainChain,\n" +
    s"""docw AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
       |  FROM documents),
       |wt AS (SELECT word, len(string_split(toks, ' ')) AS nt FROM w$N_MERGES),
       |tok AS (
       |  SELECT d.doc_id, d.word,
       |    COALESCE(wt.nt, length(d.word) + 1) AS nt
       |  FROM docw d LEFT JOIN wt ON d.word = wt.word)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(length(word) + 1) AS BIGINT) AS n_syms0,
       |  CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens,
       |  CAST(SUM(nt) AS DOUBLE) / SUM(length(word) + 1) AS compression
       |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def fnround(c: org.apache.spark.sql.Column, d: Int) =
    org.apache.spark.sql.functions.round(c, d)

  def queries: Seq[Q] = Seq(
    // The learned merge table itself IS the result — rank order is the
    // tokenizer model. vocab_size counts distinct symbols across the
    // corpus after the round's merge (new fused symbol in, fully-
    // consumed parents out); corpus_tokens is the freq-weighted symbol
    // mass, the compression curve.
    Q("llm_bpe_train",
      (s, d) => {
        import s.implicits._
        train(s, d)._1.toDF().orderBy("rank")
      },
      Some(trainSql)),

    // Apply the learned vocab back to the corpus: per-doc BPE token
    // counts vs the pre-merge symbol mass. The tokenization is a JOIN
    // against the trained word table (map-side at scale: the vocab is
    // broadcast-able) — no per-doc re-derivation. LEFT join +
    // character fallback (an out-of-vocab word tokenizes to its
    // length+1 unmerged symbols): on the training corpus itself every
    // word is in-vocab so this is output-neutral, but a held-out
    // corpus must not silently DROP its OOV words.
    Q("llm_bpe_tokenize",
      (s, d) => {
        val (_, words) = train(s, d)
        val wt = words.select(col("word"),
          expr("size(split(toks, ' '))").as("nt"))
        Tables.documents(s, d)
          .select(col("doc_id"), explode(
            expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
            .as("word"))
          .join(wt, Seq("word"), "left")
          .withColumn("nt",
            coalesce(col("nt"), length(col("word")) + 1))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(expr("length(word) + 1")).as("n_syms0"),
            sum(col("nt").cast("long")).as("n_bpe_tokens"))
          .withColumn("compression",
            col("n_bpe_tokens").cast("double") / col("n_syms0"))
          .orderBy("doc_id")
      },
      Some(tokenizeSql)),

    // Tokenizer FERTILITY audit — tokens-per-word and tokens-per-char
    // by language, the standard multilingual-tokenizer health metric
    // (a vocab trained on one language tokenizes others into more,
    // shorter pieces; fertility quantifies the tax each lang pays).
    // Same trained vocab (shared memoized run), one lang-keyed
    // aggregate; ratios are raw long/long double divisions.
    Q("llm_tokenizer_fertility",
      (s, d) => {
        val (_, words) = train(s, d)
        val wt = words.select(col("word"),
          expr("size(split(toks, ' '))").as("nt"))
        Tables.documents(s, d)
          .select(col("lang"), explode(
            expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
            .as("word"))
          .join(wt, Seq("word"), "left")
          .withColumn("nt",
            coalesce(col("nt"), length(col("word")) + 1))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_words"),
            sum(expr("length(word)")).as("n_chars"),
            sum(col("nt").cast("long")).as("n_bpe_tokens"))
          .withColumn("fertility",
            col("n_bpe_tokens").cast("double") / col("n_words"))
          .withColumn("tokens_per_char",
            col("n_bpe_tokens").cast("double") / col("n_chars"))
          .orderBy("lang")
      },
      Some(s"WITH $trainChain,\n" +
        s"""docw AS (
           |  SELECT lang, unnest(list_filter(
           |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
           |  FROM documents),
           |wt AS (SELECT word, len(string_split(toks, ' ')) AS nt FROM w$N_MERGES),
           |tok AS (
           |  SELECT d.lang, d.word,
           |    COALESCE(wt.nt, length(d.word) + 1) AS nt
           |  FROM docw d LEFT JOIN wt ON d.word = wt.word)
           |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
           |  CAST(SUM(length(word)) AS BIGINT) AS n_chars,
           |  CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens,
           |  CAST(SUM(nt) AS DOUBLE) / COUNT(*) AS fertility,
           |  CAST(SUM(nt) AS DOUBLE) / SUM(length(word)) AS tokens_per_char
           |FROM tok GROUP BY lang ORDER BY lang""".stripMargin)),

    // Tokenizer-fertility DRIFT between two corpus snapshots (r12):
    // the deploy-gating monitor llm_tokenizer_fertility feeds — a
    // tokenizer trained on yesterday's corpus is re-audited on
    // today's delivery, per language, and a fertility jump means the
    // vocab no longer fits the incoming text (new domain, new
    // language mix) and a retrain is due — the ANN-codebook-drift
    // twin on the text side. Snapshots = doc_id parity (the library's
    // standing two-epoch stand-in); same trained vocab (shared
    // memoized run), one lang-keyed aggregate with per-half integer
    // sums; NULLIF keeps a single-snapshot language NULL in both
    // engines instead of diverging NULL-vs-inf.
    Q("llm_tokenizer_drift",
      (s, d) => {
        val (_, words) = train(s, d)
        val wt = words.select(col("word"),
          expr("size(split(toks, ' '))").as("nt"))
        Tables.documents(s, d)
          .select(col("lang"), (col("doc_id") % 2 === 0).as("old_snap"),
            explode(
              expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
              .as("word"))
          .join(wt, Seq("word"), "left")
          .withColumn("nt", coalesce(col("nt"), length(col("word")) + 1))
          .groupBy("lang")
          .agg(
            sum(when(col("old_snap"), 1L).otherwise(0L)).as("w_old"),
            sum(when(!col("old_snap"), 1L).otherwise(0L)).as("w_new"),
            sum(when(col("old_snap"), col("nt").cast("long"))
              .otherwise(0L)).as("t_old"),
            sum(when(!col("old_snap"), col("nt").cast("long"))
              .otherwise(0L)).as("t_new"))
          .select(col("lang"), col("w_old"), col("w_new"),
            // fnround: functions.round — a local BPE helper shadows it
            fnround(col("t_old").cast("double") /
              nullif(col("w_old"), lit(0L)).cast("double"), 6)
              .as("fert_old"),
            fnround(col("t_new").cast("double") /
              nullif(col("w_new"), lit(0L)).cast("double"), 6)
              .as("fert_new"),
            fnround(col("t_new").cast("double") /
              nullif(col("w_new"), lit(0L)).cast("double") -
              col("t_old").cast("double") /
              nullif(col("w_old"), lit(0L)).cast("double"), 6)
              .as("fert_delta"))
          .orderBy("lang")
      },
      Some(s"WITH $trainChain,\n" +
        s"""docw AS (
           |  SELECT lang, (doc_id % 2 = 0) AS old_snap,
           |    unnest(list_filter(
           |      string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''))
           |    AS word
           |  FROM documents),
           |wt AS (SELECT word, len(string_split(toks, ' ')) AS nt FROM w$N_MERGES),
           |tok AS (
           |  SELECT d.lang, d.old_snap, d.word,
           |    COALESCE(wt.nt, length(d.word) + 1) AS nt
           |  FROM docw d LEFT JOIN wt ON d.word = wt.word),
           |a AS (
           |  SELECT lang,
           |    CAST(SUM(CASE WHEN old_snap THEN 1 ELSE 0 END) AS BIGINT) AS w_old,
           |    CAST(SUM(CASE WHEN old_snap THEN 0 ELSE 1 END) AS BIGINT) AS w_new,
           |    CAST(SUM(CASE WHEN old_snap THEN nt ELSE 0 END) AS BIGINT) AS t_old,
           |    CAST(SUM(CASE WHEN old_snap THEN 0 ELSE nt END) AS BIGINT) AS t_new
           |  FROM tok GROUP BY lang)
           |SELECT lang, w_old, w_new,
           |  ROUND(CAST(t_old AS DOUBLE) / CAST(NULLIF(w_old, 0) AS DOUBLE), 6)
           |    AS fert_old,
           |  ROUND(CAST(t_new AS DOUBLE) / CAST(NULLIF(w_new, 0) AS DOUBLE), 6)
           |    AS fert_new,
           |  ROUND(CAST(t_new AS DOUBLE) / CAST(NULLIF(w_new, 0) AS DOUBLE)
           |    - CAST(t_old AS DOUBLE) / CAST(NULLIF(w_old, 0) AS DOUBLE), 6)
           |    AS fert_delta
           |FROM a ORDER BY lang""".stripMargin)))
}
