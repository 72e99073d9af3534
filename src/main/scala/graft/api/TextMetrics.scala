package graft.api

import graft.functions.TextUdfs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public text-analysis API: quality scoring, language ID, token
  * counting, fingerprinting — all per-row expression work plus linear
  * aggregates (no driver-side state, no quadratic stages).
  */
object TextMetrics {

  val DefaultStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Token statistics + a [0,1] heuristic quality score. */
  def quality(docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = DefaultStopwords): DataFrame =
    docs
      .withColumn("__t", TextUdfs.tokenizeCol(col(textCol)))
      .withColumn("__nl",
        length(regexp_replace(lower(col(textCol)), "[^a-z]", "")))
      .withColumn("n_words", size(col("__t")).cast("long"))
      .withColumn("avg_word_len",
        round(col("__nl").cast("double") / size(col("__t")), 4))
      .withColumn("stopword_ratio",
        round(size(filter(col("__t"), x => x.isInCollection(stopwords)))
          .cast("double") / size(col("__t")), 4))
      .withColumn("quality",
        floor((lit(0.4) * least(size(col("__t")).cast("double") / 50.0, lit(1.0)) +
          lit(0.4) * (lit(1.0) - size(filter(col("__t"), x => x.isInCollection(stopwords)))
            .cast("double") / size(col("__t"))) +
          lit(0.2) * least((col("__nl").cast("double") / size(col("__t"))) / 8.0,
            lit(1.0))) * 10000.0 + 0.5) / 10000.0)
      .drop("__t", "__nl")

  /** N-gram-profile language ID: build per-lang top-N token profiles
    * from a labeled corpus, classify every doc by overlap argmax.
    */
  def langId(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, profileSize: Int = 20): DataFrame = {
    val docTok = docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
      explode(TextUdfs.tokenizeCol(col(textCol))).as("token"))
    val profile = docTok.groupBy(col("lang").as("p_lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("p_lang").orderBy(col("cnt").desc, col("token"))))
      .filter(col("rn") <= profileSize)
      .select(col("p_lang"), col("token"))
    val overlap = docTok.distinct()
      .join(broadcast(profile), Seq("token"))
      .groupBy("doc_id", "lang", "p_lang")
      .agg(count(lit(1)).as("overlap"))
    val wBest = Window.partitionBy("doc_id").orderBy(col("overlap").desc, col("p_lang"))
    overlap.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("doc_id").as(idCol), col("lang").as(langCol),
        col("p_lang").as("lang_pred"), col("overlap"),
        (col("p_lang") === col("lang")).as("correct"))
  }

  /** Whitespace + BPE-ish regex-lexer token counts. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(split(col(textCol), " ", -1)).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(textCol),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("bpe_tokens"))

  /** tf-idf top terms per group (e.g. language): two linear aggregation
    * passes over the exploded token stream, corpus size as a broadcast
    * scalar, ranking on the ROUNDED score so cross-engine ln() ulp
    * differences cannot reorder ties.
    */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, topN: Int = 5): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(TextUdfs.tokenizeCol(col(textCol))).as("token"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_total"))
    val tf = tok
      .join(docs.select(col(idCol).as("doc_id"), col(groupCol).as("grp")), Seq("doc_id"))
      .groupBy("grp", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tok.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy("grp").orderBy(col("score").desc, col("token"))
    tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") * log(col("n_total") / col("df")), 4))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topN)
      .select(col("grp").as(groupCol), col("rn"), col("token"),
        col("tf"), col("df"), col("score"))
  }

  /** Unicode/text normalization — the first stage of every real text
    * pipeline: NFC canonical composition (combining sequences fold into
    * precomposed codepoints), control-character strip, whitespace-run
    * collapse + trim. Emits the normalized text plus per-row audit
    * columns (how many chars each stage removed, and a changed flag) so
    * a curation run can report normalization impact without a second
    * pass. All per-row work: the NFC UDF is the only non-codegen
    * column, everything else is built-in regexp/length expressions.
    */
  def normalize(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("__nfc", TextUdfs.nfc(col(textCol)))
      .withColumn("__ctrl",
        regexp_replace(col("__nfc"), "[\\x00-\\x1f\\x7f]", ""))
      .withColumn("norm_text",
        trim(regexp_replace(col("__ctrl"), "\\s+", " ")))
      .withColumn("nfc_delta",
        (length(col(textCol)) - length(col("__nfc"))).cast("long"))
      .withColumn("ctrl_removed",
        (length(col("__nfc")) - length(col("__ctrl"))).cast("long"))
      .withColumn("ws_removed",
        (length(col("__ctrl")) - length(col("norm_text"))).cast("long"))
      .withColumn("changed", col(textCol) =!= col("norm_text"))
      .drop("__nfc", "__ctrl")

  /** Rolling char-8-gram min-hash fingerprint per document.
    *
    * Entirely within-row: the gram array, its md5 min, and its distinct
    * count are higher-order-function expressions over each document, so
    * the job is a single narrow scan — no explode (which multiplied the
    * row count by document length) and no doc_id shuffle. Per-row
    * transient memory is O(doc length), the same bound the exploded
    * form paid in shuffle volume. Equivalent to
    * `explode(grams) → groupBy(doc_id).agg(min(md5), countDistinct)`
    * for non-null text (the fixture's documents are all non-null).
    */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        regexp_replace(lower(col(textCol)), "[^a-z]", "").as("cleaned"))
      .withColumn("__grams", expr(
        "transform(sequence(1, greatest(length(cleaned) - 7, 1)), i -> substr(cleaned, i, 8))"))
      .select(col(idCol),
        expr("array_min(transform(__grams, g -> md5(g)))").as("fingerprint"),
        expr("size(array_distinct(__grams))").cast("long").as("n_distinct_grams"))

  /** fastText-style hashed linear text scorer: each token hashes (first
    * two md5 hex chars → 0..255) into one of `weights.length` buckets
    * and the document's score is the MEAN bucket weight, folded over
    * the token array IN TOKEN ORDER — a sequential within-row fold, so
    * any engine mirroring the fold order reproduces the doubles
    * bit-for-bit (no rounding needed downstream). The weight vector is
    * the model artifact: a real deployment trains it offline and
    * broadcasts it exactly like this (model-parameter-sized driver
    * state, the codebook precedent); no training libs exist in this
    * container, so callers pass the weights in. Per-row expression
    * work only — no shuffle, no UDF, stays inside codegen.
    */
  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
      weights: Seq[Double]): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    val d = weights.length
    // shortest round-trip decimal reprs — parse to identical doubles
    val wLit = weights.map(w => s"${w}D").mkString("array(", ", ", ")")
    docs
      .withColumn("__t", TextUdfs.tokenizeCol(col(textCol)))
      .withColumn("__raw", expr(
        s"""aggregate(__t, CAST(0.0 AS DOUBLE), (acc, tok) ->
           |  acc + element_at($wLit,
           |    CAST(conv(substring(md5(tok), 1, 2), 16, 10) AS INT) % $d + 1))"""
          .stripMargin))
      .select(col(idCol), size(col("__t")).cast("long").as("n_tokens"),
        (col("__raw") / size(col("__t")).cast("double")).as("score"),
        (col("__raw") >= 0.0).as("keep_label"))
  }

  /** Split each document into overlapping token-window chunks — the
    * standard context-window preparation stage for training and
    * retrieval corpora (chunk = `chunkTokens` tokens, next chunk starts
    * `stride` tokens later, so consecutive chunks overlap by
    * `chunkTokens - stride`). The final chunk may be shorter; documents
    * tokenizing to nothing are dropped.
    *
    * Emits one row per (doc, chunk): `chunk_idx` (0-based), `n_tokens`,
    * and the chunk text rejoined with single spaces.
    *
    * Scale shape: tokenize is per-row expression work, and the explode
    * multiplies rows by ~n_tokens/stride — output-proportional, the
    * same cost any chunker must pay. No shuffle at all: the whole job
    * is scan → generate → project, so it pipelines into whatever
    * grouping or write follows.
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 40, stride: Int = 30): DataFrame = {
    require(stride > 0, s"stride must be positive, got $stride")
    require(chunkTokens >= stride,
      s"chunkTokens ($chunkTokens) must be >= stride ($stride) or tokens would be skipped")
    docs
      .select(col(idCol), TextUdfs.tokenizeCol(col(textCol)).as("__t"))
      .filter(size(col("__t")) > 0)
      // last start is the largest multiple of `stride` strictly below
      // n_tokens, so every token lands in at least one chunk
      .withColumn("__start", explode(expr(
        s"sequence(0, ((size(__t) - 1) div $stride) * $stride, $stride)")))
      .select(col(idCol),
        expr(s"__start div $stride").as("chunk_idx"),
        slice(col("__t"), col("__start") + 1, lit(chunkTokens)).as("__chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }
}
