package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Text UDFs for the LLM-pipeline operators (SURVEY.md §2.J/K).
  *
  * The tokenizer logic is EXACTLY: lowercase → strip all chars outside
  * [a-z ] → split on single spaces keeping empty tokens. This precise
  * form is mirrored textually by the DuckDB oracle
  * (`string_split(lower(regexp_replace(text,'[^a-z ]','','g')),' ')`),
  * so keep the two in lock-step when changing either.
  *
  * Scale note: a Scala UDF breaks codegen for the column it computes but
  * stays fully distributed (per-row, no state). The hot paths that feed
  * aggregations (minhash, tf-idf) use [[tokenizeCol]] via built-in
  * expressions instead, which stays inside whole-stage codegen.
  */
object TextUdfs {
  val tokenize: UserDefinedFunction =
    udf((s: String) =>
      if (s == null) Seq.empty[String]
      else s.toLowerCase.replaceAll("[^a-z ]", "").split(" ", -1).toSeq)

  /** Unicode NFC normalization via `java.text.Normalizer` (public JDK).
    * A UDF because Spark has no built-in normalization expression; it
    * breaks codegen for this one column but is per-row and stateless,
    * so it stays fully distributed. The DuckDB oracle mirrors it with
    * `nfc_normalize` — both sides implement Unicode's canonical
    * composition, and the queries exercise only BMP sequences (e.g.
    * e + U+0301 → U+00E9) where the two agree exactly.
    */
  val nfc: UserDefinedFunction = udf((s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))

  /** Same semantics as [[tokenize]] but as built-in expressions
    * (codegen-friendly; used by downstream §2.K operators).
    */
  def tokenizeCol(c: Column): Column = {
    import org.apache.spark.sql.functions._
    split(regexp_replace(lower(c), "[^a-z ]", ""), " ", -1)
  }

  val SQL_TOKENIZE =
    "string_split(lower(regexp_replace(text, '[^a-z ]', '', 'g')), ' ')"

  /** 3-token shingles of an ALREADY-MATERIALIZED token-array column —
    * the minhash unit. Unigram token SETS are near-universal in a
    * small-vocabulary corpus (every long doc contains every word), which
    * collapses LSH into mega-buckets (measured: one bucket held >50% of
    * docs at sf0.1); shingles make the sets distinctive and kill the
    * bucket skew. Docs shorter than 3 tokens fall back to one whole-doc
    * shingle (concat_ws skips the out-of-range nulls on both engines;
    * the reads are `try_element_at`, since ANSI `element_at` throws on
    * them). Pass an attribute reference, not the tokenizer expression
    * itself: a non-trivial expression inside the transform() lambda is
    * re-evaluated per element (3 element_at × n shingles × regexp =
    * measured 10× slowdown).
    */
  def shinglesFromTokens(t: Column): Column = {
    import org.apache.spark.sql.functions._
    transform(sequence(lit(1), greatest(size(t) - 2, lit(1))),
      i => concat_ws(" ", try_element_at(t, i), try_element_at(t, i + 1),
        try_element_at(t, i + 2)))
  }
}
