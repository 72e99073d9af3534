package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE trainer against the hand-computable Sennrich corpus
  * (low×5, lower×2, newest×6, widest×3) — the merge sequence below is
  * derived by hand in the comments, including three tie-breaks that
  * exercise the (count DESC, lhs, rhs) total order.
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Writes `texts` as `<dir>/documents.parquet`. */
  private def writeCorpus(dir: String, texts: Seq[String]): Unit = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private lazy val dir: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    writeCorpus(tmp, Seq(
      "low low low low low",
      "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest"))
    tmp
  }

  test("merge sequence matches the hand computation, ties broken (lhs, rhs)") {
    val (merges, _) = graft.operators.Bpe.train(spark, dir)
    // r1: (e,s)=(newest 6 + widest 3)=9 ties (s,t)=9 and (t,</w>)=9 → lex 'e' first
    // r2: (es,t)=9 ties (t,</w>)=9 → 'es' < 't'
    // r3: (est,</w>)=9 unique max
    // r4: (l,o)=7 ties (o,w)=7 → 'l' < 'o'
    // r5: (lo,w)=7 unique max
    // r6: (e,w)=6 ties (n,e),(w,est</w>) → 'e' first
    val expect = Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L),
      ("l", "o", 7L), ("lo", "w", 7L), ("e", "w", 6L))
    assert(merges.take(6).map(m => (m.lhs, m.rhs, m.pair_n)) == expect)
    // greedy left-to-right non-overlap sanity: every merged symbol is
    // the concat of its parents
    merges.foreach(m => assert(m.merged == m.lhs + m.rhs))
    // vocab grows by at most 1 per round (new fused symbol; parents may
    // or may not survive), corpus token mass strictly shrinks
    val toks = merges.map(_.corpus_tokens)
    assert(toks.zip(toks.tail).forall { case (a, b) => b < a })
  }

  test("tokenize compression: fully-merged words collapse to few tokens") {
    val (merges, words) = graft.operators.Bpe.train(spark, dir)
    assert(merges.nonEmpty)
    val fin = words.select(col("word"), expr("split(toks, ' ')").as("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // 12 merges on this 4-word corpus fully collapse the two dominant
    // words; every symbol sequence still concatenates back to word+</w>
    fin.foreach { case (w, syms) =>
      assert(syms.mkString("") == w + "</w>", s"$w → $syms")
    }
    assert(fin("newest").length < 7 && fin("low").length < 4)
  }

  test("a corpus rewritten in the same directory retrains") {
    val d = java.nio.file.Files.createTempDirectory("graft_bpe_stale").toString
    writeCorpus(d, Seq("low low low low low", "lower lower"))
    val (before, _) = graft.operators.Bpe.train(spark, d)
    assert(graft.operators.Bpe.train(spark, d)._1 == before, "same corpus: memoized")
    writeCorpus(d, Seq("zzyq zzyq zzyq", "qqvz qqvz"))
    Fixtures.invalidate()
    val (after, _) = graft.operators.Bpe.train(spark, d)
    assert(after.nonEmpty && after != before)
    assert(after.forall(m => (m.lhs + m.rhs).forall("zyqv</w>".contains(_))),
      s"merges must come from the rewritten corpus: $after")
  }
}
