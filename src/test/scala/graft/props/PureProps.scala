package graft.props

import java.security.MessageDigest

import org.scalacheck.{Gen, Prop, Properties}

/** Pure (no-Spark) property tests of the algorithmic building blocks. */
object PureProps extends Properties("graft") {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def tokenize(s: String): Seq[String] =
    s.toLowerCase.replaceAll("[^a-z ]", "").split(" ", -1).toSeq

  /** Mirror of graft.api.Dedup.minhashSignatures' xor-mix family:
    * one 60-bit md5-derived hash per element, k xor-constant re-orders.
    */
  private def hash60(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)
  private def minhash(tokens: Set[String], k: Int): Seq[Long] = {
    val hs = tokens.map(hash60)
    graft.api.Dedup.minhashSeeds(k).map(c => hs.map(_ ^ c).min)
  }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else a.intersect(b).size.toDouble / a.union(b).size

  val word: Gen[String] = Gen.choose(1, 8)
    .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  val wordSet: Gen[Set[String]] = Gen.choose(5, 40)
    .flatMap(n => Gen.listOfN(n, word).map(_.toSet))

  property("tokenize output only contains [a-z] tokens") =
    Prop.forAll(Gen.asciiPrintableStr) { s =>
      tokenize(s).forall(_.forall(c => c >= 'a' && c <= 'z'))
    }

  property("tokenize is idempotent on its own output") =
    Prop.forAll(Gen.asciiPrintableStr) { s =>
      val once = tokenize(s).mkString(" ")
      tokenize(once).mkString(" ") == once
    }

  // Per-trial bound at k=64: est ~ Binomial(64, J)/64, worst-case
  // σ = 0.0625, so ±0.28 is 4.5σ — Hoeffding gives
  // P(miss) ≤ 2·exp(−2·64·0.28²) ≈ 4e-5 per trial (no flake at 100
  // trials) yet any systematic estimator bias > σ would trip it.
  property("minhash similarity estimates Jaccard within ±0.28 (k=64)") =
    Prop.forAll(wordSet, wordSet) { (a, b) =>
      val j = jaccard(a, b)
      val est = minhash(a, 64).zip(minhash(b, 64)).count { case (x, y) => x == y } / 64.0
      math.abs(est - j) <= 0.28
    }

  // Deterministic (seeded) aggregate bound — tight enough to actually
  // fail on an implementation bug: over 200 fixed random set pairs the
  // MEAN |est − J| must sit near the theoretical E|est − J| ≈ 0.8σ
  // (≈0.1 at k=16), and quadrupling k must shrink it ~2× (σ ∝ 1/√k).
  property("minhash mean error matches theory and halves from k=16 to k=64") =
    Prop {
      val rnd = new scala.util.Random(42)
      def randSet(): Set[String] =
        List.fill(5 + rnd.nextInt(36))(
          List.fill(1 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString).toSet
      val pairs = List.fill(200) {
        val a = randSet()
        // half the pairs share a sampled subset → spread of true J values
        val b = if (rnd.nextBoolean()) randSet()
                else randSet() ++ a.filter(_ => rnd.nextBoolean())
        (a, b)
      }
      def meanErr(k: Int): Double = pairs.map { case (a, b) =>
        val est = minhash(a, k).zip(minhash(b, k)).count { case (x, y) => x == y }.toDouble / k
        math.abs(est - jaccard(a, b))
      }.sum / pairs.size
      val e16 = meanErr(16)
      val e64 = meanErr(64)
      e16 <= 0.12 && e64 <= 0.06 && e64 < e16
    }

  /** The shingle rule of graft.functions.ShingleHashes, spelled out:
    * sliding 3-token windows, or one shingle of every token when there
    * are fewer than 3.
    */
  private def shingles(tokens: Seq[String]): Seq[String] =
    if (tokens.size < 3) Seq(tokens.mkString(" "))
    else tokens.sliding(3).map(_.mkString(" ")).toSeq

  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.asciiPrintableStr,
    3 -> Gen.listOf(Gen.oneOf('a', 'b', 'q', 'Z', ' ', ' ', '7', '!')).map(_.mkString))

  property("ShingleHashes = top 60 bits of each shingle's md5, in order") =
    Prop.forAll(text) { s =>
      val toks = tokenize(s)
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        toks.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val kernel = graft.functions.ShingleHashes(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("t"))
      kernel.hashes(arr).toLongArray().toSeq == shingles(toks).map(hash60)
    }

  property("identical sets have identical minhash signatures") =
    Prop.forAll(wordSet)(a => minhash(a, 16) == minhash(a, 16))

  property("jaccard symmetric, bounded, self=1") =
    Prop.forAll(wordSet, wordSet) { (a, b) =>
      val j = jaccard(a, b)
      j >= 0.0 && j <= 1.0 && j == jaccard(b, a) && jaccard(a, a) == 1.0
    }

  property("int8 quantization (mm_embed_quantize formula) error ≤ scale/2, codes in [-127,127]") =
    Prop.forAll(Gen.choose(2, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-10.0, 10.0)))) { v =>
      val scale = math.max(v.map(math.abs).max, 1e-12) / 127.0
      val q = v.map(x => math.floor(x / scale + 0.5).toLong)
      val recon = q.map(_ * scale)
      q.forall(c => c >= -127 && c <= 127) &&
        v.zip(recon).forall { case (x, r) =>
          math.abs(x - r) <= scale / 2 + 1e-12 }
    }

  property("NearestCells matches brute-force argmin with first-min ties (any k, probes)") =
    Prop.forAll(
      Gen.choose(2, 12), Gen.choose(1, 4),
      Gen.choose(2, 6)) { (k, probes, dims) =>
      // deterministic "random" codebook/vector from index arithmetic
      val cb = Array.tabulate(k, dims)((i, j) => ((i * 7 + j * 13) % 10) / 3.0)
      val v = Array.tabulate(dims)(j => ((j * 5) % 7) / 2.0)
      val expr = graft.functions.NearestCells(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("x"), cb, probes)
      val got = expr.nearestEval(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v))
        .toIntArray().toList
      val dists = cb.map(c => c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
      val want = dists.zipWithIndex.sortBy { case (d, i) => (d, i) }
        .take(math.min(probes, k)).map(_._2).toList
      got == want
    }

  // --- BPE merge-fold device (operators/Bpe.applyMerge) ---
  // Both engines implement one merge pass as a LEFT FOLD over the
  // symbol list with a string accumulator: if the accumulator's last
  // token equals `a` and the next symbol is `b`, fuse; else append.
  // The property proves that fold equals the SPEC of a BPE merge pass
  // — greedy left-to-right non-overlapping replacement — including the
  // run cases ([A,A,A] with pair (A,A) → [AA, A]) where a naive
  // "replace everywhere" differs.
  private def foldMerge(syms: List[String], a: String, b: String): List[String] =
    syms.foldLeft(List.empty[String]) {
      case (acc, x) if acc.nonEmpty && acc.last == a && x == b =>
        acc.init :+ (a + b)
      case (acc, x) => acc :+ x
    }
  private def specMerge(syms: List[String], a: String, b: String): List[String] = {
    val out = List.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }
  private val sym: Gen[String] = Gen.oneOf("a", "b", "ab", "aa", "c")
  property("BPE merge fold == greedy left-to-right non-overlap spec") =
    Prop.forAll(Gen.listOf(sym), sym, sym) { (syms, a, b) =>
      foldMerge(syms, a, b) == specMerge(syms, a, b)
    }
  property("BPE merge pass never re-merges the symbol it just fused") =
    Prop.forAll(Gen.choose(1, 8)) { n =>
      // n-run of "a" merging (a,a): floor(n/2) fusions, alternating
      val merged = foldMerge(List.fill(n)("a"), "a", "a")
      merged.count(_ == "aa") == n / 2 && merged.count(_ == "a") == n % 2
    }

  // --- SymSpell blocking recall (dedup_fuzzy_symspell) ---
  // The operator's candidate stage keeps only pairs sharing a
  // ≤2-deletion variant; its correctness rests on: lev(a,b) ≤ 2 ⟹
  // a and b share such a variant (deletes cover insert/delete/
  // substitute). Checked against a reference Levenshtein on random
  // small-alphabet words (small alphabet ⇒ near-miss pairs are
  // actually generated).
  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      var prev = dp(0); dp(0) = i
      for (j <- 1 to b.length) {
        val cur = dp(j)
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(b.length)
  }
  private def delVariants(w: String): Set[String] = {
    val d1 = (0 until w.length).map(i => w.take(i) + w.drop(i + 1)).toSet
    val d2 = d1.flatMap(v => (0 until v.length).map(i => v.take(i) + v.drop(i + 1)))
    d1 ++ d2 + w
  }
  private val smallWord: Gen[String] = Gen.choose(1, 6)
    .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
  property("SymSpell: lev <= 2 implies a shared <=2-delete variant") =
    Prop.forAll(smallWord, smallWord) { (a, b) =>
      lev(a, b) > 2 || delVariants(a).intersect(delVariants(b)).nonEmpty
    }

  property("GeoMean merge is commutative") =
    Prop.forAll(Gen.listOf(Gen.choose(0.1, 100.0)),
      Gen.listOf(Gen.choose(0.1, 100.0))) { (xs, ys) =>
      val g = graft.functions.GeoMean
      val a = xs.foldLeft(g.zero)(g.reduce)
      val b = ys.foldLeft(g.zero)(g.reduce)
      val m1 = g.finish(g.merge(a, b))
      val m2 = g.finish(g.merge(b, a))
      (m1.isNaN && m2.isNaN) || math.abs(m1 - m2) < 1e-9
    }

  // ---- Misra-Gries (agg_heavy_hitters candidate stage) ----

  /** Skewed streams: a few hot items over a small alphabet, shuffled —
    * the adversarial shape for counter eviction.
    */
  private val mgStream: Gen[List[String]] = for {
    n <- Gen.choose(1, 400)
    items <- Gen.listOfN(n,
      Gen.frequency((6, Gen.const("hot")), (3, Gen.const("warm")),
        (1, smallWord)))
  } yield items

  property("Misra-Gries keeps every item with count > m/(k+1)") =
    Prop.forAll(mgStream, Gen.choose(2, 16)) { (xs, k) =>
      val cands = graft.functions.MisraGries.sketch(xs.iterator, k).keySet
      val m = xs.length
      xs.groupBy(identity).forall { case (w, occ) =>
        occ.length.toLong * (k + 1) <= m || cands.contains(w)
      }
    }

  property("Misra-Gries never holds more than k counters") =
    Prop.forAll(mgStream, Gen.choose(2, 16)) { (xs, k) =>
      graft.functions.MisraGries.sketch(xs.iterator, k).size <= k
    }

  property("Misra-Gries counter never exceeds the true count") =
    Prop.forAll(mgStream, Gen.choose(2, 16)) { (xs, k) =>
      val sk = graft.functions.MisraGries.sketch(xs.iterator, k)
      val exact = xs.groupBy(identity).map { case (w, o) => w -> o.length.toLong }
      sk.forall { case (w, c) => c <= exact(w) }
    }
}
