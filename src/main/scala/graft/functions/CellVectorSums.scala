package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** One k-means Lloyd round's statistics in ONE un-exploded pass:
  * per-cell vector counts and per-(cell, dimension) sums, accumulated
  * as EXACT 128-bit integers of the DECIMAL(38,20)-scaled elements.
  *
  * Why this exists (SURVEY §7.7 #3 / round-5 verdict #5): the decimal
  * Lloyd round materializes n×dims rows (`posexplode`) into a
  * DECIMAL(38,20) hash aggregate — measured as THE k-independent IVF
  * training floor (~42-44 s at 100k×64, PERF.md). This aggregate
  * replaces it with a typed partial aggregate over the (cell, vector)
  * rows themselves: each partition folds its vectors into k×dims
  * 128-bit accumulators, partials merge by integer addition, and only
  * k×(dims+1) numbers ever cross the wire.
  *
  * BIT-IDENTICAL to the decimal path by construction, not by luck:
  * each element is first rounded to the same DECIMAL(38,20) value
  * Spark's `cast(x AS DECIMAL(38,20))` produces
  * (`BigDecimal.valueOf(x)` — the shortest-repr double string — then
  * HALF_UP at scale 20), and the scaled unscaled values are summed as
  * two-word integers: associative, commutative, overflow-free
  * (|x| < 10^17 elements of magnitude < 10^18 fit 128 bits), so
  * partition count, merge order, and partial-aggregation boundaries
  * cannot perturb the result — the determinism property the DECIMAL
  * aggregate had, at a fraction of its cost. NaN/Infinity elements are
  * skipped exactly like the decimal cast's null (the row still counts:
  * `count(1)` counted exploded rows regardless of null sums); null
  * vectors contribute nothing (posexplode emitted no rows for them).
  *
  * KMeansAggSpec asserts codebook equality of the two paths
  * element-for-element; PERF.md round 6 records the wall-clock and
  * the cross-JVM codebook fingerprints.
  */
object CellVectorSums {

  /** (cell id, per-dim 128-bit sums as hi/lo words, vector count). */
  case class CellSums(cell: Int, n: Long, hi: Array[Long], lo: Array[Long])

  /** counts(k) + hi/lo(k*dims) flattened; dims fixed on first input. */
  case class Buf(var dims: Int, var counts: Array[Long],
      var hi: Array[Long], var lo: Array[Long])

  class Agg(k: Int) extends Aggregator[(Int, Seq[Double]), Buf, Seq[CellSums]] {

    override def zero: Buf = Buf(-1, null, null, null)

    private def init(b: Buf, dims: Int): Unit = {
      b.dims = dims
      b.counts = new Array[Long](k)
      b.hi = new Array[Long](k * dims)
      b.lo = new Array[Long](k * dims)
    }

    /** Exact 128-bit add of cast(x AS DECIMAL(38,20))'s unscaled value. */
    private def addScaled(b: Buf, idx: Int, x: Double): Unit = {
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return
      val bi = java.math.BigDecimal.valueOf(x)
        .setScale(20, java.math.RoundingMode.HALF_UP).unscaledValue()
      val addLo = bi.longValue()
      val addHi = bi.shiftRight(64).longValue()
      val sumLo = b.lo(idx) + addLo
      // unsigned overflow of the low word ⇔ sumLo <u previous low word
      val carry = if (java.lang.Long.compareUnsigned(sumLo, b.lo(idx)) < 0) 1L else 0L
      b.lo(idx) = sumLo
      b.hi(idx) = b.hi(idx) + addHi + carry
    }

    override def reduce(b: Buf, in: (Int, Seq[Double])): Buf = {
      val vec = in._2
      if (vec == null) return b
      if (b.dims < 0) init(b, vec.length)
      val cell = in._1
      b.counts(cell) += 1
      val base = cell * b.dims
      var i = 0
      val d = math.min(b.dims, vec.length)
      while (i < d) { addScaled(b, base + i, vec(i)); i += 1 }
      b
    }

    override def merge(a: Buf, b: Buf): Buf = {
      if (b.dims < 0) return a
      if (a.dims < 0) return b
      var c = 0
      while (c < k) { a.counts(c) += b.counts(c); c += 1 }
      var i = 0
      while (i < k * a.dims) {
        val sumLo = a.lo(i) + b.lo(i)
        val carry = if (java.lang.Long.compareUnsigned(sumLo, a.lo(i)) < 0) 1L else 0L
        a.lo(i) = sumLo
        a.hi(i) = a.hi(i) + b.hi(i) + carry
        i += 1
      }
      a
    }

    override def finish(b: Buf): Seq[CellSums] =
      if (b.dims < 0) Seq.empty
      else (0 until k).filter(b.counts(_) > 0).map { c =>
        val base = c * b.dims
        CellSums(c, b.counts(c),
          b.hi.slice(base, base + b.dims), b.lo.slice(base, base + b.dims))
      }

    override def bufferEncoder: Encoder[Buf] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[CellSums]] = ExpressionEncoder()
  }

  /** The exact decimal mean the DECIMAL(38,20) path computes:
    * BigDecimal(sum, scale 20).doubleValue / n.
    */
  def mean(hi: Long, lo: Long, n: Long): Double = {
    val biLo = new java.math.BigInteger(java.lang.Long.toUnsignedString(lo))
    val total = java.math.BigInteger.valueOf(hi).shiftLeft(64).add(biLo)
    new java.math.BigDecimal(total, 20).doubleValue() / n
  }
}
