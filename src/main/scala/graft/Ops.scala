package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Determinism helpers shared by every oracle-able query (SURVEY.md §7.4).
  *
  * Doubles summed in arbitrary order are not reproducible across engines;
  * money/value sums therefore go through DECIMAL(18,2) (exact, associative)
  * and come back out as DOUBLE (exact conversion for |x| < 2^53/100).
  * The `SQL_*` twins are the textual DuckDB mirrors — keep them in sync.
  */
object Ops {
  /** Exact decimal-accumulated sum of a money/value column, as double. */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
  def SQL_DSUM(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"

  /** Higher-scale variant for small magnitudes (discounts, rates). */
  def dsum6(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")
  def SQL_DSUM6(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,6))) AS DOUBLE)"

  /** Order-insensitive average rounded to 4 dp: exact decimal sum / count. */
  def avg4(c: Column): Column = round(dsum(c) / count(lit(1)), 4)
  def SQL_AVG4(x: String): String = s"ROUND(${SQL_DSUM(x)} / COUNT(*), 4)"

  def avg46(c: Column): Column = round(dsum6(c) / count(lit(1)), 4)
  def SQL_AVG46(x: String): String = s"ROUND(${SQL_DSUM6(x)} / COUNT(*), 4)"

  /** A money/value column as exact integer cents (decimal domain first,
    * so both engines round alike); sums of it are exact longs.
    */
  def cents(c: Column): Column = (c.cast("decimal(18,2)") * 100).cast("long")
  def SQL_CENTS(x: String): String = s"CAST(CAST($x AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** The first 15 hex nibbles of the md5 hex string `h` as a BIGINT
    * polynomial — DuckDB's mirror of Spark's
    * `conv(substring(h, 1, 15), 16, 10)`, the portable 60-bit hash every
    * hash-coin oracle uses.
    */
  def SQL_HEX15(h: String): String =
    (1 to 15).map(p =>
      s"(strpos('0123456789abcdef', substr($h, $p, 1)) - 1) * ${1L << (4 * (15 - p))}")
      .mkString("(", " + ", ")")

  /** Per-row revenue expression (no accumulation: bit-exact both engines).
    * Safe to OUTPUT as a double column; NOT safe to cast to decimal and
    * sum — Spark rounds the double's shortest decimal repr (HALF_UP),
    * DuckDB rounds the exact binary value, and the per-row roundings
    * drift. For sums use [[revenueDec]]/[[chargeDec]].
    */
  def revenue(price: Column, discount: Column): Column =
    price * (lit(1.0) - discount)
  val SQL_REVENUE = "l_extendedprice * (1.0 - l_discount)"

  /** Exact decimal-domain revenue: base columns are clean 2-dp values
    * stored as doubles, where double→decimal casts agree across engines;
    * all further arithmetic stays decimal (exact, associative).
    * Intermediates are re-narrowed so DuckDB never exceeds width 38
    * (which would silently fall back to double).
    */
  def revenueDec(price: Column, discount: Column): Column =
    price.cast("decimal(12,2)") *
      (lit(1) - discount.cast("decimal(4,2)")).cast("decimal(4,2)")
  val SQL_REV_DEC =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))"

  def chargeDec(price: Column, discount: Column, tax: Column): Column =
    revenueDec(price, discount) *
      (lit(1) + tax.cast("decimal(4,2)")).cast("decimal(4,2)")
  val SQL_CHARGE_DEC =
    SQL_REV_DEC + " * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))"

  /** Sum an already-exact decimal column; emit double (exact for the
    * magnitudes in play: |sum| < 2^53 / 10^scale).
    */
  def dsumExact(c: Column): Column = sum(c).cast("double")
  def SQL_DSUM_EXACT(x: String): String = s"CAST(SUM($x) AS DOUBLE)"

  /** The distinct-value rank device behind every two-sample, rank-sum
    * and k-group midrank test. `hist` holds one row per distinct `value`
    * and one integral count column per arm; the result keeps those rows
    * and columns and adds, all BIGINT:
    *  - `cnt`, the pooled count of the value;
    *  - `cum_<arm>`, the arm's inclusive cumulative count (its ECDF
    *    numerator at the value) and `n_<arm>`, the arm's total;
    *  - `prev`, the pooled count of smaller values (Σ cum − cnt);
    *  - `r2 = 2·prev + cnt + 1`, twice the average rank of the value's
    *    tie block, so rank sums stay exact integers until one division.
    *
    * Bound: one unpartitioned window ordered by `value`, so its input
    * is the histogram, sized by the value domain and never by rows. At
    * sf0.001/0.01/0.1 that is 389/3,310/13,362 click+view values,
    * 311/313/523 `n_chars` and 50 quantities (ValueRanksSpec checks
    * each window's input against its distinct-value count). The window
    * takes its single partition through a narrow `coalesce(1)`, not a
    * second exchange, so `hist` should end in its aggregate: only that
    * aggregate's final, domain-sized stage then runs as one task.
    */
  private[graft] def valueRanks(hist: DataFrame, value: String,
      arms: Seq[String]): DataFrame = {
    val upTo = Window.orderBy(value)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = upTo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cnt = arms.map(col).reduce(_ + _).cast("long").as("cnt")
    val sums = arms.flatMap(a => Seq(sum(col(a)).over(upTo).as(s"cum_$a"),
      sum(col(a)).over(all).as(s"n_$a")))
    hist.coalesce(1).select(col("*") +: cnt +: sums: _*)
      .withColumn("prev", arms.map(a => col(s"cum_$a")).reduce(_ + _) - col("cnt"))
      .withColumn("r2", lit(2L) * col("prev") + col("cnt") + lit(1L))
  }
  /** `hist` is a table name or a parenthesized query; NULLS FIRST is
    * Spark's ascending order.
    */
  private[graft] def SQL_VALUE_RANKS(hist: String, value: String,
      arms: Seq[String]): String = {
    val sums = arms.map(a =>
      s"CAST(SUM($a) OVER (ORDER BY $value NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_$a,\n" +
        s"    CAST(SUM($a) OVER () AS BIGINT) AS n_$a")
    s"""SELECT *, 2 * prev + cnt + 1 AS r2 FROM (
       |  SELECT *, ${arms.map(a => s"cum_$a").mkString(" + ")} - cnt AS prev FROM (
       |    SELECT *, CAST(${arms.mkString(" + ")} AS BIGINT) AS cnt,
       |    ${sums.mkString(",\n    ")}
       |    FROM $hist h) c) p""".stripMargin
  }
}
