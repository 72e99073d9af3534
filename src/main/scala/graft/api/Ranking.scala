package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe global and per-group ranking primitives.
  *
  * A global `row_number()`/`ntile()` window over an unpartitioned frame
  * funnels EVERY row through one window partition — the classic
  * single-task sort that stops scaling at ~10⁸ rows; a window
  * partitioned by a few-valued group key is a few such sorts. Every
  * primitive here produces the exact same numbers from one
  * range-bucketed two-pass body ([[bucketedPrefixSum]]), parameterized
  * by the group columns (none for a global rank):
  *
  *   1. bounds: ONE eager driver job per call, `groupBy(groups)` →
  *      `percentile_approx` boundaries plus the numeric-guard and NULL
  *      counts, collected — groups × (p−1) doubles, so the GROUP COUNT
  *      (not the data) must be broadcast-sized;
  *   2. bucket id `__pid`: [[graft.functions.BucketIndex]] over those
  *      boundaries baked in as literals (a null-safe CASE over the
  *      collected group keys when grouped), so every consumer subtree
  *      buckets every row identically, whether or not the plan reuses
  *      one exchange between them (NOT `repartitionByRange` +
  *      `spark_partition_id()`: its RangePartitioner samples per
  *      physical RDD, so un-reused branches could disagree and the
  *      row number gained duplicates and gaps — caught by
  *      export_zorder_layout's oracle);
  *   3. a local exclusive prefix sum within each (group, bucket)
  *      partition, plus per-(group, bucket) weight totals prefix-summed
  *      into offsets — a groups × p aggregate broadcast back, never the
  *      input — so prefix sum = offset + local sum.
  *
  * The result is EXACT (not approximate): boundary placement affects
  * only how rows are grouped, never their rank, when the sort key is
  * total (pass a unique tiebreak column, same rule as SURVEY §7.4).
  * Boundary quality affects only balance — a skewed first column
  * degrades to fewer effective buckets, never to wrong ranks.
  */
object Ranking {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `df` plus `rnCol` = exact 1-based global row number under
    * `sortCols`, and `nCol` = the total row count (both LongType).
    * `sortCols` must be a total order (include a unique tiebreak).
    *
    * `bucketBy` drives the bucketing and must be a numeric expression
    * that is ASCENDING-monotonic in the `sortCols` ordering (rows that
    * sort earlier must have bucket values ≤ rows that sort later) and
    * null-free. It defaults to `sortCols.head`, which is correct for a
    * plain ascending first column; for a descending first column pass
    * its negation (see `win_ntile_buckets`).
    *
    * Runs one small Spark job eagerly (the bounds) when called.
    */
  def withGlobalRowNumber(df: DataFrame, sortCols: Seq[Column],
      rnCol: String = "__rn", nCol: String = "__n",
      partitions: Int = 0, bucketBy: Column = null): DataFrame =
    bucketedPrefixSum(df, Nil, sortCols, lit(1L), rnCol, Some(nCol),
      partitions, bucketBy).withColumn(rnCol, col(rnCol) + 1L)

  /** `df` plus `rnCol` = exact 1-based row number under `sortCols`
    * WITHIN each `groupCols` group — the scale-safe form of
    * `row_number() OVER (PARTITION BY group ORDER BY …)` when there are
    * FEW, LARGE groups (5 priority classes over 100 TB = 5 single-task
    * sorts for the plain window). It is [[withGroupedPrefixSum]] with
    * weight ≡ 1: rn = psum + 1. For many small groups the plain window
    * is already parallel — use it directly.
    *
    * Same contract as [[withGlobalRowNumber]]: `sortCols` total within
    * a group, `bucketBy` numeric + ascending-monotonic + null-free
    * (defaults to `sortCols.head`).
    */
  def withGroupedRowNumber(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], rnCol: String = "__rn",
      partitions: Int = 0, bucketBy: Column = null): DataFrame =
    withGroupedPrefixSum(df, groupCols, sortCols, lit(1L), rnCol, partitions, bucketBy)
      .withColumn(rnCol, col(rnCol) + 1L)

  /** `df` plus `outCol` = exact EXCLUSIVE prefix sum of `weight`
    * under `sortCols` WITHIN each `groupCols` group — the scale-safe
    * form of `SUM(w) OVER (PARTITION BY g ORDER BY … ROWS BETWEEN
    * UNBOUNDED PRECEDING AND 1 PRECEDING)` when there are FEW, LARGE
    * groups (3 return flags over 100 TB = 3 single-task sorts for the
    * plain window).
    *
    * `weight` must be integral or decimal for the sum to be
    * merge-order exact; `sortCols` must be a total order within a
    * group; `bucketBy` numeric + ascending-monotonic + null-free
    * (defaults to `sortCols.head`). Runs one small Spark job eagerly
    * (the bounds) when called.
    */
  def withGroupedPrefixSum(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], weight: Column, outCol: String = "__psum",
      partitions: Int = 0, bucketBy: Column = null): DataFrame =
    bucketedPrefixSum(df, groupCols, sortCols, weight, outCol, None,
      partitions, bucketBy)

  /** The one two-pass body (see object doc): `df` plus `outCol`, the
    * exclusive prefix sum of `weight` within each `groupCols` group,
    * and, when `totalCol` is set, that group's weight total.
    */
  private def bucketedPrefixSum(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], weight: Column, outCol: String,
      totalCol: Option[String], partitions: Int, bucketBy: Column): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val p =
      if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val gCols = groupCols.map(col)
    val rawBucket = Option(bucketBy).getOrElse(sortCols.head)
    // try_cast, not cast: under ANSI a malformed (e.g. string) bucket
    // value would throw a bare CAST_INVALID_INPUT from deep inside the
    // bounds job; try_cast turns it into a NULL the guard below counts
    // and reports as the actual caller error. The guard proves
    // castfail == 0, so try_cast ≡ cast on every row that is bucketed.
    val firstD = rawBucket.try_cast("double")
    val probs = (1 until p).map(i => i.toDouble / p)
    // A string bucket column casts to NULL on every row, every row
    // lands in bucket 0, and the call silently recreates the
    // single-task sort it exists to remove: a caller error, so fail.
    val guards = Seq(
      count(when(firstD.isNull && rawBucket.isNotNull, 1)).as("__castfail"),
      count(when(firstD.isNull, 1)).as("__nulls"))
    val bounds =
      if (p <= 1) Nil
      else Seq(percentile_approx(firstD, array(probs.map(lit): _*), lit(10000)).as("__bounds"))
    val rows = df.groupBy(gCols: _*).agg(guards.head, guards.tail ++ bounds: _*).collect()
    val castfail = rows.map(_.getAs[Long]("__castfail")).sum
    require(castfail == 0L,
      s"Ranking: bucketBy (default sortCols.head) must be numeric — " +
        s"$castfail row(s) have a non-null value that casts to NULL. Every " +
        s"row would fall into one range bucket, recreating the single-task " +
        s"sort. Pass a numeric bucketBy.")
    val nulls = rows.map(_.getAs[Long]("__nulls")).sum
    if (nulls > 0L)
      log.warn(s"Ranking: bucketBy is NULL on $nulls row(s); they bucket " +
        s"FIRST, which is exact only for an ascending nulls-first sort — " +
        s"for a descending first column, nulls order last but bucket " +
        s"first, yielding wrong ranks. Pass a null-free bucketBy (e.g. " +
        s"coalesce to a sentinel).")
    // each group's boundaries as a literal; a group whose bucket
    // values are all NULL has none and stays in bucket 0
    val arms = rows.toSeq.flatMap { r =>
      if (p <= 1 || r.isNullAt(r.fieldIndex("__bounds"))) None
      else Some(gCols.zipWithIndex.map { case (g, i) => g <=> lit(r.get(i)) }
        .foldLeft(lit(true))(_ && _) -> typedLit(r.getAs[Seq[Double]]("__bounds")))
    }
    val pid =
      if (arms.isEmpty) lit(0)
      else {
        val boundsExpr =
          if (gCols.isEmpty) arms.head._2
          else arms.tail.foldLeft(when(arms.head._1, arms.head._2)) {
            case (c, (m, b)) => c.when(m, b)
          }
        Bridge.column(graft.functions.BucketIndex(
          Bridge.expression(firstD), Bridge.expression(boundsExpr)))
      }
    val binned = df.withColumn("__w", weight).withColumn("__pid", pid)
    val wLocal = Window.partitionBy(gCols :+ col("__pid"): _*)
      .orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = binned.withColumn("__lps",
      coalesce(sum(col("__w")).over(wLocal), lit(0L)))
    // per-(group, bucket) totals → prefix sum within the group; these
    // windows run over groups × p rows, never the input
    val wOff = Window.partitionBy(gCols: _*).orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = binned.groupBy(gCols :+ col("__pid"): _*)
      .agg(sum(col("__w")).as("__cnt"))
      .withColumn("__off", coalesce(sum("__cnt").over(wOff), lit(0L)))
      .withColumn("__tot", sum("__cnt").over(Window.partitionBy(gCols: _*)))
      // renamed (__g_*, __opid) so the join condition is unambiguous;
      // it must be null-safe (<=>): a window PARTITION BY g treats a
      // NULL group key as a regular partition, but a plain equi-join
      // on groupCols silently DROPS those rows
      .select(groupCols.map(g => col(g).as(s"__g_$g")) ++
        Seq(col("__pid").as("__opid"), col("__off"), col("__tot")): _*)
    val joined = local.join(broadcast(offsets),
      groupCols.foldLeft(col("__pid") === col("__opid")) { (c, g) =>
        c && (col(g) <=> col(s"__g_$g"))
      })
    totalCol.fold(joined)(n => joined.withColumn(n, col("__tot")))
      .withColumn(outCol, col("__lps") + col("__off"))
      // the scratch columns must not leak: a second ranking call on
      // this output (e.g. ts_rfm_segmentation's chained ntileExact
      // scores) would hit AMBIGUOUS_REFERENCE on its own __off
      .drop(Seq("__w", "__pid", "__lps", "__opid", "__off", "__tot") ++
        groupCols.map(g => s"__g_$g"): _*)
  }

  /** `df` plus `tileCol` = exact `NTILE(tiles)` under `sortCols`
    * (LongType, 1-based), without a global single-partition window.
    *
    * NTILE's front-loaded-remainder rule, applied to the two-pass
    * global row number: with n rows, q = n div tiles and r = n mod
    * tiles, the first r tiles hold q+1 rows and the rest hold q — all
    * integral arithmetic, so this matches the window function
    * bit-for-bit on any engine.
    */
  def ntileExact(df: DataFrame, tiles: Int, sortCols: Seq[Column],
      tileCol: String = "__ntile", bucketBy: Column = null): DataFrame = {
    require(tiles > 0, s"tiles must be positive, got $tiles")
    val withRn = withGlobalRowNumber(df, sortCols, bucketBy = bucketBy)
    // floor-division via doubles is exact below 2^53 rows — 9×10^15,
    // comfortably above any corpus (100 TB ≈ 10^12-10^13 rows)
    def fdiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val q = fdiv(col("__n"), lit(tiles))
    val r = col("__n") % lit(tiles)
    val head = r * (q + lit(1)) // rows living in the size-(q+1) tiles
    val rn0 = col("__rn") - lit(1)
    val tile = when(rn0 < head, fdiv(rn0, q + lit(1)))
      .otherwise(r + fdiv(rn0 - head, q))
    withRn.withColumn(tileCol, (tile + lit(1)).cast("long"))
      .drop("__rn", "__n")
  }
}
