package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe global ranking primitives.
  *
  * A global `row_number()`/`ntile()` window over an unpartitioned frame
  * funnels EVERY row through one window partition — the classic
  * single-task sort that stops scaling at ~10⁸ rows. The primitives
  * here produce the exact same numbers with a range-bucketed two-pass
  * shape instead:
  *
  *   1. bucket every row by WHERE its first sort-key value falls in a
  *      set of range boundaries (computed once, up front, as a tiny
  *      `approx_percentile` aggregate — see the in-method note on why
  *      NOT `repartitionByRange`),
  *   2. a per-bucket local `row_number` (windows partitioned by the
  *      bucket id, so every sort is partition-local),
  *   3. per-bucket row counts prefix-summed into offsets — a
  *      bucket-count-sized aggregate (≤ a few thousand rows at any
  *      scale) that is broadcast back, so global rank = offset + local
  *      rank.
  *
  * The only single-partition work is the prefix sum over the per-bucket
  * counts — O(buckets) rows, driver-trivial forever. The result is
  * EXACT (not approximate): boundary placement affects only how rows
  * are grouped, never their global rank, when the sort key is total
  * (pass a unique tiebreak column, same rule as SURVEY §7.4). Boundary
  * quality affects only balance — a skewed first column degrades to
  * fewer effective buckets, never to wrong ranks.
  */
object Ranking {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `df` plus `rnCol` = exact 1-based global row number under
    * `sortCols`, and `nCol` = the total row count (both LongType).
    * Range-bucketed two-pass; see object doc. `sortCols` must be a
    * total order (include a unique tiebreak).
    *
    * `bucketBy` drives the bucketing and must be a numeric expression
    * that is ASCENDING-monotonic in the `sortCols` ordering (rows that
    * sort earlier must have bucket values ≤ rows that sort later) and
    * null-free. It defaults to `sortCols.head`, which is correct for a
    * plain ascending first column; for a descending first column pass
    * its negation (see `win_ntile_buckets`).
    *
    * Note: runs one small Spark job eagerly (the boundary aggregate)
    * when called.
    */
  def withGlobalRowNumber(df: DataFrame, sortCols: Seq[Column],
      rnCol: String = "__rn", nCol: String = "__n",
      partitions: Int = 0, bucketBy: Column = null): DataFrame = {
    val p =
      if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // __pid is the range-bucket id, computed as a PURE EXPRESSION over
    // boundaries collected once on the driver. It must NOT come from
    // repartitionByRange + spark_partition_id(): this DataFrame is
    // consumed by two plan branches below (local ranks, bucket counts),
    // exchange reuse between them is an optimization rather than a
    // guarantee (diverging column pruning defeats it), and
    // RangePartitioner seeds its reservoir sample with the physical RDD
    // id — so un-reused branches can see DIFFERENT boundaries, local
    // ranks against one bucketing and offsets against another, and the
    // "global" row number silently gains duplicates and gaps (caught by
    // export_zorder_layout's oracle). A literal boundary array is
    // identical in every subtree by construction; it is (p-1) doubles —
    // model-parameter-sized, the IVF-codebook precedent.
    val rawBucket = Option(bucketBy).getOrElse(sortCols.head)
    // try_cast, not cast: under ANSI a malformed (e.g. string) bucket
    // value would throw a bare CAST_INVALID_INPUT from deep inside the
    // boundary aggregate; try_cast turns it into a NULL the guard below
    // counts and reports as the actual caller error (pass a numeric
    // bucketBy). The guard proves castfail == 0, so try_cast ≡ cast on
    // every row that reaches the bucket expression.
    val firstD = rawBucket.try_cast("double")
    val bounds: Seq[Double] =
      if (p <= 1) Seq.empty
      else {
        val probs = (1 until p).map(i => i.toDouble / p)
        // Alongside the boundaries, count the rows whose bucket value is
        // non-null but casts to NULL — a string first sort column does
        // exactly this, every row lands in bucket 0, and the API
        // silently recreates the single-task global sort it exists to
        // remove. That is a caller error; fail loudly (round-6 advice).
        val row = df.select(
          percentile_approx(firstD, array(probs.map(lit): _*), lit(10000)).as("b"),
          count(when(firstD.isNull && rawBucket.isNotNull, 1)).as("castfail"),
          count(when(firstD.isNull, 1)).as("nulls")).head()
        require(row.getLong(1) == 0L,
          s"withGlobalRowNumber: bucketBy (default sortCols.head) must be " +
            s"numeric — ${row.getLong(1)} row(s) have a non-null value that " +
            s"casts to NULL. Every row would fall into one range bucket, " +
            s"recreating the single-task global sort. Pass a numeric bucketBy.")
        if (row.getLong(2) > 0L)
          log.warn(s"withGlobalRowNumber: bucketBy is NULL on ${row.getLong(2)} " +
            s"row(s); they bucket FIRST, which is exact only for an ascending " +
            s"nulls-first sort — for a descending first column, nulls order " +
            s"last but bucket first, yielding wrong ranks. Pass a null-free " +
            s"bucketBy (e.g. coalesce to a sentinel).")
        if (row.isNullAt(0)) Seq.empty
        else row.getSeq[Double](0).toSeq
      }
    // Native binary-search bucket id: O(1) codegen size in p (the
    // fold-of-whens it replaces was p−1 additions deep — round-6
    // advice) and O(log p) per row. NOT the `aggregate(lit(bounds), …)`
    // HOF — see BucketIndex's scaladoc for the lambda-references
    // constraint-inference trap that form trips at this exact self-join.
    val pidExpr =
      if (bounds.isEmpty) lit(0)
      else {
        import org.apache.spark.sql.graftbridge.Bridge
        Bridge.column(
          graft.functions.BucketIndex(Bridge.expression(firstD), bounds.toArray))
      }
    val binned = df.withColumn("__pid", pidExpr)
    val wLocal = Window.partitionBy("__pid").orderBy(sortCols: _*)
    val local = binned.withColumn("__lrn", row_number().over(wLocal).cast("long"))
    // per-bucket counts → exclusive prefix sum; ≤ p rows, so the
    // unpartitioned window here is over a driver-trivial aggregate, not
    // the input (the whole point of the two-pass shape)
    val wOff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    val offsets = binned.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum("__cnt").over(wOff), lit(0L)))
      .withColumn(nCol, sum("__cnt").over(wAll))
      .select(col("__pid"), col("__off"), col(nCol))
    local.join(broadcast(offsets), "__pid")
      .withColumn(rnCol, col("__lrn") + col("__off"))
      // __off must not leak: a second ranking call on this output
      // (e.g. ts_rfm_segmentation's chained ntileExact scores) would
      // hit AMBIGUOUS_REFERENCE on its own __off
      .drop("__pid", "__lrn", "__off")
  }

  /** Bucket id from the group's broadcast boundary array as a
    * codegen'd when-chain: an `aggregate(bounds, ...)` higher-order
    * fold evaluates interpreted (~2 µs/element — the SURVEY §7.10
    * lesson #2 trap), which at p=32 bounds made the bucket pass the
    * dominant cost of the grouped devices; `get` is null-safe
    * out-of-bounds so short boundary arrays (tiny groups,
    * partitions=1) contribute 0.
    */
  private def pidFromBounds(p: Int, firstD: Column): Column =
    (0 until p - 1).foldLeft(lit(0)) { (acc, i) =>
      acc + when(firstD >= get(col("__bounds"), lit(i)), 1).otherwise(0)
    }

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
    * plain window). Every group is split across `partitions` range
    * buckets: per-group range boundaries come from one
    * `approx_percentile` aggregate (groups × (p−1) doubles — requires
    * the GROUP COUNT, not the data, to be broadcast-sized), a local
    * exclusive prefix sum runs within each (group, bucket) partition,
    * and per-(group, bucket) weight totals are prefix-summed into
    * offsets — a groups × p aggregate, never the input.
    *
    * `weight` must be integral or decimal for the sum to be
    * merge-order exact; `sortCols` must be a total order within a
    * group; `bucketBy` numeric + ascending-monotonic + null-free
    * (defaults to `sortCols.head`).
    */
  def withGroupedPrefixSum(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], weight: Column, outCol: String = "__psum",
      partitions: Int = 0, bucketBy: Column = null): DataFrame = {
    val p =
      if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val firstD = Option(bucketBy).getOrElse(sortCols.head).cast("double")
    val probs = (1 until p).map(i => i.toDouble / p)
    val wdf = df.withColumn("__w", weight)
    val bounds = wdf.groupBy(groupCols.map(col): _*)
      .agg(percentile_approx(firstD, array(probs.map(lit): _*), lit(10000))
        .as("__bounds"))
    // bucket id from the group's own boundary array — a pure expression
    // once the tiny bounds table is broadcast-joined in, so every
    // consumer subtree sees the identical bucketing (the same
    // reuse-independence argument as withGlobalRowNumber).
    //
    // Both joins below MUST be null-safe (<=>): a window PARTITION BY g
    // treats a NULL group key as a regular partition, but a plain
    // equi-join on groupCols silently DROPS those rows. The
    // bounds/offsets tables are renamed (__g_*) so the <=> condition is
    // unambiguous.
    def renamedG(t: DataFrame, keep: Seq[Column]): DataFrame =
      t.select(groupCols.map(g => col(g).as(s"__g_$g")) ++ keep: _*)
    def gMatch(right: DataFrame): Column =
      groupCols.map(g => col(g) <=> right(s"__g_$g")).reduce(_ && _)
    val gRenamed = groupCols.map(g => s"__g_$g")
    val boundsR = renamedG(bounds, Seq(col("__bounds")))
    val binned = wdf.join(broadcast(boundsR), gMatch(boundsR))
      .withColumn("__pid", pidFromBounds(p, firstD))
      .drop("__bounds").drop(gRenamed: _*)
    val gCols = groupCols.map(col)
    val wLocal = Window.partitionBy(gCols :+ col("__pid"): _*)
      .orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = binned.withColumn("__lps",
      coalesce(sum(col("__w")).over(wLocal), lit(0L)))
    // per-(group, bucket) totals → prefix sum within the group; the
    // window here runs over groups × p rows, never the input
    val wOff = Window.partitionBy(gCols: _*).orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = binned.groupBy(gCols :+ col("__pid"): _*)
      .agg(sum(col("__w")).as("__bw"))
      .withColumn("__off", coalesce(sum("__bw").over(wOff), lit(0L)))
    val offsetsR = renamedG(offsets,
      Seq(col("__pid").as("__opid"), col("__off")))
    local.join(broadcast(offsetsR),
        gMatch(offsetsR) && col("__pid") === col("__opid"))
      .withColumn(outCol, col("__lps") + col("__off"))
      .drop("__pid", "__lps", "__opid", "__off", "__w").drop(gRenamed: _*)
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
