package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.api.Ranking: the range-partitioned two-pass global ranks must
  * be BIT-IDENTICAL to the single-partition window functions they
  * replace, while never planning a full-input single-partition window.
  */
class RankingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def customer = Tables.customer(spark, TestSpark.sf0001)
  private val sortCols = Seq(col("c_acctbal").desc, col("c_custkey"))

  test("withGlobalRowNumber matches the global row_number window exactly") {
    val got = graft.api.Ranking
      .withGlobalRowNumber(customer, sortCols, partitions = 5,
        bucketBy = -col("c_acctbal"))
      .select(col("c_custkey"), col("__rn"), col("__n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val w = Window.orderBy(sortCols: _*)
    val expect = customer
      .select(col("c_custkey"), row_number().over(w).cast("long").as("rn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = expect.size.toLong
    assert(got.size == expect.size)
    expect.foreach { case (k, rn) => assert(got(k) == (rn, n), s"c_custkey=$k") }
  }

  test("ntileExact matches NTILE for tile counts with and without remainder") {
    val w = Window.orderBy(sortCols: _*)
    Seq(7, 10, 32).foreach { tiles =>
      val got = graft.api.Ranking.ntileExact(customer, tiles, sortCols,
        bucketBy = -col("c_acctbal"))
        .select(col("c_custkey"), col("__ntile"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = customer
        .select(col("c_custkey"), ntile(tiles).over(w).cast("long").as("t"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"tiles=$tiles diverged from NTILE")
    }
  }

  test("ntileExact handles fewer rows than tiles (each row its own tile)") {
    val tiny = customer.orderBy("c_custkey").limit(3)
    val got = graft.api.Ranking
      .ntileExact(tiny, 10, Seq(col("c_custkey")))
      .select(col("c_custkey"), col("__ntile"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L))
  }

  test("withGroupedRowNumber matches the per-group row_number window exactly") {
    val orders = Tables.orders(spark, TestSpark.sf0001)
    val sort = Seq(col("o_totalprice"), col("o_orderkey"))
    val got = graft.api.Ranking
      .withGroupedRowNumber(orders, Seq("o_orderpriority"), sort,
        partitions = 7)
      .select(col("o_orderkey"), col("__rn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Window.partitionBy("o_orderpriority").orderBy(sort: _*)
    val expect = orders
      .select(col("o_orderkey"), row_number().over(w).cast("long").as("rn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == expect.size)
    expect.foreach { case (k, rn) =>
      assert(got(k) == rn, s"o_orderkey=$k")
    }
  }

  test("withGroupedRowNumber keeps NULL group keys as their own partition") {
    // row_number() OVER (PARTITION BY g …) ranks NULL-keyed rows as a
    // regular partition; the bounds/offsets joins must be null-safe or
    // those rows silently vanish (round-6 advice, medium).
    val orders = Tables.orders(spark, TestSpark.sf0001)
      .withColumn("prio",
        when(col("o_orderpriority") === "1-URGENT", lit(null: String))
          .otherwise(col("o_orderpriority")))
    val sort = Seq(col("o_totalprice"), col("o_orderkey"))
    val got = graft.api.Ranking
      .withGroupedRowNumber(orders, Seq("prio"), sort, partitions = 7)
      .select(col("o_orderkey"), col("__rn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Window.partitionBy("prio").orderBy(sort: _*)
    val expect = orders
      .select(col("o_orderkey"), row_number().over(w).cast("long").as("rn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == expect.size,
      s"null-group rows dropped: got ${got.size}, expect ${expect.size}")
    expect.foreach { case (k, rn) => assert(got(k) == rn, s"o_orderkey=$k") }
  }

  test("withGroupedPrefixSum matches the exclusive per-group SUM window exactly") {
    // the stat_spearman shape: frequency table (group, value, cnt),
    // cum_before = exclusive prefix sum of cnt ordered by value
    val freq = Tables.lineitem(spark, TestSpark.sf0001)
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("cnt"))
    val got = graft.api.Ranking
      .withGroupedPrefixSum(freq, Seq("l_returnflag"),
        Seq(col("l_extendedprice")), col("cnt"), outCol = "cumb",
        partitions = 7)
      .select(col("l_returnflag"), col("l_extendedprice"), col("cumb"))
      .collect()
      .map(r => (r.getString(0), r.get(1).toString) -> r.getLong(2)).toMap
    val w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
      .rowsBetween(Window.unboundedPreceding, -1)
    val expect = freq
      .select(col("l_returnflag"), col("l_extendedprice"),
        coalesce(sum("cnt").over(w), lit(0L)).as("cumb"))
      .collect()
      .map(r => (r.getString(0), r.get(1).toString) -> r.getLong(2)).toMap
    assert(got.size == expect.size)
    expect.foreach { case (k, v) => assert(got(k) == v, s"key=$k") }
  }

  test("withGlobalRowNumber rejects a non-numeric bucket column loudly") {
    val ex = intercept[IllegalArgumentException] {
      graft.api.Ranking.withGlobalRowNumber(
        customer, Seq(col("c_name"), col("c_custkey")), partitions = 5)
    }
    assert(ex.getMessage.contains("numeric"), ex.getMessage)
  }

  test("global rank stays a permutation when consumer branches prune differently") {
    // Regression for the bug export_zorder_layout's oracle caught: the
    // rank consumer carries payload columns the count branch prunes
    // away, so the two subtrees would NOT share one exchange — with
    // repartitionByRange + spark_partition_id bucketing, each branch
    // could sample different range boundaries and the "global" row
    // number gained duplicates and gaps. The literal-boundary bucketing
    // must yield an exact 1..n permutation regardless of plan reuse.
    val keyed = Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_orderkey"), (col("o_custkey") % 256).as("x"),
        (col("o_orderkey") % 199).as("z"))
    val rns = graft.api.Ranking
      .withGlobalRowNumber(keyed, Seq(col("z"), col("o_orderkey")),
        partitions = 7)
      .select(col("__rn")).collect().map(_.getLong(0)).sorted
    assert(rns.toSeq == (1L to rns.length).toSeq,
      "row numbers must be an exact permutation of 1..n")
  }

  test("grouped rank stays a per-group permutation when consumer branches prune differently") {
    // The grouped form of the test above: the boundaries come from one
    // eager bounds job and are baked in as literals (a CASE over the
    // collected group keys), so both consumer subtrees bucket every row
    // identically — including a NULL group key's rows.
    val keyed = Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_orderkey"), (col("o_custkey") % 256).as("x"),
        (col("o_orderkey") % 199).as("z"),
        when(col("o_orderkey") % 5 === 0, lit(null: java.lang.Long))
          .otherwise(col("o_orderkey") % 3).as("g"))
    val byGroup = graft.api.Ranking
      .withGroupedRowNumber(keyed, Seq("g"), Seq(col("z"), col("o_orderkey")),
        partitions = 7)
      .select(col("g"), col("__rn")).collect()
      .groupBy(r => Option(r.get(0))).map { case (g, rs) => g -> rs.map(_.getLong(1)).sorted }
    assert(byGroup.size == 4 && byGroup.contains(None), byGroup.keys)
    byGroup.foreach { case (g, rns) =>
      assert(rns.toSeq == (1L to rns.length).toSeq,
        s"group $g: row numbers must be an exact permutation of 1..n")
    }
  }

  test("withGroupedPrefixSum rejects a non-numeric bucket column at the call") {
    // the bounds job runs inside the call, so the guard fires before
    // the caller runs any action on the result
    val ex = intercept[IllegalArgumentException] {
      graft.api.Ranking.withGroupedPrefixSum(Tables.orders(spark, TestSpark.sf0001),
        Seq("o_orderpriority"), Seq(col("o_orderstatus"), col("o_orderkey")),
        lit(1L), partitions = 5)
    }
    assert(ex.getMessage.contains("numeric"), ex.getMessage)
  }

  test("win_ntile_buckets plans no full-input global window") {
    val df = SparkEntry.queries("win_ntile_buckets")(spark, TestSpark.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ntile("), s"global NTILE window survived:\n$p")
    // the scale-safe shape: a hash exchange on the literal-boundary
    // bucket id feeds the per-bucket local windows; the only
    // unpartitioned window runs over the ≤p-row per-bucket count
    // aggregate (broadcast back as offsets)
    assert(p.contains("Exchange hashpartitioning(__pid"),
      s"expected the bucket-id hash exchange:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"offsets must join back via broadcast:\n$p")
  }
}
