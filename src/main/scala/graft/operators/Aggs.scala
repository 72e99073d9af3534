package graft.operators

import graft.{Ops, Q, Tables}
import graft.Ops.SQL_HEX15
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.D — aggregations.
  *
  * Scale notes: all groupBy aggregates here compile to partial
  * HashAggregate (map-side combine) + final HashAggregate after a
  * key-shuffle — linear scans with small shuffled state at any scale.
  * No driver-side state; spill to sort-based agg is automatic.
  */
object Aggs {
  import Ops._

  /** ln C(m, j) as an in-row ORDERED fold Σ_{i=1..j} ln((m−i+1)/i) with
    * a j<1 guard — the portable log-binomial both exact tests
    * (stat_fisher_exact, stat_bh_fdr) build their hypergeometric
    * probabilities from; neither engine exposes lgamma in the
    * dialect-shared surface. `lncS` is the Spark-SQL spelling, `lncD`
    * the DuckDB one; both fold in written index order.
    */
  private def lncS(m: String, j: String) =
    s"""CASE WHEN ($j) < 1 THEN 0.0 ELSE
       |aggregate(transform(sequence(1, CAST($j AS INT)),
       |  i -> ln((CAST($m AS DOUBLE) - i + 1.0) / i)),
       |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) END""".stripMargin
  private def lncD(m: String, j: String) =
    s"""CASE WHEN ($j) < 1 THEN 0.0 ELSE
       |list_sum(list_transform(generate_series(1, CAST($j AS INT)),
       |  i -> ln((CAST($m AS DOUBLE) - i + 1.0) / i))) END""".stripMargin

  /** [[Ops.valueRanks]] over the event-value histogram of the two arms
    * every two-sample events test compares: `a` counts clicks, `b`
    * views (so the arm totals are `n_a` and `n_b`).
    */
  private[operators] def clickViewRanks(s: SparkSession, d: String): DataFrame =
    valueRanks(Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .groupBy("value")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("b")),
      "value", Seq("a", "b"))
  private[operators] val SQL_CLICK_VIEW_RANKS: String = SQL_VALUE_RANKS(
    """(SELECT value,
      |      SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
      |      SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b
      |    FROM events WHERE event_type IN ('click', 'view')
      |    GROUP BY value)""".stripMargin, "value", Seq("a", "b"))

  val queries: Seq[Q] = Seq(
    Q("agg_pricing_summary",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsumExact(revenueDec(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price"),
          dsumExact(chargeDec(col("l_extendedprice"), col("l_discount"), col("l_tax"))).as("sum_charge"),
          avg4(col("l_quantity")).as("avg_qty"),
          avg4(col("l_extendedprice")).as("avg_price"),
          avg46(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |${SQL_DSUM("l_quantity")} AS sum_qty,
              |${SQL_DSUM("l_extendedprice")} AS sum_base_price,
              |${SQL_DSUM_EXACT(SQL_REV_DEC)} AS sum_disc_price,
              |${SQL_DSUM_EXACT(SQL_CHARGE_DEC)} AS sum_charge,
              |${SQL_AVG4("l_quantity")} AS avg_qty,
              |${SQL_AVG4("l_extendedprice")} AS avg_price,
              |${SQL_AVG46("l_discount")} AS avg_disc,
              |COUNT(*) AS count_order
              |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("agg_count_distinct",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Exact distinct via BITMAP aggregation (Spark 3.5+ bitmap fns):
    // bitmap_construct_agg packs ids into fixed 4 KB bucket bitmaps, so
    // the shuffle carries one bitmap per (group, 32k-id bucket) instead
    // of every distinct id — the standard exact-distinct-at-scale trick
    // when ids are dense integers (COUNT(DISTINCT) expands rows; HLL
    // approximates; bitmaps do exact with bounded state). The oracle is
    // plain COUNT(DISTINCT): same answer, different machinery.
    Q("agg_bitmap_distinct",
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("events")
        s.sql("""SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_users
                |FROM (
                |  SELECT event_type, bitmap_bucket_number(user_id) AS b,
                |         bitmap_count(bitmap_construct_agg(bitmap_bit_position(user_id))) AS cnt
                |  FROM events GROUP BY event_type, b)
                |GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Sketch-valued → deliberately no oracle (HLL++ estimate is
    // engine-specific); unit test asserts within 5% of exact.
    Q("agg_approx_hll",
      (s, d) => Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
        .orderBy("day"),
      None),

    // Skewness + excess kurtosis per group from EXACT integer power
    // sums: l_quantity is integral, so Σq..Σq⁴ are exact longs (q⁴ ≤
    // 6.25e6 × row count — fits 64 bits far past sf100) and the
    // central-moment formulas are pure mirrored double math on exact
    // inputs — no float accumulation, unlike the built-in
    // skewness()/kurtosis() whose merge order is partition-dependent.
    // m2^1.5 is written m2·sqrt(m2): sqrt is IEEE correctly-rounded
    // and engine-identical, pow is libm and is not.
    Q("stat_skew_kurtosis",
      (s, d) => {
        val q = col("l_quantity").cast("long")
        val m = Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum(q).as("s1"),
            sum(q * q).as("s2"), sum(q * q * q).as("s3"),
            sum(q * q * q * q).as("s4"))
          .withColumn("mean", col("s1").cast("double") / col("n"))
          .withColumn("m2",
            col("s2").cast("double") / col("n") - col("mean") * col("mean"))
          .withColumn("m3",
            col("s3").cast("double") / col("n")
              - lit(3.0) * col("mean") * (col("s2").cast("double") / col("n"))
              + lit(2.0) * col("mean") * col("mean") * col("mean"))
          .withColumn("m4",
            col("s4").cast("double") / col("n")
              - lit(4.0) * col("mean") * (col("s3").cast("double") / col("n"))
              + lit(6.0) * col("mean") * col("mean") *
                (col("s2").cast("double") / col("n"))
              - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
        m.select(col("l_returnflag"), col("n"), col("mean").as("mean_qty"),
            (col("m3") / (col("m2") * sqrt(col("m2")))).as("skewness"),
            (col("m4") / (col("m2") * col("m2")) - lit(3.0))
              .as("kurtosis_excess"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, n, mean AS mean_qty,
             |  m3 / (m2 * sqrt(m2)) AS skewness,
             |  m4 / (m2 * m2) - 3.0e0 AS kurtosis_excess
             |FROM (
             |  SELECT l_returnflag, n, mean,
             |    CAST(s2 AS DOUBLE) / n - mean * mean AS m2,
             |    CAST(s3 AS DOUBLE) / n
             |      - 3.0e0 * mean * (CAST(s2 AS DOUBLE) / n)
             |      + 2.0e0 * mean * mean * mean AS m3,
             |    CAST(s4 AS DOUBLE) / n
             |      - 4.0e0 * mean * (CAST(s3 AS DOUBLE) / n)
             |      + 6.0e0 * mean * mean * (CAST(s2 AS DOUBLE) / n)
             |      - 3.0e0 * mean * mean * mean * mean AS m4
             |  FROM (
             |    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             |      CAST(SUM(q) AS BIGINT) AS s1,
             |      CAST(SUM(q * q) AS BIGINT) AS s2,
             |      CAST(SUM(q * q * q) AS BIGINT) AS s3,
             |      CAST(SUM(q * q * q * q) AS BIGINT) AS s4,
             |      CAST(SUM(q) AS DOUBLE) / COUNT(*) AS mean
             |    FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
             |          FROM lineitem) t
             |    GROUP BY l_returnflag) sums) mom
             |ORDER BY l_returnflag""".stripMargin)),

    // Weighted median (50th weighted percentile) of price weighted by
    // quantity, per return flag — the "median price per UNIT sold"
    // question an unweighted median answers wrongly. Fully exact
    // device: weights are integral quantities, the cumulative weight is
    // an exact integer window sum under the (price, orderkey,
    // linenumber) total order, and the selected row is the first with
    // 2·cum ≥ total — an INTEGER comparison (no /2, no float
    // accumulation anywhere; the emitted median is a value from the
    // data, not an interpolation). One window sort per group.
    Q("agg_percentile_weighted",
      (s, d) => {
        val rows = Tables.lineitem(s, d).select(col("l_returnflag"),
          col("l_extendedprice").as("v"),
          col("l_quantity").cast("long").as("w"),
          col("l_orderkey"), col("l_linenumber"))
        val ord = Window.partitionBy("l_returnflag")
          .orderBy(col("v"), col("l_orderkey"), col("l_linenumber"))
        val tot = Window.partitionBy("l_returnflag")
        val pick = Window.partitionBy("l_returnflag")
          .orderBy(col("v"), col("l_orderkey"), col("l_linenumber"))
        rows
          .withColumn("cw", sum("w").over(ord))
          .withColumn("tw", sum("w").over(tot))
          .filter(col("cw") * 2 >= col("tw"))
          .withColumn("rn", row_number().over(pick))
          .filter(col("rn") === 1)
          .select(col("l_returnflag"), col("tw").as("total_weight"),
            col("v").as("weighted_median"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, CAST(tw AS BIGINT) AS total_weight,
             |  v AS weighted_median FROM (
             |  SELECT l_returnflag, v, tw,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |      ORDER BY v, l_orderkey, l_linenumber) AS rn
             |  FROM (
             |    SELECT l_returnflag, l_extendedprice AS v, l_orderkey, l_linenumber,
             |      SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag
             |        ORDER BY l_extendedprice, l_orderkey, l_linenumber
             |        ROWS UNBOUNDED PRECEDING) AS cw,
             |      SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag) AS tw
             |    FROM lineitem) c
             |  WHERE cw * 2 >= tw) p
             |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin)),

    // Tukey fences (1.5×IQR) outlier audit per market segment: exact
    // interpolating quartiles (Spark `percentile` ↔ DuckDB
    // `quantile_cont` — the win_mad device), fence arithmetic in
    // mirrored double math, then one broadcast-join of the 5-row fence
    // table back onto the rows for exact-comparison counting. The
    // boxplot rule — the robust outlier screen profiling dashboards
    // run per column.
    Q("stat_outlier_tukey",
      (s, d) => {
        val cust = Tables.customer(s, d)
        val q = cust.groupBy("c_mktsegment")
          .agg(expr("percentile(c_acctbal, 0.25)").as("q1"),
            expr("percentile(c_acctbal, 0.75)").as("q3"))
          .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
          .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
        cust.join(broadcast(q), "c_mktsegment")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), max("q1").as("q1"), max("q3").as("q3"),
            sum(when(col("c_acctbal") < col("lo") ||
              col("c_acctbal") > col("hi"), 1L).otherwise(0L)).as("n_outliers"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH q AS (
             |  SELECT c_mktsegment,
             |    quantile_cont(c_acctbal, 0.25) AS q1,
             |    quantile_cont(c_acctbal, 0.75) AS q3
             |  FROM customer GROUP BY c_mktsegment),
             |f AS (SELECT c_mktsegment, q1, q3,
             |        q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
             |      FROM q)
             |SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
             |  MAX(f.q1) AS q1, MAX(f.q3) AS q3,
             |  CAST(SUM(CASE WHEN c.c_acctbal < f.lo OR c.c_acctbal > f.hi
             |       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM customer c JOIN f USING (c_mktsegment)
             |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)),

    // MERGEABLE HLL (Datasketches): per-day user sketches UNIONED into
    // a period total — the two-level aggregation that makes sketches
    // the 100-TB device (daily partials persist as ~KB binaries; any
    // rollup window is a re-union, never a re-scan of raw events).
    // approx_count_distinct alone can't do this: its sketch is not a
    // first-class value. No oracle (sketch hashing is engine-specific
    // — the agg_approx_hll precedent); AggEdgeSpec asserts the union
    // estimate within the HLL error bound of exact, and that
    // union-of-parts equals the one-shot sketch estimate.
    Q("agg_hll_union",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"),
            count(lit(1)).as("n_events"))
        daily.agg(count(lit(1)).as("n_days"),
          sum("n_events").as("n_events"),
          hll_sketch_estimate(hll_union_agg(col("sk")))
            .as("approx_distinct_users"))
      },
      None),

    // Count-min sketch heavy-hitter estimates — the third sketch of
    // the family (HLL = distincts, KLL/percentile = quantiles, CMS =
    // frequencies). The sketch is built distributed (one mergeable
    // aggregate, the point of CMS at 100 TB: eps=0.001/δ=0.01 is a
    // fixed ~2 KB of state per executor regardless of corpus size),
    // then queried driver-side as a model artifact (the kmeans
    // pattern). Fixed seed ⇒ deterministic runs; no oracle — sketch
    // layout is engine-specific hashing (the agg_approx_hll
    // precedent) — AggEdgeSpec asserts the CMS guarantee instead
    // (exact ≤ est ≤ exact + eps·N).
    Q("agg_count_min",
      (s, d) => {
        val ev = Tables.events(s, d)
        val skBytes = ev.select(count_min_sketch(col("event_type"),
            lit(0.001), lit(0.99), lit(42)).as("sk"))
          .head().getAs[Array[Byte]](0)
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(skBytes))
        val est = udf((t: String) => cms.estimateCount(t))
        ev.groupBy("event_type").agg(count(lit(1)).as("exact_n"))
          .withColumn("cms_estimate", est(col("event_type")))
          .orderBy("event_type")
      },
      None),

    // Portable Count-Min: the same sketch as agg_count_min but built
    // from first principles as relational ops — d=4 md5-derived hash
    // rows × w=256 counters via one map-side-combined (row, bucket)
    // aggregate — so the full estimate table IS oracle-checkable
    // (Spark's builtin count_min_sketch stays declared above as the
    // engine surface; its layout is engine-private hashing, hence
    // no-oracle). The probe side joins the ≤1024-cell sketch
    // (auto-broadcast) and takes the row-wise MIN; the CMS guarantee
    // (never underestimates) ships as an output column instead of a
    // spec-only assert. Scale: sketch state is O(d·w) regardless of
    // corpus — the point of CMS at 100 TB — and the build is one pass.
    Q("agg_cms_portable",
      (s, d) => {
        val D = 4; val W = 256
        val ev = Tables.events(s, d).select(col("user_id"))
        def bucketOf(j: Column, id: Column) =
          conv(substring(md5(concat(lit("cms"), j.cast("string"), lit(":"),
            id.cast("string"))), 1, 15), 16, 10).cast("long") % W
        val hb = ev.withColumn("j", explode(expr(s"sequence(0, ${D - 1})")))
          .withColumn("bucket", bucketOf(col("j"), col("user_id")))
        val sketch = hb.groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))
        val keys = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
        keys.withColumn("j", explode(expr(s"sequence(0, ${D - 1})")))
          .withColumn("bucket", bucketOf(col("j"), col("user_id")))
          .join(sketch, Seq("j", "bucket"))
          .groupBy("user_id", "exact_n")
          .agg(min("cnt").as("cms_estimate"))
          .select(col("user_id"), col("exact_n"), col("cms_estimate"),
            (col("cms_estimate") >= col("exact_n")).as("never_underestimates"))
          .orderBy("user_id")
      },
      Some(s"""WITH hb AS (
              |  SELECT user_id,
              |    j, ${SQL_HEX15("md5('cms' || CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))")} % 256 AS bucket
              |  FROM events, unnest(generate_series(0, 3)) t(j)),
              |sketch AS (
              |  SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
              |  FROM hb GROUP BY 1, 2),
              |keys_ AS (
              |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
              |  FROM events GROUP BY 1),
              |probes AS (SELECT DISTINCT user_id, j, bucket FROM hb)
              |SELECT k.user_id, k.exact_n,
              |  MIN(s.cnt) AS cms_estimate,
              |  MIN(s.cnt) >= k.exact_n AS never_underestimates
              |FROM keys_ k JOIN probes p ON k.user_id = p.user_id
              |JOIN sketch s ON p.j = s.j AND p.bucket = s.bucket
              |GROUP BY k.user_id, k.exact_n
              |ORDER BY k.user_id""".stripMargin)),

    Q("agg_grouping_sets",
      (s, d) => Tables.customer(s, d)
        .groupingSets(
          Seq(Seq(col("c_mktsegment"), col("c_nationkey")),
            Seq(col("c_mktsegment")), Seq()),
          col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
        .select(
          coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
          coalesce(col("c_nationkey"), lit(-1)).as("nat"),
          col("n_cust"), col("sum_bal"))
        .orderBy("seg", "nat"),
      Some(s"""SELECT COALESCE(c_mktsegment, 'ALL') AS seg,
              |COALESCE(c_nationkey, -1) AS nat,
              |COUNT(*) AS n_cust, ${SQL_DSUM("c_acctbal")} AS sum_bal
              |FROM customer
              |GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_mktsegment), ())
              |ORDER BY seg, nat""".stripMargin)),

    Q("agg_rollup",
      (s, d) => Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("o_totalprice"))
        // rollup(a,b) ≡ grouping sets ((a,b),(a),()); the groupingSets
        // DSL sidesteps a Spark 4 analyzer false-positive ("ambiguous
        // column") when rollup() sits directly on a multi-join input.
        .groupingSets(
          Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name")), Seq()),
          col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n_orders"), col("sum_price"))
        .orderBy("region", "nation"),
      Some(s"""SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
              |COUNT(*) AS n_orders, ${SQL_DSUM("o_totalprice")} AS sum_price
              |FROM orders
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY ROLLUP (r_name, n_name)
              |ORDER BY region, nation""".stripMargin)),

    Q("agg_cube",
      (s, d) => Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls"),
      Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
              |COUNT(*) AS n, ${SQL_DSUM("l_quantity")} AS sum_qty
              |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              |ORDER BY rf, ls""".stripMargin)),

    // collect_list output serialized to a CSV string at the boundary
    // (driver's pandas sort cannot hash array cells); the sorted list
    // itself is the aggregate under test.
    Q("agg_collect_sorted",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(concat_ws(",", sort_array(collect_list(col("o_orderkey"))))
          .as("orderkeys"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys
             |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    Q("agg_percentiles",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
             |ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("dedup_dropduplicates",
      (s, d) => Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_nationkey"))
        .dropDuplicates("c_mktsegment", "c_nationkey")
        .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
             |ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // Pivot with an explicit value list (deterministic columns); the
    // oracle mirrors with FILTERed aggregates.
    Q("agg_pivot",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
             |COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
             |COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Unpivot/melt (inverse of pivot): wide metric columns to long
    // (metric, value) rows — the normalization step of stats collectors.
    Q("agg_unpivot",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric"),
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
             |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),

    // Sketch-based percentiles (no oracle — approximation is
    // engine-specific; AggEdgeSpec bounds the error vs exact). The two
    // quantiles are emitted as scalar columns so the driver can at
    // least row-count the output (arrays crash its pandas sort).
    Q("agg_approx_percentile",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)")
          .as("ap"))
        .select(col("l_returnflag"),
          element_at(col("ap"), 1).as("approx_p50"),
          element_at(col("ap"), 2).as("approx_p95"))
        .orderBy("l_returnflag"),
      None),

    // Statistical moments. round(…,4) absorbs the last-ulp differences
    // between the engines' streaming-variance algorithms.
    Q("agg_stats",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qty_disc"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
             |ROUND(var_samp(l_quantity), 4) AS var_qty,
             |ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
             |ROUND(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Deterministic modal value (built-in mode() breaks ties
    // arbitrarily; this groupBy+window form pins the tie-break).
    Q("agg_mode_median",
      (s, d) => {
        val counts = Tables.orders(s, d)
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(col("cnt").desc, col("o_orderpriority"))
        val modes = counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_orderstatus"), col("o_orderpriority").as("modal_priority"))
        val medians = Tables.orders(s, d)
          .groupBy("o_orderstatus")
          .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"))
        modes.join(medians, "o_orderstatus").orderBy("o_orderstatus")
      },
      Some("""WITH counts AS (
             |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
             |  FROM orders GROUP BY o_orderstatus, o_orderpriority),
             |modes AS (
             |  SELECT o_orderstatus, o_orderpriority AS modal_priority FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
             |      ORDER BY cnt DESC, o_orderpriority) AS rn FROM counts) t
             |  WHERE rn = 1),
             |medians AS (
             |  SELECT o_orderstatus, ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price
             |  FROM orders GROUP BY o_orderstatus)
             |SELECT o_orderstatus, modal_priority, median_price
             |FROM modes JOIN medians USING (o_orderstatus)
             |ORDER BY o_orderstatus""".stripMargin)),

    Q("agg_bool_bit",
      (s, d) => Tables.customer(s, d)
        .groupBy("c_mktsegment")
        .agg(
          bool_and(col("c_acctbal") > -1000.0).as("all_above_neg1k"),
          bool_or(col("c_acctbal") > 9000.0).as("any_above_9k"),
          bit_and(col("c_nationkey")).as("nation_bit_and"),
          bit_or(col("c_nationkey")).as("nation_bit_or"),
          bit_xor(col("c_nationkey")).as("nation_bit_xor"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment,
             |bool_and(c_acctbal > -1000.0) AS all_above_neg1k,
             |bool_or(c_acctbal > 9000.0) AS any_above_9k,
             |bit_and(c_nationkey) AS nation_bit_and,
             |bit_or(c_nationkey) AS nation_bit_or,
             |bit_xor(c_nationkey) AS nation_bit_xor
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    Q("udaf_geomean",
      (s, d) => {
        val geomean = udaf(graft.functions.GeoMean)
        Tables.events(s, d)
          .groupBy("event_type")
          .agg(round(geomean(col("value")), 4).as("geo_mean"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, ROUND(EXP(AVG(LN(value))), 4) AS geo_mean
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Fixed-bin histogram: floor(x / width) capped to the last bucket.
    // Division + floor are single IEEE ops — bit-identical across
    // engines (unlike accumulated sums). One hash aggregate at any
    // scale; bin bounds are literals so no second pass for min/max.
    // DataFrameStatFunctions crosstab: status × priority contingency
    // table (the collector's ownership/format breakdown shape). The
    // oracle rebuilds it with FILTER pivots over the known value set.
    Q("stat_crosstab",
      (s, d) => Tables.orders(s, d)
        .stat.crosstab("o_orderstatus", "o_orderpriority")
        .orderBy("o_orderstatus_o_orderpriority"),
      Some {
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        val cols = prios.map(p =>
          s"""COUNT(*) FILTER (WHERE o_orderpriority = '$p') AS "$p"""").mkString(", ")
        s"""SELECT o_orderstatus AS "o_orderstatus_o_orderpriority", $cols
           |FROM orders GROUP BY o_orderstatus
           |ORDER BY o_orderstatus_o_orderpriority""".stripMargin
      }),

    // Gini coefficient of order value per priority class — the
    // inequality measure every revenue/usage-concentration dashboard
    // wants. Exact rank-sum form: G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) with
    // x sorted ascending within the group. The within-group rank comes
    // from Ranking.withGroupedRowNumber, NOT a plain window partitioned
    // by the 5-value priority key: 5 groups over 100 TB would be 5
    // single-task sorts — the grouped two-pass splits every group
    // across all range buckets and prefix-sums only (groups × buckets)
    // counts. Σi·x stays exact in DECIMAL (integer rank × decimal
    // money); only the final ratio drops to double.
    Q("stat_gini",
      (s, d) => {
        graft.api.Ranking.withGroupedRowNumber(
            Tables.orders(s, d), Seq("o_orderpriority"),
            Seq(col("o_totalprice"), col("o_orderkey")), rnCol = "i")
          .select(col("o_orderpriority"),
            col("o_totalprice").cast("decimal(18,2)").as("x"), col("i"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"),
            sum(col("x") * col("i")).as("six"))
          .select(col("o_orderpriority"), col("n"),
            round((lit(2.0) * col("six").cast("double")
              - (col("n") + 1).cast("double") * col("sx").cast("double"))
              / (col("n").cast("double") * col("sx").cast("double")), 6)
              .as("gini"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH r AS (
             |  SELECT o_orderpriority,
             |    CAST(o_totalprice AS DECIMAL(18,2)) AS x,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS i
             |  FROM orders)
             |SELECT o_orderpriority, COUNT(*) AS n,
             |  ROUND((2.0 * CAST(SUM(x * i) AS DOUBLE)
             |    - CAST(COUNT(*) + 1 AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
             |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)), 6)
             |    AS gini
             |FROM r GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // Shannon entropy of each cohort's event-type mix — the diversity
    // measure for behavioral segmentation (and for training-mix
    // balance checks). Counts are exact integers from one hash
    // aggregate; p·log₂p runs over the handful of event types per
    // cohort, so the double sum has too few terms to drift past
    // ROUND(…,4) on any merge order.
    Q("stat_entropy",
      (s, d) => {
        val counts = Tables.events(s, d)
          .groupBy((col("user_id") % 15).as("cohort"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val totals = counts.groupBy("cohort")
          .agg(sum("cnt").as("tot"), count(lit(1)).as("n_types"))
        counts.join(totals, "cohort")
          .withColumn("p", col("cnt").cast("double") / col("tot").cast("double"))
          .groupBy("cohort")
          .agg(max(col("n_types")).as("n_types"), max(col("tot")).as("n_events"),
            round(-sum(col("p") * log2(col("p"))), 4).as("entropy_bits"))
          .orderBy("cohort")
      },
      Some("""WITH c AS (
             |  SELECT user_id % 15 AS cohort, event_type, COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |t AS (
             |  SELECT cohort, SUM(cnt) AS tot, COUNT(*) AS n_types
             |  FROM c GROUP BY cohort)
             |SELECT c.cohort,
             |  MAX(t.n_types) AS n_types,
             |  CAST(MAX(t.tot) AS BIGINT) AS n_events,
             |  ROUND(-SUM((CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
             |    * log2(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))), 4)
             |    AS entropy_bits
             |FROM c JOIN t USING (cohort)
             |GROUP BY c.cohort ORDER BY cohort""".stripMargin)),

    // Median absolute deviation per group — the robust dispersion
    // measure. Two exact-percentile aggregates chained through a
    // broadcast of the per-group medians (5 rows); each percentile is
    // Spark's exact interpolating `percentile` ↔ DuckDB `quantile_cont`
    // (the agg_mode_median device), so the result is deterministic at
    // ROUND(…,4) with no merge-order exposure.
    Q("win_mad",
      (s, d) => {
        val med = Tables.orders(s, d)
          .groupBy("o_orderpriority")
          .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
        Tables.orders(s, d)
          .join(broadcast(med), "o_orderpriority")
          .withColumn("dev", abs(col("o_totalprice") - col("med")))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            round(max(col("med")), 4).as("median_price"),
            round(expr("percentile(dev, 0.5)"), 4).as("mad"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH med AS (
             |  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
             |  FROM orders GROUP BY o_orderpriority)
             |SELECT o.o_orderpriority, COUNT(*) AS n,
             |  ROUND(MAX(m.med), 4) AS median_price,
             |  ROUND(quantile_cont(abs(o.o_totalprice - m.med), 0.5), 4) AS mad
             |FROM orders o JOIN med m USING (o_orderpriority)
             |GROUP BY o.o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Pearson correlation matrix over the lineitem measures, computed
    // from EXACT decimal co-moments (Σx, Σy, Σxy, Σx², Σy² as
    // DECIMAL sums of cent-exact values) rather than the built-in
    // `corr` aggregate: the built-in accumulates doubles whose merge
    // order differs between engines and partitionings, while decimal
    // sums are associative-exact, so only the final closed-form ratio
    // drops to double — deterministic at ROUND(…,4) at any scale. One
    // hash aggregate, one row per group.
    Q("stat_corr_matrix",
      (s, d) => {
        def dd(c: String) = col(c).cast("decimal(18,2)")
        val li = Tables.lineitem(s, d).select(col("l_returnflag"),
          dd("l_quantity").as("q"), dd("l_extendedprice").as("p"),
          dd("l_discount").as("dc"))
        def corrOf(sx: Column, sy: Column, sxy: Column, sx2: Column,
            sy2: Column, n: Column): Column = {
          val nd = n.cast("double")
          val num = nd * sxy.cast("double") - sx.cast("double") * sy.cast("double")
          val den = sqrt(nd * sx2.cast("double") - pow(sx.cast("double"), 2)) *
            sqrt(nd * sy2.cast("double") - pow(sy.cast("double"), 2))
          round(num / den, 4)
        }
        li.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum("q").as("sq"), sum("p").as("sp"), sum("dc").as("sd"),
            sum(col("q") * col("p")).as("sqp"),
            sum(col("q") * col("dc")).as("sqd"),
            sum(col("p") * col("dc")).as("spd"),
            sum(col("q") * col("q")).as("sq2"),
            sum(col("p") * col("p")).as("sp2"),
            sum(col("dc") * col("dc")).as("sd2"))
          .select(col("l_returnflag"), col("n"),
            corrOf(col("sq"), col("sp"), col("sqp"), col("sq2"), col("sp2"),
              col("n")).as("corr_qty_price"),
            corrOf(col("sq"), col("sd"), col("sqd"), col("sq2"), col("sd2"),
              col("n")).as("corr_qty_disc"),
            corrOf(col("sp"), col("sd"), col("spd"), col("sp2"), col("sd2"),
              col("n")).as("corr_price_disc"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    SUM(q) AS sq, SUM(p) AS sp, SUM(dc) AS sd,
             |    SUM(q*p) AS sqp, SUM(q*dc) AS sqd, SUM(p*dc) AS spd,
             |    SUM(q*q) AS sq2, SUM(p*p) AS sp2, SUM(dc*dc) AS sd2
             |  FROM (SELECT l_returnflag,
             |      CAST(l_quantity AS DECIMAL(18,2)) AS q,
             |      CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             |      CAST(l_discount AS DECIMAL(18,2)) AS dc
             |    FROM lineitem) x GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  ROUND((CAST(n AS DOUBLE)*CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sp AS DOUBLE))
             |    / (sqrt(CAST(n AS DOUBLE)*CAST(sq2 AS DOUBLE) - pow(CAST(sq AS DOUBLE), 2))
             |     * sqrt(CAST(n AS DOUBLE)*CAST(sp2 AS DOUBLE) - pow(CAST(sp AS DOUBLE), 2))), 4)
             |    AS corr_qty_price,
             |  ROUND((CAST(n AS DOUBLE)*CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sd AS DOUBLE))
             |    / (sqrt(CAST(n AS DOUBLE)*CAST(sq2 AS DOUBLE) - pow(CAST(sq AS DOUBLE), 2))
             |     * sqrt(CAST(n AS DOUBLE)*CAST(sd2 AS DOUBLE) - pow(CAST(sd AS DOUBLE), 2))), 4)
             |    AS corr_qty_disc,
             |  ROUND((CAST(n AS DOUBLE)*CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sd AS DOUBLE))
             |    / (sqrt(CAST(n AS DOUBLE)*CAST(sp2 AS DOUBLE) - pow(CAST(sp AS DOUBLE), 2))
             |     * sqrt(CAST(n AS DOUBLE)*CAST(sd2 AS DOUBLE) - pow(CAST(sd AS DOUBLE), 2))), 4)
             |    AS corr_price_disc
             |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Per-group OLS regression (price ~ quantity per return flag):
    // slope / intercept / r² from the same exact-decimal co-moment
    // device as stat_corr_matrix — sums are DECIMAL(18,2) (exact,
    // partitioning-independent), the closed-form regression math runs
    // on doubles in textually mirrored expression order, outputs
    // rounded to 4. One map-side-combined aggregate; safe at any scale.
    Q("stat_linreg",
      (s, d) => {
        def dd(c: String) = col(c).cast("decimal(18,2)")
        val li = Tables.lineitem(s, d).select(col("l_returnflag"),
          dd("l_quantity").as("x"), dd("l_extendedprice").as("y"))
        val m = li.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sx2"),
            sum(col("y") * col("y")).as("sy2"))
        val nd = col("n").cast("double")
        def D(c: Column) = c.cast("double")
        val cov = nd * D(col("sxy")) - D(col("sx")) * D(col("sy"))
        val varx = nd * D(col("sx2")) - pow(D(col("sx")), 2)
        val vary = nd * D(col("sy2")) - pow(D(col("sy")), 2)
        val slope = cov / varx
        m.select(col("l_returnflag"), col("n"),
            round(slope, 4).as("slope"),
            round((D(col("sy")) - slope * D(col("sx"))) / nd, 4).as("intercept"),
            round(cov * cov / (varx * vary), 4).as("r2"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
             |    SUM(x*x) AS sx2, SUM(y*y) AS sy2
             |  FROM (SELECT l_returnflag,
             |      CAST(l_quantity AS DECIMAL(18,2)) AS x,
             |      CAST(l_extendedprice AS DECIMAL(18,2)) AS y
             |    FROM lineitem) t GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  ROUND((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
             |    / (CAST(n AS DOUBLE)*CAST(sx2 AS DOUBLE) - pow(CAST(sx AS DOUBLE), 2)), 4) AS slope,
             |  ROUND((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
             |      / (CAST(n AS DOUBLE)*CAST(sx2 AS DOUBLE) - pow(CAST(sx AS DOUBLE), 2)) * CAST(sx AS DOUBLE))
             |    / CAST(n AS DOUBLE), 4) AS intercept,
             |  ROUND((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
             |    * (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
             |    / ((CAST(n AS DOUBLE)*CAST(sx2 AS DOUBLE) - pow(CAST(sx AS DOUBLE), 2))
             |     * (CAST(n AS DOUBLE)*CAST(sy2 AS DOUBLE) - pow(CAST(sy AS DOUBLE), 2))), 4) AS r2
             |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Two-sample Kolmogorov–Smirnov statistic (click vs view event
    // values): D = max |F1 - F2| over observed points, computed in
    // EXACT INTEGER form on the value-rank device: per distinct value
    // the cumulative counts (cum_a, cum_b), maximized as
    // |cum_a·n_b − cum_b·n_a| (a bigint), divided only at the end — so
    // the statistic is partitioning- and engine-independent by
    // construction. At 100 TB the standard move is KS over pre-binned
    // values, which drops into the same shape with
    // `width_bucket(value, …)` as the histogram key.
    Q("stat_ks_test",
      (s, d) => clickViewRanks(s, d)
        .groupBy("n_a", "n_b")
        .agg(max(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
          .as("d_num"))
        .select(col("n_a"), col("n_b"), col("d_num"),
          round(col("d_num").cast("double") /
            (col("n_a") * col("n_b")).cast("double"), 6).as("d_stat")),
      Some(s"""WITH r AS ($SQL_CLICK_VIEW_RANKS)
             |SELECT n_a, n_b,
             |  MAX(ABS(cum_a * n_b - cum_b * n_a)) AS d_num,
             |  ROUND(CAST(MAX(ABS(cum_a * n_b - cum_b * n_a)) AS DOUBLE)
             |    / CAST(n_a * n_b AS DOUBLE), 6) AS d_stat
             |FROM r GROUP BY n_a, n_b""".stripMargin)),

    // Mann–Whitney U (click vs view): rank-sum in EXACT DOUBLED-
    // INTEGER form — the click rows at a value hold the tie block's
    // doubled midrank r2, so twice their rank sum R1 is Σ a·r2, an
    // integer; U×2 = R1×2 − n1(n1+1) stays integer until the final
    // /2.0. The normal-approximation z (no tie correction — documented
    // large-sample form) uses only division and IEEE-exact sqrt in
    // textually mirrored order, so no rounding is needed anywhere.
    Q("stat_mannwhitney",
      (s, d) => {
        val r = clickViewRanks(s, d)
          .groupBy("n_a", "n_b").agg(sum(col("a") * col("r2")).as("r1x2"))
        val u2 = col("r1x2") - col("n_a") * (col("n_a") + lit(1L))
        val ud = u2.cast("double") / lit(2.0)
        val mu = (col("n_a") * col("n_b")).cast("double") / lit(2.0)
        val sig = sqrt((col("n_a") * col("n_b") *
          (col("n_a") + col("n_b") + lit(1L))).cast("double") / lit(12.0))
        r.select(col("n_a"), col("n_b"), ud.as("u_stat"),
          ((ud - mu) / sig).as("z"))
      },
      Some(s"""WITH r AS (
             |  SELECT n_a, n_b, CAST(SUM(a * r2) AS BIGINT) AS r1x2
             |  FROM ($SQL_CLICK_VIEW_RANKS) v GROUP BY n_a, n_b)
             |SELECT n_a, n_b,
             |  CAST(r1x2 - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_stat,
             |  (CAST(r1x2 - n_a * (n_a + 1) AS DOUBLE) / 2.0
             |    - CAST(n_a * n_b AS DOUBLE) / 2.0)
             |    / sqrt(CAST(n_a * n_b * (n_a + n_b + 1) AS DOUBLE) / 12.0) AS z
             |FROM r""".stripMargin)),

    // Chi-squared independence test (lang × source over documents):
    // observed counts and row·col products stay integer; the Pearson
    // terms are folded over a SORTED cell array in lexicographic
    // (lang, source) order — the index-order-fold device (SQL_DOT
    // precedent), so both engines accumulate the identical doubles and
    // the statistic ships UNROUNDED. The textbook statistic sums over
    // the FULL r×c table, so the observed counts are left-joined onto
    // the lang×source marginal grid (COALESCE 0): a structurally
    // absent combo contributes its full expected count E to chi². The
    // grid is built with a constant-key equi-join (BroadcastHashJoin,
    // not a cartesian) and is |langs|×|sources| — model-sized, so the
    // sorted collect is a 25-element array, not a data-sized structure.
    Q("stat_chi2",
      (s, d) => {
        val obs = Tables.documents(s, d)
          .groupBy("lang", "source").agg(count(lit(1)).as("obs_n"))
        val rowTot = obs.groupBy("lang").agg(sum("obs_n").as("rl"))
          .withColumn("__k", lit(1))
        val colTot = obs.groupBy("source").agg(sum("obs_n").as("cl"))
          .withColumn("__k", lit(1))
        val cells = rowTot.join(colTot, "__k")
          .join(obs, Seq("lang", "source"), "left")
          .select(col("lang"), col("source"),
            coalesce(col("obs_n"), lit(0L)).as("o"),
            (col("rl") * col("cl")).as("rc"))
        cells
          .agg(sum("o").as("n_docs"),
            countDistinct("lang").as("nl"),
            countDistinct("source").as("ns"),
            sort_array(collect_list(struct(col("lang"), col("source"),
              col("o").cast("double").as("od"), col("rc")))).as("cs"))
          .select(col("n_docs"),
            ((col("nl") - 1) * (col("ns") - 1)).as("dof"),
            expr("""aggregate(cs, CAST(0.0 AS DOUBLE), (acc, x) ->
              acc + (x.od - CAST(x.rc AS DOUBLE) / CAST(n_docs AS DOUBLE))
                  * (x.od - CAST(x.rc AS DOUBLE) / CAST(n_docs AS DOUBLE))
                  / (CAST(x.rc AS DOUBLE) / CAST(n_docs AS DOUBLE)))""")
              .as("chi2"))
      },
      Some("""WITH obs AS (
             |  SELECT lang, source, COUNT(*) AS obs_n FROM documents GROUP BY 1, 2),
             |rt AS (SELECT lang, SUM(obs_n) AS rl FROM obs GROUP BY 1),
             |ct AS (SELECT source, SUM(obs_n) AS cl FROM obs GROUP BY 1),
             |cells AS (
             |  SELECT r.lang, c.source, COALESCE(o.obs_n, 0) AS o,
             |    r.rl * c.cl AS rc
             |  FROM rt r CROSS JOIN ct c
             |  LEFT JOIN obs o ON o.lang = r.lang AND o.source = c.source),
             |rc AS (
             |  SELECT lang, source, CAST(o AS DOUBLE) AS od, rc FROM cells),
             |agg AS (
             |  SELECT (SELECT CAST(SUM(o) AS BIGINT) FROM cells) AS n_docs,
             |    (SELECT COUNT(DISTINCT lang) FROM cells) AS nl,
             |    (SELECT COUNT(DISTINCT source) FROM cells) AS ns,
             |    list(list_value(od, CAST(rc AS DOUBLE)) ORDER BY lang, source) AS cs
             |  FROM rc)
             |SELECT n_docs, (nl - 1) * (ns - 1) AS dof,
             |  list_sum(list_transform(cs, x ->
             |    (x[1] - x[2] / CAST(n_docs AS DOUBLE))
             |      * (x[1] - x[2] / CAST(n_docs AS DOUBLE))
             |      / (x[2] / CAST(n_docs AS DOUBLE)))) AS chi2
             |FROM agg""".stripMargin)),

    Q("agg_histogram",
      (s, d) => Tables.orders(s, d)
        .groupBy(least(floor(col("o_totalprice") / 50000.0), lit(9.0))
          .cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("bucket"),
      Some(s"""SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0), 9.0) AS BIGINT) AS bucket,
              |COUNT(*) AS n_orders, ${SQL_DSUM("o_totalprice")} AS sum_price
              |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // max_by/min_by (↔ DuckDB arg_max/arg_min): the "which row holds
    // the extreme" aggregate, one hash aggregate at any scale. Ties are
    // broken DETERMINISTICALLY by ranking on a composite decimal key
    // (price ⊕ orderkey ⊕ linenumber is unique) — bare max_by on the
    // price alone would return an engine-dependent row among equals.
    Q("agg_minmax_by", {
      (s, d) =>
        val ukey = col("l_extendedprice").cast("decimal(18,2)") * 100000000L +
          col("l_orderkey") * 10 + col("l_linenumber")
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(max_by(col("l_orderkey"), ukey).as("max_price_orderkey"),
            max_by(col("l_linenumber"), ukey).cast("long").as("max_price_linenumber"),
            max(col("l_extendedprice").cast("decimal(18,2)")).as("max_price"),
            min_by(col("l_orderkey"), ukey).as("min_price_orderkey"),
            min_by(col("l_linenumber"), ukey).cast("long").as("min_price_linenumber"),
            min(col("l_extendedprice").cast("decimal(18,2)")).as("min_price"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  arg_max(l_orderkey, ukey) AS max_price_orderkey,
             |  CAST(arg_max(l_linenumber, ukey) AS BIGINT) AS max_price_linenumber,
             |  MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS max_price,
             |  arg_min(l_orderkey, ukey) AS min_price_orderkey,
             |  CAST(arg_min(l_linenumber, ukey) AS BIGINT) AS min_price_linenumber,
             |  MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_price
             |FROM (SELECT *, CAST(l_extendedprice AS DECIMAL(18,2)) * 100000000
             |        + l_orderkey * 10 + l_linenumber AS ukey
             |      FROM lineitem) t
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Bootstrap confidence interval for mean(l_quantity) via the
    // POISSON bootstrap — the resampling form that actually
    // distributes: classic bootstrap draws n-with-replacement (needs a
    // global sample index — inherently serial); Poisson(1) per-row
    // weights approximate the multinomial exactly as n grows and need
    // only per-row hash coins. Each of B=32 resamples weighs every row
    // by k ~ Poisson(1), materialized DETERMINISTICALLY: a 60-bit hash
    // uniform u per (resample, row) stepped through the Poisson CDF
    // literals (each the shortest round-trip decimal, parsed to the
    // identical double by both engines). l_quantity is integral, so
    // every resample's Σk·q and Σk are exact longs — merge-order-free,
    // no float accumulation anywhere; the per-resample mean is ONE
    // double division, the CI endpoints are order statistics of the 32
    // means under the (mean, b) total order. Scale shape: the explode
    // is map-side (B tiny groups ⇒ partial aggregation collapses each
    // partition to ≤B rows before the shuffle); no collect, no RNG.
    Q("stat_bootstrap_ci", {
      val B = 32
      // Poisson(1) cumulative probabilities P(X ≤ k), k = 0..5
      val cdf = Seq("0.36787944117144233", "0.7357588823428847",
        "0.9196986029286058", "0.9810118431238463",
        "0.9963401531726563", "0.9994058151824183")
      val TWO60 = "1152921504606846976"
      (s, d) => {
        val rows = Tables.lineitem(s, d).select(
          concat_ws("_", col("l_orderkey"), col("l_linenumber")).as("rid"),
          col("l_quantity").cast("long").as("q"))
        val eb = rows.select(col("rid"), col("q"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        val u = (conv(substring(md5(concat(lit("boot:"),
            col("b").cast("string"), lit(":"), col("rid"))), 1, 15), 16, 10)
          .cast("long").cast("double") / lit(TWO60.toDouble))
        val k = cdf.zipWithIndex.foldRight(lit(cdf.length): Column) {
          case ((p, i), els) => when(u < lit(p.toDouble), i).otherwise(els)
        }
        val means = eb.withColumn("k", k.cast("long"))
          .groupBy("b")
          .agg(sum(col("k") * col("q")).as("wq"), sum("k").as("w"))
          .withColumn("m", col("wq").cast("double") / col("w"))
        val rk = means.withColumn("r", row_number().over(
          Window.orderBy(col("m"), col("b"))))
        val ci = rk.agg(
          max(when(col("r") === 2, col("m"))).as("ci_lo"),
          max(when(col("r") === B - 1, col("m"))).as("ci_hi"))
        val pt = rows.agg(count(lit(1)).as("n_rows"),
          (sum("q").cast("double") / count(lit(1))).as("point_mean"))
        pt.crossJoin(ci) // 1×1 summary join
          .select(col("n_rows"), lit(B.toLong).as("n_resamples"),
            col("point_mean"), col("ci_lo"), col("ci_hi"))
      }
    }, Some {
      val B = 32
      val cdf = Seq("0.36787944117144233", "0.7357588823428847",
        "0.9196986029286058", "0.9810118431238463",
        "0.9963401531726563", "0.9994058151824183")
      // CAST('…' AS DOUBLE) — the ts_ewma literal device: a bare
      // decimal literal is DECIMAL in DuckDB, not DOUBLE
      val kase = cdf.zipWithIndex
        .map { case (p, i) => s"WHEN u < CAST('$p' AS DOUBLE) THEN $i" }
        .mkString("CASE ", " ", s" ELSE ${cdf.length} END")
      s"""WITH rows_ AS (
         |  SELECT CAST(l_orderkey AS VARCHAR) || '_' ||
         |    CAST(l_linenumber AS VARCHAR) AS rid,
         |    CAST(l_quantity AS BIGINT) AS q
         |  FROM lineitem),
         |eb AS (
         |  SELECT rid, q, b FROM rows_, generate_series(0, ${B - 1}) t(b)),
         |ks AS (
         |  SELECT b, q, $kase AS k FROM (
         |    SELECT b, q,
         |      CAST(${SQL_HEX15("h")} AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE) AS u
         |    FROM (SELECT rid, q, b,
         |      substr(md5('boot:' || CAST(b AS VARCHAR) || ':' || rid), 1, 15) AS h
         |      FROM eb) hh) uu),
         |means AS (
         |  SELECT b, CAST(SUM(k * q) AS DOUBLE) / SUM(k) AS m
         |  FROM ks GROUP BY b),
         |rk AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS r FROM means),
         |pt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(q) AS DOUBLE) / COUNT(*) AS point_mean FROM rows_)
         |SELECT n_rows, CAST($B AS BIGINT) AS n_resamples, point_mean,
         |  (SELECT m FROM rk WHERE r = 2) AS ci_lo,
         |  (SELECT m FROM rk WHERE r = ${B - 1}) AS ci_hi
         |FROM pt""".stripMargin
    }),

    // Two-proportion A/B z-test: users hash-split into arms (user_id
    // parity — deterministic, the assignment device an experimentation
    // system would persist), conversion = "heavy purchaser" (≥14
    // purchase events — every fixture user purchases at least once, so
    // has-a-purchase is degenerate p=1 and zeroes the pooled
    // variance). All counts exact; p̂s, the pooled variance, and z are
    // mirrored double math with one sqrt (IEEE correctly-rounded,
    // engine-identical). Scale shape: one user-level aggregate + one
    // 2-row group — the per-user rollup is the only
    // corpus-proportional stage.
    Q("stat_ab_test",
      (s, d) => {
        val users = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(when(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)) >= 14, 1L).otherwise(0L).as("converted"))
          .withColumn("arm",
            when(col("user_id") % 2 === 0, "A").otherwise("B"))
        val byArm = users.groupBy("arm")
          .agg(count(lit(1)).as("n"), sum("converted").as("conv"))
        val a = byArm.filter(col("arm") === "A")
          .select(col("n").as("n_a"), col("conv").as("conv_a"))
        val b = byArm.filter(col("arm") === "B")
          .select(col("n").as("n_b"), col("conv").as("conv_b"))
        a.crossJoin(b) // 1×1 summary join
          .withColumn("p_a", col("conv_a").cast("double") / col("n_a"))
          .withColumn("p_b", col("conv_b").cast("double") / col("n_b"))
          .withColumn("p_pool",
            (col("conv_a") + col("conv_b")).cast("double") /
              (col("n_a") + col("n_b")))
          .withColumn("z",
            (col("p_a") - col("p_b")) /
              sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
                (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
          .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
            col("p_a"), col("p_b"), col("z"))
      },
      Some("""WITH users AS (
             |  SELECT user_id,
             |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
             |         THEN 1 ELSE 0 END AS converted
             |  FROM events GROUP BY user_id),
             |arms AS (
             |  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(converted) AS BIGINT) AS conv
             |  FROM users GROUP BY 1),
             |ab AS (
             |  SELECT
             |    (SELECT n FROM arms WHERE arm = 'A') AS n_a,
             |    (SELECT n FROM arms WHERE arm = 'B') AS n_b,
             |    (SELECT conv FROM arms WHERE arm = 'A') AS conv_a,
             |    (SELECT conv FROM arms WHERE arm = 'B') AS conv_b),
             |ps AS (
             |  SELECT *, CAST(conv_a AS DOUBLE) / n_a AS p_a,
             |    CAST(conv_b AS DOUBLE) / n_b AS p_b,
             |    CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p_pool
             |  FROM ab)
             |SELECT n_a, n_b, conv_a, conv_b, p_a, p_b,
             |  (p_a - p_b) / sqrt(p_pool * (CAST(1 AS DOUBLE) - p_pool) *
             |    (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)) AS z
             |FROM ps""".stripMargin)),

    // Incremental rollup — materialized-view maintenance, the pattern
    // that makes daily dashboards affordable at 100 TB: history is kept
    // as (event_type, day) PARTIAL aggregates (count + exact cents sum,
    // both associative/commutative merge states), persisted once
    // (fingerprint-keyed artifact, same convention as the dedup band
    // index), and each refresh aggregates ONLY the new days and merges
    // them with the stored partials — the full-history scan happens
    // exactly once in the table's lifetime. The oracle recomputes from
    // the raw table, so the correctness gate IS the merge≡recompute
    // contract (cents stay integral end-to-end; the single /100.0 is
    // the only double op).
    Q("agg_incremental_rollup", {
      val SPLIT = "2024-01-21"
      (s, d) => {
        val partial = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("cents"))
        val tmp = graft.Artifacts.staged("rollup_partials", d, "events") { p =>
          partial(Tables.events(s, d).filter(col("ts") < lit(SPLIT)))
            .write.mode("overwrite").parquet(p)
        }
        val history = s.read.parquet(tmp)
        val fresh = partial(Tables.events(s, d)
          .filter(col("ts") >= lit(SPLIT)))
        history.unionByName(fresh)
          .groupBy("event_type")
          .agg(sum("n").as("n_events"), sum("cents").as("cents"))
          .select(col("event_type"), col("n_events"),
            (col("cents").cast("double") / 100.0).as("total_value"))
          .orderBy("event_type")
      }
    },
      Some(s"""SELECT event_type, COUNT(*) AS n_events,
             |  CAST(SUM(${SQL_CENTS("value")}) AS DOUBLE)
             |    / 100.0 AS total_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Cramér's V — the EFFECT-SIZE companion to stat_chi2's
    // independence test (a significant χ² on 100 TB of rows is
    // near-certain; V says whether the association is big enough to
    // care): V = sqrt(χ²/(n·min(r−1,c−1))) over the
    // (o_orderstatus, o_orderpriority) contingency table. Every cell
    // and marginal is an exact integer from ONE hash aggregate
    // (contingency cells are far smaller than the table — model-sized);
    // χ² accumulates over r·c=15 mirrored double terms behind
    // ROUND(…,6) (the stat_entropy argument), sqrt is
    // correctly-rounded IEEE on both engines.
    Q("stat_cramers_v",
      (s, d) => {
        val cells = Tables.orders(s, d)
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("nij"))
        val rowm = cells.groupBy("o_orderstatus").agg(sum("nij").as("ri"))
        val colm = cells.groupBy("o_orderpriority").agg(sum("nij").as("cj"))
        val tot = cells.agg(sum("nij").as("n"),
          countDistinct("o_orderstatus").as("r"),
          countDistinct("o_orderpriority").as("c"))
        cells.join(rowm, Seq("o_orderstatus"))
          .join(colm, Seq("o_orderpriority"))
          .crossJoin(broadcast(tot))
          .withColumn("e",
            col("ri").cast("double") * col("cj").cast("double") /
              col("n").cast("double"))
          .withColumn("t",
            (col("nij").cast("double") - col("e")) *
              (col("nij").cast("double") - col("e")) / col("e"))
          .groupBy("n", "r", "c")
          .agg(sum("t").as("chi2"))
          .select(col("n"), col("r"), col("c"),
            round(col("chi2"), 6).as("chi2"),
            round(sqrt(col("chi2") /
              (col("n").cast("double") *
                least(col("r") - 1, col("c") - 1).cast("double"))), 6)
              .as("cramers_v"))
      },
      Some("""WITH cells AS (
             |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS nij
             |  FROM orders GROUP BY 1, 2),
             |rm AS (SELECT o_orderstatus, SUM(nij) AS ri FROM cells GROUP BY 1),
             |cm AS (SELECT o_orderpriority, SUM(nij) AS cj FROM cells GROUP BY 1),
             |t AS (SELECT CAST(SUM(nij) AS BIGINT) AS n,
             |        COUNT(DISTINCT o_orderstatus) AS r,
             |        COUNT(DISTINCT o_orderpriority) AS c FROM cells),
             |x AS (
             |  SELECT t.n, t.r, t.c,
             |    (CAST(nij AS DOUBLE) - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(t.n AS DOUBLE))
             |    * (CAST(nij AS DOUBLE) - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(t.n AS DOUBLE))
             |    / (CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(t.n AS DOUBLE)) AS tt
             |  FROM cells
             |  JOIN rm USING (o_orderstatus)
             |  JOIN cm USING (o_orderpriority), t)
             |SELECT n, r, c, ROUND(SUM(tt), 6) AS chi2,
             |  ROUND(sqrt(SUM(tt) / (CAST(n AS DOUBLE)
             |    * CAST(LEAST(r - 1, c - 1) AS DOUBLE))), 6) AS cramers_v
             |FROM x GROUP BY n, r, c""".stripMargin)),

    // Benford's-law first-digit audit of o_totalprice — the classic
    // forensic screen for fabricated or truncated numeric columns (a
    // DQ sibling of dq_rule_report): exact first-significant-digit
    // counts (regex over the DECIMAL string — no float log10 at the
    // power-of-ten boundaries), expected shares as shortest-round-trip
    // double literals (the ts_ewma device), and the per-digit χ²
    // contribution in mirrored double math. One linear aggregate.
    Q("stat_benford", {
      val benford: Seq[Double] =
        (1 to 9).map(dd => math.log10(1.0 + 1.0 / dd))
      (s, d) => {
        val digits = Tables.orders(s, d)
          .select(regexp_extract(
            col("o_totalprice").cast("decimal(18,2)").cast("string"),
            "[1-9]", 0).as("digit"))
          .filter(col("digit") =!= "")
          .groupBy("digit").agg(count(lit(1)).as("n_obs"))
        val tot = digits.agg(sum("n_obs").as("total"))
        // expected-share column via chained when (textual twin of the
        // oracle's CASE over the same shortest-round-trip literals)
        val pCol = (1 to 9).foldLeft(lit(0.0)) { (acc, dd) =>
          when(col("digit") === dd.toString,
            expr(s"CAST('${benford(dd - 1)}' AS DOUBLE)")).otherwise(acc)
        }
        digits.crossJoin(broadcast(tot))
          .withColumn("benford_p", pCol)
          .select(col("digit"), col("n_obs"),
            round(col("n_obs").cast("double") / col("total").cast("double"), 6)
              .as("obs_share"),
            round(col("benford_p"), 6).as("benford_p"),
            round(((col("n_obs").cast("double")
              - col("total").cast("double") * col("benford_p"))
              * (col("n_obs").cast("double")
                - col("total").cast("double") * col("benford_p")))
              / (col("total").cast("double") * col("benford_p")), 6)
              .as("chi2_contrib"))
          .orderBy("digit")
      }
    },
      Some {
        val benford: Seq[Double] =
          (1 to 9).map(dd => math.log10(1.0 + 1.0 / dd))
        val pCase = (1 to 9)
          .map(dd => s"WHEN digit = '$dd' THEN CAST('${benford(dd - 1)}' AS DOUBLE)")
          .mkString("CASE ", " ", " ELSE 0.0 END")
        s"""WITH dg AS (
           |  SELECT regexp_extract(
           |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), '[1-9]')
           |    AS digit
           |  FROM orders),
           |c AS (SELECT digit, COUNT(*) AS n_obs FROM dg
           |      WHERE digit <> '' GROUP BY digit),
           |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS total FROM c)
           |SELECT digit, n_obs,
           |  ROUND(CAST(n_obs AS DOUBLE) / CAST(total AS DOUBLE), 6) AS obs_share,
           |  ROUND($pCase, 6) AS benford_p,
           |  ROUND(((CAST(n_obs AS DOUBLE) - CAST(total AS DOUBLE) * ($pCase))
           |    * (CAST(n_obs AS DOUBLE) - CAST(total AS DOUBLE) * ($pCase)))
           |    / (CAST(total AS DOUBLE) * ($pCase)), 6) AS chi2_contrib
           |FROM c, t ORDER BY digit""".stripMargin
      }),

    // Exact heavy hitters by the two-pass sketch-then-verify pattern:
    // pass 1 runs MISRA-GRIES (k=64 counters) INSIDE each partition —
    // genuine per-partition imperative state, the sanctioned
    // mapPartitions case — emitting a tiny candidate set; pass 2
    // exact-counts ONLY candidates (broadcast semi-join) and keeps
    // words with count·k > total. Correct by the MG guarantee plus
    // pigeonhole: a word with global share > 1/k must exceed the 1/k
    // share in at least one partition, where MG (error ≤ m_p/(k+1))
    // cannot evict it — so the candidate set is a SUPERSET of the true
    // hitters and the exact verify makes the output independent of the
    // sketch. At 100 TB this replaces a full-vocabulary shuffle with
    // O(partitions·k) candidate rows + one semi-joined count; the
    // oracle is the plain exact histogram + HAVING, which is the whole
    // point — sketch path ≡ exact path, enforced by the gate.
    Q("agg_heavy_hitters", {
      val K = 64
      (s, d) => {
        import s.implicits._
        val words = Tables.documents(s, d)
          .select(explode(graft.functions.TextUdfs
            .tokenizeCol(col("text"))).as("w"))
          .filter(col("w") =!= "").as[String]
        val candidates = words
          .mapPartitions(graft.functions.MisraGries.candidates(_, K))
          .distinct().toDF("w")
        val total = words.groupBy().agg(count(lit(1)).as("total"))
        words.toDF("w")
          .join(broadcast(candidates), Seq("w"), "left_semi")
          .groupBy("w").agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(total))
          .filter(col("n") * K > col("total"))
          .select(col("w").as("word"), col("n").as("n_occurrences"),
            col("total").as("n_tokens"))
          .orderBy(col("n_occurrences").desc, col("word"))
      }
    },
      Some("""WITH w AS (
             |  SELECT unnest(string_split(lower(regexp_replace(text, '[^a-z ]', '', 'g')), ' ')) AS w
             |  FROM documents),
             |wf AS (SELECT w FROM w WHERE w <> ''),
             |t AS (SELECT COUNT(*) AS total FROM wf)
             |SELECT w AS word, COUNT(*) AS n_occurrences,
             |  (SELECT total FROM t) AS n_tokens
             |FROM wf GROUP BY w
             |HAVING COUNT(*) * 64 > (SELECT total FROM t)
             |ORDER BY n_occurrences DESC, word""".stripMargin)),

    // Spearman rank correlation (tie-corrected: Pearson on average
    // ranks) between quantity and price per return flag. The ranks are
    // NOT computed by a per-row window sort: average rank of value v is
    // derived from the per-(group, value) frequency table. The price
    // table's prefix sum runs through Ranking.withGroupedPrefixSum, not
    // a per-flag window: distinct prices approach the row count at
    // scale, so that window would be 3 single-task sorts over ~n rows.
    // Doubled average rank 2·r̄ = 2·cum_before + cnt + 1 stays an exact BIGINT
    // (no .5 halves), the Pearson moments accumulate as DECIMAL —
    // associative-exact at any partitioning (the stat_corr_matrix
    // device) — and only the final closed-form ratio drops to double
    // behind ROUND(…,4). At 100 TB: two column-pruned fact scans, one
    // domain-sized quantity window, one bucketed price prefix sum, one
    // hash aggregate.
    Q("stat_spearman",
      (s, d) => {
        // 18,0 not 38,0: DuckDB decimal multiply needs p1+p2 ≤ 38, and
        // doubled ranks are ≤ ~2·rows so 18 digits is ample headroom.
        def dec(c: Column) = c.cast("decimal(18,0)")
        // Two plain column-pruned scans, zero fact-sized shuffles beyond
        // the price-cell aggregate: re-scanning 3 parquet columns is
        // cheaper than shuffling or checkpointing the whole fact.
        val fact = Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_quantity"),
            col("l_extendedprice"))
        // Quantity ranks: the (flag, quantity) frequency table is bounded
        // by the DOMAIN (3 flags × 50 integral quantities = 150 rows at
        // any scale), so its per-flag window is model-sized; it is
        // broadcast into the price-cell aggregate.
        val wq = Window.partitionBy("l_returnflag").orderBy("l_quantity")
          .rowsBetween(Window.unboundedPreceding, -1)
        val rq = fact
          .groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("l_returnflag"), col("l_quantity"),
            (coalesce(sum("cnt").over(wq), lit(0L)) * 2 + col("cnt") + 1)
              .as("r2_q"))
        // Price cells straight from the raw fact: broadcast-join the
        // quantity ranks (map-side, no shuffle), aggregate to
        // (flag, price) carrying the x-moment partials. The ONLY
        // fact-sized data movement in the whole query is this
        // aggregate's shuffle, and it carries distinct-(flag, price)
        // cells, which saturate at the price domain as the corpus
        // grows. The grouped-prefix-sum device consumes this frame
        // THREE times (bounds job, local sums, bucket offsets), so
        // the aggregate is cut behind a lazy checkpoint that the bounds
        // job materializes — without it each consumer re-runs the join
        // + hash aggregate and re-shuffles the full cell table.
        val cells = fact
          .join(broadcast(rq), Seq("l_returnflag", "l_quantity"))
          .groupBy(col("l_returnflag"), col("l_extendedprice"))
          .agg(count(lit(1)).as("cnt"),
            sum(dec(col("r2_q"))).as("sqx"),
            sum(dec(col("r2_q")) * dec(col("r2_q"))).as("sqx2"))
          .localCheckpoint(eager = false)
        // Price ranks attach IN PLACE: the device preserves its input
        // rows, so the cell table leaves with cumb attached — no
        // join-back. All five moments reduce from the cell level:
        // Σ_rows x = Σ_cells sqx, Σ_rows y = Σ_cells cnt·r2p,
        // Σ_rows x·y = Σ_cells sqx·r2p (y is constant within a cell).
        // partitions = 8: flags × 8 range buckets = 24-way parallel
        // sorts at local[32] with a quarter of the bounds machinery;
        // on a real cluster the group count × bucket count only needs
        // to cover the executor count (the device doc's contract).
        val ranked = graft.api.Ranking.withGroupedPrefixSum(cells,
            Seq("l_returnflag"), Seq(col("l_extendedprice")), col("cnt"),
            outCol = "cumb", partitions = 8)
          .withColumn("r2_p", col("cumb") * 2 + col("cnt") + 1)
        ranked
          .groupBy("l_returnflag")
          .agg(sum("cnt").cast("long").as("n"),
            sum(col("sqx")).as("sx"),
            sum(dec(col("cnt")) * dec(col("r2_p"))).as("sy"),
            sum(col("sqx").cast("decimal(24,0)") * dec(col("r2_p")))
              .as("sxy"),
            sum(col("sqx2")).as("sx2"),
            sum((dec(col("cnt")) * dec(col("r2_p"))) * dec(col("r2_p")))
              .as("sy2"))
          .select(col("l_returnflag"), col("n"),
            round((col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              (sqrt(col("n").cast("double") * col("sx2").cast("double") -
                pow(col("sx").cast("double"), 2)) *
                sqrt(col("n").cast("double") * col("sy2").cast("double") -
                  pow(col("sy").cast("double"), 2))), 4).as("spearman_rho"))
          .orderBy("l_returnflag")
      },
      Some("""WITH rq AS (
             |  SELECT l_returnflag, l_quantity,
             |    2 * COALESCE(SUM(cnt) OVER (PARTITION BY l_returnflag
             |      ORDER BY l_quantity ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING), 0) + cnt + 1 AS r2_q
             |  FROM (SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
             |        FROM lineitem GROUP BY 1, 2)),
             |rp AS (
             |  SELECT l_returnflag, l_extendedprice,
             |    2 * COALESCE(SUM(cnt) OVER (PARTITION BY l_returnflag
             |      ORDER BY l_extendedprice ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING), 0) + cnt + 1 AS r2_p
             |  FROM (SELECT l_returnflag, l_extendedprice, COUNT(*) AS cnt
             |        FROM lineitem GROUP BY 1, 2)),
             |j AS (
             |  SELECT l.l_returnflag,
             |    CAST(rq.r2_q AS DECIMAL(18,0)) AS x,
             |    CAST(rp.r2_p AS DECIMAL(18,0)) AS y
             |  FROM lineitem l
             |  JOIN rq ON l.l_returnflag = rq.l_returnflag
             |         AND l.l_quantity = rq.l_quantity
             |  JOIN rp ON l.l_returnflag = rp.l_returnflag
             |         AND l.l_extendedprice = rp.l_extendedprice),
             |m AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             |    SUM(x * x) AS sx2, SUM(y * y) AS sy2
             |  FROM j GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
             |        - CAST(sx AS DOUBLE) ** 2)
             |      * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
             |        - CAST(sy AS DOUBLE) ** 2)), 4) AS spearman_rho
             |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Kendall tau-b between quantity and discount per return flag,
    // computed from the CONTINGENCY TABLE, not row pairs: concordant /
    // discordant mass is Σ n_a·n_b over ordered cell pairs (a.q < b.q,
    // sign of the discount difference splits C from D), so the
    // quadratic term is |cells|² (50 quantities × 11 discounts = 550
    // cells ⇒ ~150k cell pairs) regardless of row count — the same
    // trick that makes tau computable on a 100-TB fact table: one hash
    // aggregate to the contingency table, one cell self-join. Tie
    // corrections use the doubled forms N0 = n(n−1), N1 = Σ n_q(n_q−1),
    // N2 = Σ n_d(n_d−1) to stay division-free in exact DECIMAL until
    // the final tau = 2(C−D)/√((N0−N1)(N0−N2)) drops to double behind
    // ROUND(…,4).
    Q("stat_kendall",
      (s, d) => {
        def dec(c: Column) = c.cast("decimal(18,0)")
        val cells = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag").as("f"), col("l_quantity").as("q"),
            col("l_discount").as("dc"))
          .agg(count(lit(1)).as("n"))
        val cd = cells.as("a").join(cells.as("b"),
            col("a.f") === col("b.f") && col("a.q") < col("b.q"))
          .groupBy(col("a.f").as("f"))
          .agg(
            sum(when(col("a.dc") < col("b.dc"),
              dec(col("a.n")) * dec(col("b.n"))).otherwise(lit(0))).as("cc"),
            sum(when(col("a.dc") > col("b.dc"),
              dec(col("a.n")) * dec(col("b.n"))).otherwise(lit(0))).as("dd"))
        val nq = cells.groupBy("f", "q").agg(sum("n").as("nq"))
          .groupBy("f").agg(sum(dec(col("nq")) * dec(col("nq") - 1)).as("n1"))
        val nd = cells.groupBy("f", "dc").agg(sum("n").as("nd"))
          .groupBy("f").agg(sum(dec(col("nd")) * dec(col("nd") - 1)).as("n2"))
        val tot = cells.groupBy("f")
          .agg(sum("n").as("n"))
          .select(col("f"), col("n"), (dec(col("n")) * dec(col("n") - 1)).as("n0"))
        cd.join(nq, "f").join(nd, "f").join(tot, "f")
          .select(col("f").as("l_returnflag"), col("n"),
            round(lit(2.0) * (col("cc") - col("dd")).cast("double") /
              sqrt((col("n0") - col("n1")).cast("double") *
                (col("n0") - col("n2")).cast("double")), 4).as("kendall_tau_b"))
          .orderBy("l_returnflag")
      },
      Some("""WITH cells AS (
             |  SELECT l_returnflag AS f, l_quantity AS q, l_discount AS dc,
             |    COUNT(*) AS n
             |  FROM lineitem GROUP BY 1, 2, 3),
             |cd AS (
             |  SELECT a.f,
             |    SUM(CASE WHEN a.dc < b.dc THEN CAST(a.n AS DECIMAL(18,0))
             |      * CAST(b.n AS DECIMAL(18,0)) ELSE 0 END) AS cc,
             |    SUM(CASE WHEN a.dc > b.dc THEN CAST(a.n AS DECIMAL(18,0))
             |      * CAST(b.n AS DECIMAL(18,0)) ELSE 0 END) AS dd
             |  FROM cells a JOIN cells b ON a.f = b.f AND a.q < b.q
             |  GROUP BY a.f),
             |n1t AS (
             |  SELECT f, SUM(CAST(nq AS DECIMAL(18,0))
             |    * CAST(nq - 1 AS DECIMAL(18,0))) AS n1
             |  FROM (SELECT f, q, SUM(n) AS nq FROM cells GROUP BY f, q)
             |  GROUP BY f),
             |n2t AS (
             |  SELECT f, SUM(CAST(nd AS DECIMAL(18,0))
             |    * CAST(nd - 1 AS DECIMAL(18,0))) AS n2
             |  FROM (SELECT f, dc, SUM(n) AS nd FROM cells GROUP BY f, dc)
             |  GROUP BY f),
             |tt AS (
             |  SELECT f, CAST(SUM(n) AS BIGINT) AS n,
             |    CAST(SUM(n) AS DECIMAL(18,0))
             |      * CAST(SUM(n) - 1 AS DECIMAL(18,0)) AS n0
             |  FROM cells GROUP BY f)
             |SELECT tt.f AS l_returnflag, tt.n,
             |  ROUND(2.0 * CAST(cd.cc - cd.dd AS DOUBLE)
             |    / sqrt(CAST(tt.n0 - n1t.n1 AS DOUBLE)
             |      * CAST(tt.n0 - n2t.n2 AS DOUBLE)), 4) AS kendall_tau_b
             |FROM tt JOIN cd USING (f) JOIN n1t USING (f) JOIN n2t USING (f)
             |ORDER BY l_returnflag""".stripMargin)),

    // Differentially-private group counts with DETERMINISTIC Laplace
    // noise — the privacy-preserving release shape (counts + ε-scaled
    // Laplace perturbation, sensitivity 1 for a count). The uniform
    // draw is the md5-polynomial hash coin (the llm_sample_stratified
    // device) seeded by the group key, so both engines — and any two
    // runs — derive the identical perturbation; a production release
    // would swap the coin for a real CSPRNG draw, which is exactly one
    // expression. Inverse-CDF Laplace: −b·sign(u−½)·ln(1−2|u−½|),
    // b = 1/ε. Per-group scalar math on one exact hash aggregate; no
    // accumulation of floats anywhere (ln of one value per group).
    Q("agg_dp_noisy", {
      val EPS = 1.0
      (s, d) => {
        val u = (conv(substring(md5(concat(lit("dp:"), col("event_type"))),
          1, 15), 16, 10).cast("double") + 0.5) / lit((1L << 60).toDouble)
        Tables.events(s, d)
          .groupBy("event_type")
          .agg(count(lit(1)).as("true_n"))
          .withColumn("u", u)
          .select(col("event_type"),
            round(col("true_n") + lit(-1.0 / EPS) *
              signum(col("u") - 0.5) *
              log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)), 4)
              .as("noisy_count"),
            lit(EPS).as("epsilon"))
          .orderBy("event_type")
      }
    },
      Some {
        s"""WITH g AS (
           |  SELECT event_type, COUNT(*) AS true_n,
           |    (CAST(${SQL_HEX15("md5('dp:' || event_type)")} AS DOUBLE) + 0.5) / ${(1L << 60).toDouble} AS u
           |  FROM events GROUP BY event_type)
           |SELECT event_type,
           |  ROUND(true_n + (-1.0) * sign(u - 0.5)
           |    * ln(1.0 - 2.0 * abs(u - 0.5)), 4) AS noisy_count,
           |  CAST(1.0 AS DOUBLE) AS epsilon
           |FROM g ORDER BY event_type""".stripMargin
      }),

    // One-way ANOVA F: does mean extended price differ across return
    // flags? Between/within sums of squares from EXACT decimal moments
    // (n, Σx, Σx² per group — cent-clean values, the stat_corr_matrix
    // device): SSB = Σ S_g²/n_g − S²/N and SSW = Σx² − Σ S_g²/n_g are
    // closed-form ratios of exact sums, evaluated in double only at
    // the end — identical IEEE on both engines, ROUND(…,4). The one
    // float sum (Σ S_g²/n_g) has k=3 terms — the stat_entropy
    // adjudication: too few summands to drift past the round guard on
    // any merge order. One hash aggregate + a 3-row rollup: the
    // cheapest hypothesis test there is at any scale.
    Q("stat_anova_f",
      (s, d) => {
        val g = Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("ng"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).as("sg"),
            sum(col("l_extendedprice").cast("decimal(18,2)") *
              col("l_extendedprice").cast("decimal(18,2)")).as("sg2"))
        g.agg(count(lit(1)).as("k"), sum("ng").as("n"),
            sum(col("sg")).as("s"), sum(col("sg2")).as("s2"),
            sum(col("sg").cast("double") * col("sg").cast("double") /
              col("ng").cast("double")).as("sqn"))
          .select(col("k"), col("n"),
            round(((col("sqn") - col("s").cast("double") *
              col("s").cast("double") / col("n").cast("double")) /
              (col("k") - 1).cast("double")) /
              ((col("s2").cast("double") - col("sqn")) /
                (col("n") - col("k")).cast("double")), 4).as("f_stat"))
      },
      Some("""WITH g AS (
             |  SELECT l_returnflag, COUNT(*) AS ng,
             |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sg,
             |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS sg2
             |  FROM lineitem GROUP BY l_returnflag),
             |m AS (
             |  SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
             |    SUM(sg) AS s, SUM(sg2) AS s2,
             |    SUM(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
             |      / CAST(ng AS DOUBLE)) AS sqn
             |  FROM g)
             |SELECT k, n,
             |  ROUND(((sqn - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             |      / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
             |    / ((CAST(s2 AS DOUBLE) - sqn)
             |      / CAST(n - k AS DOUBLE)), 4) AS f_stat
             |FROM m""".stripMargin)),

    // Mutual information between event_type and a user cohort — the
    // feature-selection / leakage-detection primitive. Everything up to
    // the last step is integer counts (joint + both marginals + grand
    // total), so the only float work is ~|X|·|Y| log terms summed once;
    // at ROUND(…,4) the merge-order exposure is ~1e-15, far below the
    // rounding grain (the stat_entropy precedent). Three hash
    // aggregates over one scan-shaped input; the two marginals and the
    // 1-row total broadcast into the joint table — no second shuffle of
    // the fact stream at any scale.
    Q("stat_mutual_info",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), (col("user_id") % 8).as("cohort"))
        val joint = ev.groupBy("event_type", "cohort")
          .agg(count(lit(1)).as("cxy"))
        val mx = ev.groupBy("event_type").agg(count(lit(1)).as("cx"))
        val my = ev.groupBy("cohort").agg(count(lit(1)).as("cy"))
        val tot = joint.agg(sum("cxy").as("n"))
        val mi = joint
          .join(broadcast(mx), "event_type")
          .join(broadcast(my), "cohort")
          .crossJoin(broadcast(tot))
          .select(((col("cxy").cast("double") / col("n").cast("double")) *
            log2(col("cxy").cast("double") * col("n").cast("double") /
              (col("cx").cast("double") * col("cy").cast("double"))))
            .as("term"))
          .agg(count(lit(1)).as("n_cells"), sum("term").as("mi"))
        val hx = mx.crossJoin(broadcast(tot))
          .agg((-sum((col("cx").cast("double") / col("n").cast("double")) *
            log2(col("cx").cast("double") / col("n").cast("double"))))
            .as("hx"))
        val hy = my.crossJoin(broadcast(tot))
          .agg((-sum((col("cy").cast("double") / col("n").cast("double")) *
            log2(col("cy").cast("double") / col("n").cast("double"))))
            .as("hy"))
        mi.crossJoin(hx).crossJoin(hy)
          .select(col("n_cells"),
            round(col("mi"), 4).as("mi_bits"),
            round(col("hx"), 4).as("h_type_bits"),
            round(col("hy"), 4).as("h_cohort_bits"),
            round(col("mi") / sqrt(col("hx") * col("hy")), 4).as("nmi"))
      },
      Some("""WITH ev AS (
             |  SELECT event_type, user_id % 8 AS cohort FROM events),
             |joint AS (
             |  SELECT event_type, cohort, COUNT(*) AS cxy
             |  FROM ev GROUP BY 1, 2),
             |mx AS (SELECT event_type, COUNT(*) AS cx FROM ev GROUP BY 1),
             |my AS (SELECT cohort, COUNT(*) AS cy FROM ev GROUP BY 1),
             |tot AS (SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM joint),
             |mi AS (
             |  SELECT COUNT(*) AS n_cells,
             |    SUM((CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE))
             |      * log2(CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE)
             |        / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))) AS mi
             |  FROM joint
             |  JOIN mx USING (event_type) JOIN my USING (cohort), tot),
             |hx AS (
             |  SELECT -SUM((CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))
             |    * log2(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))) AS hx
             |  FROM mx, tot),
             |hy AS (
             |  SELECT -SUM((CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))
             |    * log2(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))) AS hy
             |  FROM my, tot)
             |SELECT n_cells, ROUND(mi, 4) AS mi_bits,
             |  ROUND(hx, 4) AS h_type_bits, ROUND(hy, 4) AS h_cohort_bits,
             |  ROUND(mi / sqrt(hx * hy), 4) AS nmi
             |FROM mi, hx, hy""".stripMargin)),

    // Population Stability Index — the standard training/serving drift
    // monitor. Fixed-width bins (not quantiles) so the bin edges are a
    // constant of the query, not of the data: at 100 TB each side is
    // one partial-aggregate scan producing ≤10 rows, and the spine
    // (spark.range / generate_series) guarantees empty bins surface
    // with their Laplace-smoothed floor instead of silently dropping
    // out of the Σ. All counts integer; the 10 log terms only combine
    // in the final 10-row window sum.
    // Categorical composition drift (r12) — the χ² sibling of
    // dq_psi_drift for DISCRETE columns: did the event-type MIX shift
    // between the window's two halves? Per type, both halves' counts,
    // shares, and the 2×k homogeneity χ² contribution; the total rides
    // along (5-row window, the psi_total device). Exact integer counts
    // and margins; expected cells and terms are textually mirrored
    // doubles. One grouped aggregate over the fact — linear at any
    // scale, the feed-mix pager next to dq_volume_anomaly's row-count
    // alarm.
    Q("dq_composition_drift",
      (s, d) => {
        val c = Tables.events(s, d)
          .groupBy("event_type")
          .agg(sum(when(col("ts") < lit("2024-01-16"), 1L).otherwise(0L))
            .as("n_a"),
            sum(when(col("ts") >= lit("2024-01-16"), 1L).otherwise(0L))
              .as("n_b"))
        val tot = c.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
        val f = c.crossJoin(broadcast(tot))
          .withColumn("n", col("ta") + col("tb"))
          .withColumn("rt", col("n_a") + col("n_b"))
          .withColumn("ea", col("rt").cast("double") *
            col("ta").cast("double") / col("n").cast("double"))
          .withColumn("eb", col("rt").cast("double") *
            col("tb").cast("double") / col("n").cast("double"))
          .withColumn("term",
            (col("n_a").cast("double") - col("ea")) *
              (col("n_a").cast("double") - col("ea")) / col("ea") +
              (col("n_b").cast("double") - col("eb")) *
              (col("n_b").cast("double") - col("eb")) / col("eb"))
        f.select(col("event_type"), col("n_a"), col("n_b"),
            round(col("n_a").cast("double") / col("ta").cast("double"), 6)
              .as("share_a"),
            round(col("n_b").cast("double") / col("tb").cast("double"), 6)
              .as("share_b"),
            round(col("term"), 6).as("chi2_term"),
            round(sum(col("term")).over(Window.partitionBy()), 6)
              .as("chi2_total"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (
             |  SELECT event_type,
             |    CAST(SUM(CASE WHEN ts < '2024-01-16' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN ts >= '2024-01-16' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_b
             |  FROM events GROUP BY event_type),
             |t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
             |  CAST(SUM(n_b) AS BIGINT) AS tb FROM c),
             |f AS (
             |  SELECT event_type, n_a, n_b, ta, tb,
             |    CAST(n_a + n_b AS DOUBLE) * CAST(ta AS DOUBLE)
             |      / CAST(ta + tb AS DOUBLE) AS ea,
             |    CAST(n_a + n_b AS DOUBLE) * CAST(tb AS DOUBLE)
             |      / CAST(ta + tb AS DOUBLE) AS eb
             |  FROM c, t)
             |SELECT event_type, n_a, n_b,
             |  ROUND(CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE), 6) AS share_a,
             |  ROUND(CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE), 6) AS share_b,
             |  ROUND((CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea)
             |    / ea + (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb)
             |    / eb, 6) AS chi2_term,
             |  ROUND(SUM((CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea)
             |    / ea + (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb)
             |    / eb) OVER (), 6) AS chi2_total
             |FROM f ORDER BY event_type""".stripMargin)),

    Q("dq_psi_drift",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(least(floor(col("o_totalprice") / 50000).cast("long"),
            lit(9L)).as("bin"),
            (col("o_orderdate") < lit("1998-07-01")).as("is_ref"))
        val counts = o.groupBy("bin")
          .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
            sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
        val spine = s.range(0, 10).toDF("bin")
        val tot = counts.agg(sum("n_ref").as("tr"), sum("n_cur").as("tc"))
        val filled = spine.join(counts, Seq("bin"), "left")
          .na.fill(0L, Seq("n_ref", "n_cur"))
          .crossJoin(broadcast(tot))
          .withColumn("p_ref", (col("n_ref").cast("double") + 0.5) /
            (col("tr").cast("double") + 5.0))
          .withColumn("p_cur", (col("n_cur").cast("double") + 0.5) /
            (col("tc").cast("double") + 5.0))
          .withColumn("psi_term",
            (col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref")))
        filled.select(col("bin"), col("n_ref"), col("n_cur"),
            round(col("p_ref"), 6).as("p_ref"),
            round(col("p_cur"), 6).as("p_cur"),
            round(col("psi_term"), 6).as("psi_term"),
            round(sum(col("psi_term")).over(Window.partitionBy()), 6)
              .as("psi_total"))
          .orderBy("bin")
      },
      Some("""WITH o AS (
             |  SELECT least(CAST(floor(o_totalprice / 50000) AS BIGINT), 9) AS bin,
             |    o_orderdate < '1998-07-01' AS is_ref
             |  FROM orders),
             |c AS (
             |  SELECT bin,
             |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
             |  FROM o GROUP BY bin),
             |t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
             |  CAST(SUM(n_cur) AS BIGINT) AS tc FROM c),
             |f AS (
             |  SELECT s.bin, COALESCE(c.n_ref, 0) AS n_ref,
             |    COALESCE(c.n_cur, 0) AS n_cur,
             |    (CAST(COALESCE(c.n_ref, 0) AS DOUBLE) + 0.5)
             |      / (CAST(tr AS DOUBLE) + 5.0) AS p_ref,
             |    (CAST(COALESCE(c.n_cur, 0) AS DOUBLE) + 0.5)
             |      / (CAST(tc AS DOUBLE) + 5.0) AS p_cur
             |  FROM (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bin) s
             |  LEFT JOIN c USING (bin), t)
             |SELECT bin, n_ref, n_cur,
             |  ROUND(p_ref, 6) AS p_ref, ROUND(p_cur, 6) AS p_cur,
             |  ROUND((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi_term,
             |  ROUND(SUM((p_cur - p_ref) * ln(p_cur / p_ref)) OVER (), 6)
             |    AS psi_total
             |FROM f ORDER BY bin""".stripMargin)),

    // Wilcoxon signed-rank test — the PAIRED nonparametric companion to
    // stat_mannwhitney: per part, mean price before vs after the mid-1998
    // pivot; the pair differences are ranked by |d| and W+ = Σ ranks of
    // positive differences. The per-pair means come from exact decimal
    // sums (identical doubles both engines), so the rank order —
    // row_number over (|d|, partkey) — is bit-reproducible; rank sums
    // are exact integers and only the closed-form z drops to double.
    // The rank runs on the PART-AGGREGATED set (|parts|, not |rows|)
    // through Ranking.withGlobalRowNumber — the range-bucketed two-pass
    // device, bit-identical to the window row_number by RankingSpec's
    // contract — so no single-partition sort exists even at 10⁸ parts
    // (the oracle keeps the window form). Zero differences are excluded
    // (the standard Wilcoxon treatment); |d| ties get sequential ranks
    // with the partkey tie-break, mirrored exactly in the oracle.
    Q("stat_wilcoxon",
      (s, d) => {
        val pre = col("l_shipdate") < "1998-07-01"
        val g = Tables.lineitem(s, d)
          .groupBy("l_partkey")
          .agg(sum(when(pre, col("l_extendedprice").cast("decimal(18,2)")))
            .as("sx"),
            count(when(pre, 1)).as("nx"),
            sum(when(!pre, col("l_extendedprice").cast("decimal(18,2)")))
              .as("sy"),
            count(when(!pre, 1)).as("ny"))
          .filter(col("nx") > 0 && col("ny") > 0)
          .withColumn("dd", col("sx").cast("double") / col("nx") -
            col("sy").cast("double") / col("ny"))
          .filter(col("dd") =!= 0.0)
        // localCheckpoint before the device: withGlobalRowNumber
        // consumes its input in three plan branches (boundary agg,
        // local ranks, bucket offsets) — without the cut each branch
        // re-runs the 2-shuffle lineitem aggregation (measured r12:
        // 2.35 s → the part-aggregated set is materialized once)
        graft.api.Ranking.withGlobalRowNumber(g.localCheckpoint(eager = false),
            Seq(abs(col("dd")), col("l_partkey")), rnCol = "rnk",
            bucketBy = abs(col("dd")))
          .agg(count(lit(1)).as("n"),
            sum(when(col("dd") > 0, col("rnk"))).as("w_plus"),
            sum(when(col("dd") < 0, col("rnk"))).as("w_minus"))
          .select(col("n"), col("w_plus"), col("w_minus"),
            round((col("w_plus").cast("double") -
              col("n") * (col("n") + 1) / 4.0) /
              sqrt(col("n") * (col("n") + 1) * (lit(2) * col("n") + 1) / 24.0),
              4).as("z"))
      },
      Some("""WITH g AS (
             |  SELECT l_partkey,
             |    SUM(CASE WHEN l_shipdate < '1998-07-01'
             |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS sx,
             |    COUNT(CASE WHEN l_shipdate < '1998-07-01' THEN 1 END) AS nx,
             |    SUM(CASE WHEN l_shipdate >= '1998-07-01'
             |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS sy,
             |    COUNT(CASE WHEN l_shipdate >= '1998-07-01' THEN 1 END) AS ny
             |  FROM lineitem GROUP BY 1),
             |dd AS (
             |  SELECT l_partkey,
             |    CAST(sx AS DOUBLE) / nx - CAST(sy AS DOUBLE) / ny AS dd
             |  FROM g WHERE nx > 0 AND ny > 0),
             |r AS (
             |  SELECT dd, ROW_NUMBER() OVER (ORDER BY abs(dd), l_partkey)
             |    AS rnk
             |  FROM dd WHERE dd <> 0),
             |a AS (
             |  SELECT COUNT(*) AS n,
             |    CAST(SUM(CASE WHEN dd > 0 THEN rnk END) AS BIGINT) AS w_plus,
             |    CAST(SUM(CASE WHEN dd < 0 THEN rnk END) AS BIGINT) AS w_minus
             |  FROM r)
             |SELECT n, w_plus, w_minus,
             |  ROUND((CAST(w_plus AS DOUBLE) - n * (n + 1) / 4.0)
             |    / sqrt(n * (n + 1) * (2 * n + 1) / 24.0), 4) AS z
             |FROM a""".stripMargin)),

    // Two-sample Poisson rate test per event type — the ops/abuse
    // monitor's "did the arrival rate shift?" check. The fixture spans
    // exactly Jan 2024, so the two exposure windows are equal fixed
    // constants (15 days each side of Jan 16) and the conditional test
    // reduces to z = (n1 − n2)/√(n1 + n2) — every input an integer
    // count from ONE grouped aggregate scan; the closed form is two
    // IEEE ops per 5-row group.
    Q("stat_poisson_rate",
      (s, d) => {
        val pre = col("ts") < lit("2024-01-16")
        Tables.events(s, d)
          .groupBy("event_type")
          .agg(sum(when(pre, 1L).otherwise(0L)).as("n_pre"),
            sum(when(!pre, 1L).otherwise(0L)).as("n_post"))
          .withColumn("rate_pre_hr",
            round(col("n_pre").cast("double") / 360.0, 4))
          .withColumn("rate_post_hr",
            round(col("n_post").cast("double") / 360.0, 4))
          .withColumn("z_raw", (col("n_pre") - col("n_post")).cast("double")
            / sqrt((col("n_pre") + col("n_post")).cast("double")))
          .withColumn("z", round(col("z_raw"), 4))
          .withColumn("significant", abs(col("z_raw")) > 1.96)
          .drop("z_raw")
          .orderBy("event_type")
      },
      Some("""WITH c AS (
             |  SELECT event_type,
             |    CAST(SUM(CASE WHEN ts < '2024-01-16' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_pre,
             |    CAST(SUM(CASE WHEN ts >= '2024-01-16' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_post
             |  FROM events GROUP BY event_type)
             |SELECT event_type, n_pre, n_post,
             |  ROUND(CAST(n_pre AS DOUBLE) / 360.0, 4) AS rate_pre_hr,
             |  ROUND(CAST(n_post AS DOUBLE) / 360.0, 4) AS rate_post_hr,
             |  ROUND(CAST(n_pre - n_post AS DOUBLE)
             |    / sqrt(CAST(n_pre + n_post AS DOUBLE)), 4) AS z,
             |  abs(CAST(n_pre - n_post AS DOUBLE)
             |    / sqrt(CAST(n_pre + n_post AS DOUBLE))) > 1.96 AS significant
             |FROM c ORDER BY event_type""".stripMargin)),

    // Levene's test in its robust Brown–Forsythe form: are the price
    // VARIANCES equal across return flags? (stat_anova_f asks about
    // means; this is its dispersion sibling and the assumption check
    // before pooling.) z = |x − group median| — the median is the
    // exact interpolating percentile (half-cent grid at worst), so z
    // is an exact multiple of 0.005 and goes through DECIMAL(18,3)
    // sums (z² through its exact square) — associative at any
    // partitioning; the F ratio of exact moments is the only double
    // math. Two aggregate passes (medians, then moments through a
    // broadcast of the 3-row median table).
    Q("stat_levene",
      (s, d) => {
        val med = Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(expr("percentile(l_extendedprice, 0.5)").as("med"))
        val g = Tables.lineitem(s, d)
          .join(broadcast(med), "l_returnflag")
          .withColumn("z", abs(col("l_extendedprice") - col("med"))
            .cast("decimal(18,3)"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("ng"), sum(col("z")).as("sz"),
            sum(col("z") * col("z")).as("sz2"))
        g.agg(count(lit(1)).as("k"), sum("ng").as("n"),
            sum(col("sz")).as("s"), sum(col("sz2")).as("s2"),
            sum(col("sz").cast("double") * col("sz").cast("double") /
              col("ng").cast("double")).as("sqn"))
          .select(col("k"), col("n"),
            round(((col("sqn") - col("s").cast("double") *
              col("s").cast("double") / col("n").cast("double")) /
              (col("k") - 1).cast("double")) /
              ((col("s2").cast("double") - col("sqn")) /
                (col("n") - col("k")).cast("double")), 4).as("f_stat"))
      },
      Some("""WITH med AS (
             |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
             |  FROM lineitem GROUP BY l_returnflag),
             |zt AS (
             |  SELECT l.l_returnflag,
             |    CAST(abs(l.l_extendedprice - m.med) AS DECIMAL(18,3)) AS z
             |  FROM lineitem l JOIN med m USING (l_returnflag)),
             |g AS (
             |  SELECT l_returnflag, COUNT(*) AS ng, SUM(z) AS sz,
             |    SUM(z * z) AS sz2
             |  FROM zt GROUP BY l_returnflag),
             |m AS (
             |  SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
             |    SUM(sz) AS s, SUM(sz2) AS s2,
             |    SUM(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
             |      / CAST(ng AS DOUBLE)) AS sqn
             |  FROM g)
             |SELECT k, n,
             |  ROUND(((sqn - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             |      / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
             |    / ((CAST(s2 AS DOUBLE) - sqn)
             |      / CAST(n - k AS DOUBLE)), 4) AS f_stat
             |FROM m""".stripMargin)),

    // Jarque–Bera normality test per group — the decision layer on top
    // of stat_skew_kurtosis' exact integer-moment machinery:
    // JB = n/6 · (S² + K²/4), rejected against the χ²(2) 5% critical
    // value. Quantities are integers, so s1..s4 are exact BIGINT sums;
    // S, K and JB are closed-form doubles on exact inputs (identical
    // IEEE both engines); the reject flag is decided on the RAW JB.
    Q("stat_jarque_bera",
      (s, d) => {
        val q = col("l_quantity").cast("long")
        val m = Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum(q).as("s1"),
            sum(q * q).as("s2"), sum(q * q * q).as("s3"),
            sum(q * q * q * q).as("s4"))
          .withColumn("mean", col("s1").cast("double") / col("n"))
          .withColumn("m2",
            col("s2").cast("double") / col("n") - col("mean") * col("mean"))
          .withColumn("m3",
            col("s3").cast("double") / col("n")
              - lit(3.0) * col("mean") * (col("s2").cast("double") / col("n"))
              + lit(2.0) * col("mean") * col("mean") * col("mean"))
          .withColumn("m4",
            col("s4").cast("double") / col("n")
              - lit(4.0) * col("mean") * (col("s3").cast("double") / col("n"))
              + lit(6.0) * col("mean") * col("mean") *
                (col("s2").cast("double") / col("n"))
              - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
          .withColumn("sk", col("m3") / (col("m2") * sqrt(col("m2"))))
          .withColumn("ku", col("m4") / (col("m2") * col("m2")) - lit(3.0))
          .withColumn("jb", col("n").cast("double") / 6.0 *
            (col("sk") * col("sk") + col("ku") * col("ku") / 4.0))
        m.select(col("l_returnflag"), col("n"),
            round(col("sk"), 4).as("skewness"),
            round(col("ku"), 4).as("kurtosis_excess"),
            round(col("jb"), 4).as("jb_stat"),
            (col("jb") > 5.991).as("reject_normal"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, n,
             |  ROUND(sk, 4) AS skewness, ROUND(ku, 4) AS kurtosis_excess,
             |  ROUND(CAST(n AS DOUBLE) / 6.0e0
             |    * (sk * sk + ku * ku / 4.0e0), 4) AS jb_stat,
             |  CAST(n AS DOUBLE) / 6.0e0 * (sk * sk + ku * ku / 4.0e0)
             |    > 5.991e0 AS reject_normal
             |FROM (
             |  SELECT l_returnflag, n,
             |    m3 / (m2 * sqrt(m2)) AS sk,
             |    m4 / (m2 * m2) - 3.0e0 AS ku
             |  FROM (
             |    SELECT l_returnflag, n, mean,
             |      CAST(s2 AS DOUBLE) / n - mean * mean AS m2,
             |      CAST(s3 AS DOUBLE) / n
             |        - 3.0e0 * mean * (CAST(s2 AS DOUBLE) / n)
             |        + 2.0e0 * mean * mean * mean AS m3,
             |      CAST(s4 AS DOUBLE) / n
             |        - 4.0e0 * mean * (CAST(s3 AS DOUBLE) / n)
             |        + 6.0e0 * mean * mean * (CAST(s2 AS DOUBLE) / n)
             |        - 3.0e0 * mean * mean * mean * mean AS m4
             |    FROM (
             |      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             |        CAST(SUM(q) AS BIGINT) AS s1,
             |        CAST(SUM(q * q) AS BIGINT) AS s2,
             |        CAST(SUM(q * q * q) AS BIGINT) AS s3,
             |        CAST(SUM(q * q * q * q) AS BIGINT) AS s4,
             |        CAST(SUM(q) AS DOUBLE) / COUNT(*) AS mean
             |      FROM (SELECT l_returnflag,
             |          CAST(l_quantity AS BIGINT) AS q FROM lineitem) t
             |      GROUP BY l_returnflag) mom) ms) fin
             |ORDER BY l_returnflag""".stripMargin)),

    // Trimmed and winsorized means — the robust-location estimators a
    // metrics pipeline swaps in when stat_outlier_tukey says the tails
    // are dirty. Bounds are exact interpolating percentiles (p10/p90,
    // broadcast per group); the TRIMMED mean sums only interior
    // cent-clean values through DECIMAL (exact at any partitioning);
    // the WINSORIZED mean never sums clamped doubles row-wise —
    // interior decimal sum + n_low·p10 + n_high·p90 in closed form, so
    // the only float ops are two products on exact counts.
    Q("stat_trimmed_mean",
      (s, d) => {
        val b = Tables.orders(s, d)
          .groupBy("o_orderpriority")
          .agg(expr("percentile(o_totalprice, 0.1)").as("p10"),
            expr("percentile(o_totalprice, 0.9)").as("p90"))
        Tables.orders(s, d)
          .join(broadcast(b), "o_orderpriority")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_totalprice") >= col("p10") &&
              col("o_totalprice") <= col("p90"), 1L).otherwise(0L))
              .as("n_interior"),
            sum(when(col("o_totalprice") < col("p10"), 1L).otherwise(0L))
              .as("n_low"),
            sum(when(col("o_totalprice") > col("p90"), 1L).otherwise(0L))
              .as("n_high"),
            sum(when(col("o_totalprice") >= col("p10") &&
              col("o_totalprice") <= col("p90"),
              col("o_totalprice").cast("decimal(18,2)"))).as("s_int"),
            max("p10").as("p10"), max("p90").as("p90"))
          .select(col("o_orderpriority"), col("n"), col("n_interior"),
            round(col("s_int").cast("double") /
              col("n_interior").cast("double"), 4).as("trimmed_mean"),
            round((col("s_int").cast("double") +
              col("n_low").cast("double") * col("p10") +
              col("n_high").cast("double") * col("p90")) /
              col("n").cast("double"), 4).as("winsorized_mean"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH b AS (
             |  SELECT o_orderpriority,
             |    quantile_cont(o_totalprice, 0.1) AS p10,
             |    quantile_cont(o_totalprice, 0.9) AS p90
             |  FROM orders GROUP BY 1),
             |g AS (
             |  SELECT o.o_orderpriority, COUNT(*) AS n,
             |    CAST(SUM(CASE WHEN o_totalprice >= p10
             |      AND o_totalprice <= p90 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_interior,
             |    CAST(SUM(CASE WHEN o_totalprice < p10 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_low,
             |    CAST(SUM(CASE WHEN o_totalprice > p90 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_high,
             |    SUM(CASE WHEN o_totalprice >= p10 AND o_totalprice <= p90
             |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s_int,
             |    MAX(p10) AS p10, MAX(p90) AS p90
             |  FROM orders o JOIN b USING (o_orderpriority)
             |  GROUP BY 1)
             |SELECT o_orderpriority, n, n_interior,
             |  ROUND(CAST(s_int AS DOUBLE) / CAST(n_interior AS DOUBLE), 4)
             |    AS trimmed_mean,
             |  ROUND((CAST(s_int AS DOUBLE)
             |      + CAST(n_low AS DOUBLE) * p10
             |      + CAST(n_high AS DOUBLE) * p90)
             |    / CAST(n AS DOUBLE), 4) AS winsorized_mean
             |FROM g ORDER BY o_orderpriority""".stripMargin)),

    // Kruskal–Wallis H (one-way rank ANOVA): does document length
    // differ across the 5 languages? Rank-based sibling of stat_anova_f
    // (no normality assumption) and the k-group extension of
    // stat_mannwhitney: the value-rank device over the n_chars
    // histogram with one arm per language, so every group's DOUBLED
    // rank-sum Σ c_g·r2 stays BIGINT-exact. The five per-lang terms
    // R²/(4n) are folded in the WRITTEN lang order (ewma device) so
    // both engines add identical doubles; the tie correction
    // Σ(t³−t)/(N³−N) is pure integer arithmetic. At 100 TB the value
    // histogram (distinct doc lengths) is the only shuffled stream —
    // model-sized next to the corpus.
    Q("stat_kruskal_wallis", {
      val LANGS = Seq("en", "es", "zh", "de", "fr")
      (s, d) => {
        val hist = Tables.documents(s, d).groupBy("n_chars").agg(
          sum(when(col("lang") === LANGS.head, 1L).otherwise(0L)).as(LANGS.head),
          LANGS.tail.map(l => sum(when(col("lang") === l, 1L).otherwise(0L)).as(l)): _*)
        val aggCols = LANGS.map(l => sum(col(l) * col("r2")).as(s"r2_$l")) :+
          sum("cnt").as("n") :+
          sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties")
        val agg = valueRanks(hist, "n_chars", LANGS)
          .groupBy(LANGS.map(l => col(s"n_$l")): _*)
          .agg(aggCols.head, aggCols.tail: _*)
        val nD = col("n").cast("double")
        val terms = LANGS.map { l =>
          when(col(s"n_$l") > 0,
            (col(s"r2_$l") * col(s"r2_$l")).cast("double") /
              (lit(4.0) * col(s"n_$l").cast("double"))).otherwise(lit(0.0))
        }.reduce(_ + _)
        val h = lit(12.0) / (nD * (nD + 1.0)) * terms - lit(3.0) * (nD + 1.0)
        val c = lit(1.0) -
          col("ties").cast("double") / (nD * nD * nD - nD)
        agg.select(col("n"),
          lit(LANGS.size - 1).cast("long").as("df"),
          round(h, 4).as("h_stat"),
          round(c, 6).as("tie_correction"),
          round(h / c, 4).as("h_adjusted"))
      }
    },
      Some {
        val LANGS = Seq("en", "es", "zh", "de", "fr")
        val condCols = LANGS.map(l =>
          s"SUM(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS $l")
          .mkString(", ")
        val nCols = LANGS.map(l => s"n_$l").mkString(", ")
        val terms = LANGS.map(l =>
          s"CASE WHEN n_$l > 0 THEN CAST(r2_$l * r2_$l AS DOUBLE) / (4.0 * CAST(n_$l AS DOUBLE)) ELSE 0.0 END")
          .mkString("\n             |      + ")
        s"""WITH agg AS (
           |  SELECT $nCols,
           |    ${LANGS.map(l => s"SUM($l * r2) AS r2_$l").mkString(", ")},
           |    CAST(SUM(cnt) AS BIGINT) AS n,
           |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
           |  FROM (${SQL_VALUE_RANKS(s"(SELECT n_chars, $condCols FROM documents GROUP BY n_chars)",
             "n_chars", LANGS)}) r
           |  GROUP BY $nCols)
           |SELECT n, CAST(${LANGS.size - 1} AS BIGINT) AS df,
           |  ROUND(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
           |    * ($terms)
           |    - 3.0 * (CAST(n AS DOUBLE) + 1.0), 4) AS h_stat,
           |  ROUND(1.0 - CAST(ties AS DOUBLE)
           |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
           |       - CAST(n AS DOUBLE)), 6) AS tie_correction,
           |  ROUND((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
           |    * ($terms)
           |    - 3.0 * (CAST(n AS DOUBLE) + 1.0))
           |    / (1.0 - CAST(ties AS DOUBLE)
           |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
           |         - CAST(n AS DOUBLE))), 4) AS h_adjusted
           |FROM agg""".stripMargin
      }),

    // Fisher's EXACT test on the 2×2 (lang='en') × (source='src0')
    // contingency table — the small-margin independence test chi²
    // approximations get wrong. The corpus contributes ONE aggregate
    // (four conditional counts); everything after is expression work on
    // a single row: log-binomials ln C(m,j) = Σ ln((m−i+1)/i) as
    // in-row ordered folds (no lgamma in either engine's portable
    // surface), the hypergeometric enumeration over the margin-feasible
    // a-range as one transform+fold (margin-sized, never data-sized),
    // and the two-sided p as the fold-ordered sum of tables no more
    // likely than the observed one (standard 1e-7 fp tolerance). ln and
    // exp are the already-trusted libm pair (round(6) on output); every
    // fold runs in written index order on both engines.
    Q("stat_fisher_exact", {
      (s, d) => {
        val cnts = Tables.documents(s, d).agg(
          sum(when(col("lang") === "en" && col("source") === "src0", 1L)
            .otherwise(0L)).as("a"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("r1"),
          sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c1"),
          count(lit(1)).as("n"))
        cnts
          .withColumn("r2", col("n") - col("r1"))
          .withColumn("lnc_n_c1", expr(lncS("n", "c1")))
          .withColumn("q_obs",
            expr(lncS("r1", "a")) + expr(lncS("r2", "c1 - a")))
          .withColumn("lo", greatest(lit(0L), col("r1") + col("c1") - col("n")))
          .withColumn("hi", least(col("r1"), col("c1")))
          .withColumn("p_two", expr(
            s"""aggregate(transform(sequence(CAST(lo AS INT), CAST(hi AS INT)),
               |  t -> ${lncS("r1", "t")} + ${lncS("r2", "c1 - t")}),
               |  CAST(0.0 AS DOUBLE),
               |  (acc, qa) -> acc + CASE WHEN qa <= q_obs + 1e-7
               |    THEN exp(qa - lnc_n_c1) ELSE 0.0 END)""".stripMargin))
          // Haldane–Anscombe +0.5 on all four cells when any is 0
          // (r10, ADVICE): pins the degenerate-table OR to a defined
          // value instead of engine-dependent NULL-vs-Infinity on x/0.
          .withColumn("h", when(
            col("a") === 0 || col("r1") - col("a") === 0 ||
              col("c1") - col("a") === 0 ||
              col("n") - col("r1") - col("c1") + col("a") === 0,
            lit(0.5)).otherwise(lit(0.0)))
          .select(col("a"), col("r1"), col("c1"), col("n"),
            round((col("a") + col("h")) *
              ((col("n") - col("r1") - col("c1") + col("a")) + col("h")) /
              (((col("r1") - col("a")) + col("h")) *
                ((col("c1") - col("a")) + col("h"))),
              4).as("odds_ratio"),
            round(exp(col("q_obs") - col("lnc_n_c1")), 6).as("p_observed_table"),
            round(col("p_two"), 6).as("p_two_sided"))
      }
    },
      Some {
        s"""WITH cnts AS (
           |  SELECT
           |    CAST(SUM(CASE WHEN lang = 'en' AND source = 'src0'
           |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
           |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS r1,
           |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           |    COUNT(*) AS n
           |  FROM documents),
           |prep AS (
           |  SELECT a, r1, c1, n, n - r1 AS r2,
           |    CASE WHEN a = 0 OR r1 - a = 0 OR c1 - a = 0
           |        OR n - r1 - c1 + a = 0
           |      THEN 0.5 ELSE 0.0 END AS h,
           |    ${lncD("n", "c1")} AS lnc_n_c1,
           |    ${lncD("r1", "a")} + ${lncD("n - r1", "c1 - a")} AS q_obs,
           |    GREATEST(0, r1 + c1 - n) AS lo, LEAST(r1, c1) AS hi
           |  FROM cnts)
           |SELECT a, r1, c1, n,
           |  ROUND((a + h) * ((n - r1 - c1 + a) + h)
           |    / (((r1 - a) + h) * ((c1 - a) + h)), 4) AS odds_ratio,
           |  ROUND(exp(q_obs - lnc_n_c1), 6) AS p_observed_table,
           |  ROUND(list_sum(list_transform(
           |      generate_series(CAST(lo AS INT), CAST(hi AS INT)),
           |      t -> CASE WHEN ${lncD("r1", "t")} + ${lncD("r2", "c1 - t")}
           |          <= q_obs + 1e-7
           |        THEN exp(${lncD("r1", "t")} + ${lncD("r2", "c1 - t")}
           |          - lnc_n_c1) ELSE 0.0 END)), 6) AS p_two_sided
           |FROM prep""".stripMargin
      }),

    // Benjamini–Hochberg step-up FDR over a FAMILY of exact tests: every
    // source is tested for lang='en' enrichment (the same per-row
    // hypergeometric machinery as stat_fisher_exact, margins from two
    // integer windows over the 20-row source aggregate), then the
    // family-wise discovery set is cut at the LARGEST rank i with
    // p_(i) ≤ i·α/m — the step-up rule a naive per-row threshold gets
    // wrong. The corpus contributes one aggregate; the test family and
    // both BH windows are sources-sized. Ranks order by the raw p
    // (bit-identical across engines — same folds) with the source name
    // as total tie-break; α/m thresholds are exact binary fractions
    // times the rank, compared unrounded.
    Q("stat_bh_fdr",
      (s, d) => {
        val wAll = Window.partitionBy()
        val wRank = Window.orderBy(col("p_two"), col("source"))
        val perSrc = Tables.documents(s, d)
          .groupBy("source")
          .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("a"),
            count(lit(1)).as("c1"))
          .withColumn("r1", sum("a").over(wAll))
          .withColumn("n", sum("c1").over(wAll))
          .withColumn("m", count(lit(1)).over(wAll))
          .withColumn("r2", col("n") - col("r1"))
          .withColumn("lnc_n_c1", expr(lncS("n", "c1")))
          .withColumn("q_obs",
            expr(lncS("r1", "a")) + expr(lncS("r2", "c1 - a")))
          .withColumn("lo",
            greatest(lit(0L), col("r1") + col("c1") - col("n")))
          .withColumn("hi", least(col("r1"), col("c1")))
          .withColumn("p_two", expr(
            s"""aggregate(transform(sequence(CAST(lo AS INT), CAST(hi AS INT)),
               |  t -> ${lncS("r1", "t")} + ${lncS("r2", "c1 - t")}),
               |  CAST(0.0 AS DOUBLE),
               |  (acc, qa) -> acc + CASE WHEN qa <= q_obs + 1e-7
               |    THEN exp(qa - lnc_n_c1) ELSE 0.0 END)""".stripMargin))
        perSrc
          .withColumn("i", row_number().over(wRank).cast("long"))
          .withColumn("flag_i",
            when(col("p_two") <= col("i").cast("double") * lit(0.1) /
              col("m").cast("double"), col("i")).otherwise(lit(0L)))
          .withColumn("k", max("flag_i").over(wAll))
          .select(col("source"), col("a"), col("c1"),
            col("i"), round(col("p_two"), 6).as("p_two"),
            round(col("i").cast("double") * lit(0.1) /
              col("m").cast("double"), 6).as("bh_threshold"),
            (col("i") <= col("k")).as("discovery"))
          .orderBy("i")
      },
      Some(s"""WITH per AS (
              |  SELECT source,
              |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a,
              |    COUNT(*) AS c1
              |  FROM documents GROUP BY source),
              |marg AS (
              |  SELECT source, a, c1,
              |    SUM(a) OVER () AS r1, SUM(c1) OVER () AS n,
              |    COUNT(*) OVER () AS m
              |  FROM per),
              |prep AS (
              |  SELECT source, a, c1, r1, n, m, n - r1 AS r2,
              |    ${lncD("n", "c1")} AS lnc_n_c1,
              |    ${lncD("r1", "a")} + ${lncD("n - r1", "c1 - a")} AS q_obs,
              |    GREATEST(0, r1 + c1 - n) AS lo, LEAST(r1, c1) AS hi
              |  FROM marg),
              |tests AS (
              |  SELECT source, a, c1, m,
              |    list_sum(list_transform(
              |      generate_series(CAST(lo AS INT), CAST(hi AS INT)),
              |      t -> CASE WHEN ${lncD("r1", "t")} + ${lncD("r2", "c1 - t")}
              |          <= q_obs + 1e-7
              |        THEN exp(${lncD("r1", "t")} + ${lncD("r2", "c1 - t")}
              |          - lnc_n_c1) ELSE 0.0 END)) AS p_two
              |  FROM prep),
              |ranked AS (
              |  SELECT source, a, c1, m, p_two,
              |    CAST(ROW_NUMBER() OVER (ORDER BY p_two, source) AS BIGINT) AS i
              |  FROM tests),
              |cut AS (
              |  SELECT *, MAX(CASE WHEN p_two <= CAST(i AS DOUBLE) * 0.1
              |      / CAST(m AS DOUBLE) THEN i ELSE 0 END) OVER () AS k
              |  FROM ranked)
              |SELECT source, a, c1, i, ROUND(p_two, 6) AS p_two,
              |  ROUND(CAST(i AS DOUBLE) * 0.1 / CAST(m AS DOUBLE), 6)
              |    AS bh_threshold,
              |  i <= k AS discovery
              |FROM cut ORDER BY i""".stripMargin)),

    // Permutation test for the click-vs-view mean-value difference —
    // the distribution-free significance test that needs NO parametric
    // z at all. Each of B=100 "shuffles" is a DETERMINISTIC hashed
    // relabeling (md5(event_id, b) parity — the portable-hash device),
    // so both engines materialize the identical permutation family with
    // zero RNG state. The explode-by-B fan-out is the textbook
    // map-side-combine shape: partial aggregation collapses each
    // partition to B×2 running (cents, n) pairs before the shuffle, so
    // the wire cost is B, not B×rows — the same plan at 100 TB. Group
    // sums stay exact DECIMAL cents; each permutation's mean gap and
    // the observed gap are divisions of exact integers, compared
    // unrounded; the p-value is the add-one integer ratio.
    Q("stat_permutation_test", {
      val B = 100
      (s, d) => {
        val base = Tables.events(s, d)
          .filter(col("event_type").isin("click", "view"))
          .select(col("event_id"), col("event_type"),
            col("value").cast("decimal(18,2)").as("cents"))
        val obs = base.agg(
          sum(when(col("event_type") === "click", col("cents"))).as("s1"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n1"),
          sum(when(col("event_type") === "view", col("cents"))).as("s0"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n0"))
          .select((col("s1").cast("double") / col("n1").cast("double") -
            col("s0").cast("double") / col("n0").cast("double")).as("t_obs"),
            col("n1"), col("n0"))
        val perms = base
          .withColumn("b", explode(expr(s"sequence(1, $B)")))
          .withColumn("g",
            expr("CAST(conv(substring(md5(concat_ws('_', event_id, b)), 1, 2), 16, 10) AS BIGINT) % 2"))
          .groupBy("b")
          .agg(sum(when(col("g") === 1, col("cents"))).as("s1"),
            sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("g") === 0, col("cents"))).as("s0"),
            sum(when(col("g") === 0, 1L).otherwise(0L)).as("n0"))
          .select(col("b"),
            (col("s1").cast("double") / col("n1").cast("double") -
              col("s0").cast("double") / col("n0").cast("double")).as("t_b"))
        perms.crossJoin(broadcast(obs))
          .agg(max("n1").as("n_click"), max("n0").as("n_view"),
            round(max("t_obs"), 4).as("t_obs"),
            count(lit(1)).as("n_perms"),
            sum(when(abs(col("t_b")) >= abs(col("t_obs")), 1L).otherwise(0L))
              .as("n_extreme"))
          .withColumn("p_value",
            round((col("n_extreme") + 1).cast("double") /
              (col("n_perms") + 1).cast("double"), 4))
      }
    },
      Some {
        val B = 100
        s"""WITH base AS (
           |  SELECT event_id, event_type,
           |    CAST(value AS DECIMAL(18,2)) AS cents
           |  FROM events WHERE event_type IN ('click', 'view')),
           |obs AS (
           |  SELECT
           |    CAST(SUM(CASE WHEN event_type = 'click' THEN cents END) AS DOUBLE)
           |      / CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE)
           |    - CAST(SUM(CASE WHEN event_type = 'view' THEN cents END) AS DOUBLE)
           |      / CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE)
           |      AS t_obs,
           |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n0
           |  FROM base),
           |perms AS (
           |  SELECT b,
           |    CAST(SUM(CASE WHEN g = 1 THEN cents END) AS DOUBLE)
           |      / CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           |    - CAST(SUM(CASE WHEN g = 0 THEN cents END) AS DOUBLE)
           |      / CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS DOUBLE)
           |      AS t_b
           |  FROM (
           |    SELECT b,
           |      ((strpos('0123456789abcdef',
           |          substr(md5(concat_ws('_', event_id, b)), 1, 1)) - 1) * 16
           |       + (strpos('0123456789abcdef',
           |          substr(md5(concat_ws('_', event_id, b)), 2, 1)) - 1)) % 2 AS g,
           |      cents
           |    FROM base, unnest(generate_series(1, $B)) t(b)) x
           |  GROUP BY b)
           |SELECT MAX(n1) AS n_click, MAX(n0) AS n_view,
           |  ROUND(MAX(t_obs), 4) AS t_obs,
           |  COUNT(*) AS n_perms,
           |  CAST(SUM(CASE WHEN abs(t_b) >= abs(t_obs) THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_extreme,
           |  ROUND(CAST(CAST(SUM(CASE WHEN abs(t_b) >= abs(t_obs)
           |        THEN 1 ELSE 0 END) AS BIGINT) + 1 AS DOUBLE)
           |    / CAST(COUNT(*) + 1 AS DOUBLE), 4) AS p_value
           |FROM perms, obs""".stripMargin
      }),

    // Bayesian A/B: P(p_urgent > p_high) for order-fulfillment rates
    // under Beta(1,1) priors — the closed-form Miller sum
    // Σ_{i<aA} exp(lnB(aB+i, bA+bB) − ln(bA+i) − lnB(1+i, bA)
    // − lnB(aB, bB)). Every Beta argument is an INTEGER count, so
    // lnΓ(n) = Σ_{i<n} ln i is the same portable ordered fold as the
    // exact tests' log-binomials — no lgamma dependency — and the
    // outer sum folds in i order. The %199 cohort keeps the
    // enumeration (aA terms × O(n) folds) model-sized; the dial is the
    // modulus, the corpus contributes one 4-count aggregate either
    // way. exp/ln are the trusted libm pair; round(4) on the posterior
    // means, round(6) on the probability.
    Q("stat_bayes_ab", {
      def lgiS(n: String) =
        s"""CASE WHEN ($n) < 2 THEN 0.0 ELSE
           |aggregate(transform(sequence(1, CAST(($n) - 1 AS INT)),
           |  i -> ln(CAST(i AS DOUBLE))),
           |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) END""".stripMargin
      def lnbS(x: String, y: String) =
        s"(${lgiS(x)} + ${lgiS(y)} - ${lgiS(s"($x) + ($y)")})"
      (s, d) => {
        val base = Tables.orders(s, d)
          .filter(col("o_orderkey") % 199 === 0 &&
            col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        val cnts = base.agg(
          sum(when(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderstatus") === "F", 1L).otherwise(0L)).as("sa"),
          sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
            .as("na"),
          sum(when(col("o_orderpriority") === "2-HIGH" &&
            col("o_orderstatus") === "F", 1L).otherwise(0L)).as("sb"),
          sum(when(col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
            .as("nb"))
        cnts
          .withColumn("aa", col("sa") + 1).withColumn("ba",
            col("na") - col("sa") + 1)
          .withColumn("ab", col("sb") + 1).withColumn("bb",
            col("nb") - col("sb") + 1)
          .withColumn("prob_a_beats_b", round(expr(
            s"""aggregate(transform(sequence(0, CAST(aa - 1 AS INT)),
               |  i -> exp(${lnbS("ab + i", "ba + bb")}
               |         - ln(CAST(ba + i AS DOUBLE))
               |         - ${lnbS("1 + i", "ba")}
               |         - ${lnbS("ab", "bb")})),
               |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin), 6))
          .select(col("sa"), col("na"), col("sb"), col("nb"),
            round(col("aa").cast("double") /
              (col("aa") + col("ba")).cast("double"), 4).as("post_mean_a"),
            round(col("ab").cast("double") /
              (col("ab") + col("bb")).cast("double"), 4).as("post_mean_b"),
            col("prob_a_beats_b"))
      }
    },
      Some {
        def lgiD(n: String) =
          s"""CASE WHEN ($n) < 2 THEN 0.0 ELSE
             |list_sum(list_transform(generate_series(1, CAST(($n) - 1 AS INT)),
             |  i -> ln(CAST(i AS DOUBLE)))) END""".stripMargin
        def lnbD(x: String, y: String) =
          s"(${lgiD(x)} + ${lgiD(y)} - ${lgiD(s"($x) + ($y)")})"
        s"""WITH base AS (
           |  SELECT * FROM orders
           |  WHERE o_orderkey % 199 = 0
           |    AND o_orderpriority IN ('1-URGENT', '2-HIGH')),
           |cnts AS (
           |  SELECT
           |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
           |      AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS sa,
           |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
           |      THEN 1 ELSE 0 END) AS BIGINT) AS na,
           |    CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
           |      AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS sb,
           |    CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
           |      THEN 1 ELSE 0 END) AS BIGINT) AS nb
           |  FROM base),
           |prep AS (
           |  SELECT sa, na, sb, nb,
           |    sa + 1 AS aa, na - sa + 1 AS ba,
           |    sb + 1 AS ab, nb - sb + 1 AS bb
           |  FROM cnts)
           |SELECT sa, na, sb, nb,
           |  ROUND(CAST(aa AS DOUBLE) / CAST(aa + ba AS DOUBLE), 4)
           |    AS post_mean_a,
           |  ROUND(CAST(ab AS DOUBLE) / CAST(ab + bb AS DOUBLE), 4)
           |    AS post_mean_b,
           |  ROUND(list_sum(list_transform(
           |      generate_series(0, CAST(aa - 1 AS INT)),
           |      i -> exp(${lnbD("ab + i", "ba + bb")}
           |             - ln(CAST(ba + i AS DOUBLE))
           |             - ${lnbD("1 + i", "ba")}
           |             - ${lnbD("ab", "bb")}))), 6) AS prob_a_beats_b
           |FROM prep""".stripMargin
      }),

    // Welch's unequal-variance t-test (click vs purchase values) — the
    // default two-sample mean test when variances differ. Per-group
    // moments n, Σc, Σc² are EXACT BIGINTs in the 2-dp cents domain
    // (one map-side-combined aggregate over the fact, the only
    // corpus-proportional stage); t and the Satterthwaite df then run
    // entirely in mirrored double expressions over those exact inputs —
    // every multiply/divide/sqrt is one correctly-rounded IEEE op in
    // the SAME tree shape on both engines, so the raw unrounded doubles
    // hash-match (the stat_ab_test z precedent). t is scale-invariant,
    // so the cents domain needs no un-scaling; only the reported means
    // divide by 100. Scale: a 2-row summary after one partial-agg pass.
    Q("stat_welch_ttest",
      (s, d) => {
        val m = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .withColumn("cents", cents(col("value")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("sc"),
            sum(col("cents") * col("cents")).as("qc"))
        val a = m.filter(col("event_type") === "click")
          .select(col("n").as("n_a"), col("sc").as("s_a"), col("qc").as("q_a"))
        val b = m.filter(col("event_type") === "purchase")
          .select(col("n").as("n_b"), col("sc").as("s_b"), col("qc").as("q_b"))
        def se2(n: String, sc: String, qc: String) =
          (col(n).cast("double") * col(qc).cast("double") -
            col(sc).cast("double") * col(sc).cast("double")) /
            (col(n).cast("double") * (col(n) - 1).cast("double")) /
            col(n).cast("double")
        a.crossJoin(b) // 1×1 summary join
          .withColumn("se2_a", se2("n_a", "s_a", "q_a"))
          .withColumn("se2_b", se2("n_b", "s_b", "q_b"))
          .withColumn("t_stat",
            (col("s_a").cast("double") / col("n_a") -
              col("s_b").cast("double") / col("n_b")) /
              sqrt(col("se2_a") + col("se2_b")))
          .withColumn("df_welch",
            (col("se2_a") + col("se2_b")) * (col("se2_a") + col("se2_b")) /
              (col("se2_a") * col("se2_a") / (col("n_a") - 1).cast("double") +
                col("se2_b") * col("se2_b") / (col("n_b") - 1).cast("double")))
          .select(col("n_a").as("n_click"), col("n_b").as("n_purchase"),
            (col("s_a").cast("double") / col("n_a") / lit(100.0))
              .as("mean_click"),
            (col("s_b").cast("double") / col("n_b") / lit(100.0))
              .as("mean_purchase"),
            col("t_stat"), col("df_welch"))
      },
      Some(s"""WITH m AS (
             |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(cents) AS BIGINT) AS s,
             |    CAST(SUM(cents * cents) AS BIGINT) AS q
             |  FROM (
             |    SELECT event_type,
             |      ${SQL_CENTS("value")} AS cents
             |    FROM events WHERE event_type IN ('click', 'purchase')) x
             |  GROUP BY event_type),
             |ab AS (
             |  SELECT
             |    (SELECT n FROM m WHERE event_type = 'click') AS n_a,
             |    (SELECT s FROM m WHERE event_type = 'click') AS s_a,
             |    (SELECT q FROM m WHERE event_type = 'click') AS q_a,
             |    (SELECT n FROM m WHERE event_type = 'purchase') AS n_b,
             |    (SELECT s FROM m WHERE event_type = 'purchase') AS s_b,
             |    (SELECT q FROM m WHERE event_type = 'purchase') AS q_b),
             |se AS (
             |  SELECT *,
             |    (CAST(n_a AS DOUBLE) * CAST(q_a AS DOUBLE)
             |      - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
             |      / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE))
             |      / CAST(n_a AS DOUBLE) AS se2_a,
             |    (CAST(n_b AS DOUBLE) * CAST(q_b AS DOUBLE)
             |      - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
             |      / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE))
             |      / CAST(n_b AS DOUBLE) AS se2_b
             |  FROM ab)
             |SELECT n_a AS n_click, n_b AS n_purchase,
             |  CAST(s_a AS DOUBLE) / n_a / 100.0 AS mean_click,
             |  CAST(s_b AS DOUBLE) / n_b / 100.0 AS mean_purchase,
             |  (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
             |    / sqrt(se2_a + se2_b) AS t_stat,
             |  (se2_a + se2_b) * (se2_a + se2_b)
             |    / (se2_a * se2_a / CAST(n_a - 1 AS DOUBLE)
             |      + se2_b * se2_b / CAST(n_b - 1 AS DOUBLE)) AS df_welch
             |FROM se""".stripMargin)),

    // Cochran–Armitage trend test — "is the purchase share drifting
    // across ordered day cohorts?", the categorical twin of
    // ts_mann_kendall and the standard dose-response / cohort-drift
    // monitor. Day index is the score; per-day trials nᵢ and successes
    // sᵢ come from ONE map-side-combined aggregate. The statistic is
    // assembled from two exact BIGINT forms — A = N·Σxᵢsᵢ − S·Σxᵢnᵢ
    // (N× the centered trend numerator) and B = N·Σnᵢxᵢ² − (Σnᵢxᵢ)²
    // (N× the score variance) — so z = A / sqrt(S·(N−S)·B / N) touches
    // doubles only in the final mirrored divide/sqrt (identical IEEE
    // tree both engines, the stat_ab_test precedent). Scale: the
    // calendar-bounded day summary is tiny; the fact is read once.
    Q("stat_trend_armitage",
      (s, d) => {
        val byDay = Tables.events(s, d)
          .groupBy(dayofmonth(col("ts")).cast("long").as("x"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("s"))
        byDay.agg(
            count(lit(1)).as("n_days"),
            sum("n").as("n_total"), sum("s").as("n_success"),
            sum(col("x") * col("s")).as("xs"),
            sum(col("x") * col("n")).as("xn"),
            sum(col("x") * col("x") * col("n")).as("xxn"))
          .withColumn("a_num",
            col("n_total") * col("xs") - col("n_success") * col("xn"))
          .withColumn("b_var",
            col("n_total") * col("xxn") - col("xn") * col("xn"))
          .select(col("n_days"), col("n_total"), col("n_success"),
            (col("a_num").cast("double") /
              sqrt(col("n_success").cast("double") *
                (col("n_total") - col("n_success")).cast("double") *
                col("b_var").cast("double") /
                col("n_total").cast("double"))).as("z_trend"))
      },
      Some("""WITH byday AS (
             |  SELECT CAST(dayofmonth(ts) AS BIGINT) AS x,
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CASE WHEN event_type = 'purchase'
             |      THEN 1 ELSE 0 END) AS BIGINT) AS s
             |  FROM events GROUP BY 1),
             |m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             |    CAST(SUM(n) AS BIGINT) AS n_total,
             |    CAST(SUM(s) AS BIGINT) AS n_success,
             |    CAST(SUM(x * s) AS BIGINT) AS xs,
             |    CAST(SUM(x * n) AS BIGINT) AS xn,
             |    CAST(SUM(x * x * n) AS BIGINT) AS xxn
             |  FROM byday)
             |SELECT n_days, n_total, n_success,
             |  CAST(n_total * xs - n_success * xn AS DOUBLE)
             |    / sqrt(CAST(n_success AS DOUBLE)
             |      * CAST(n_total - n_success AS DOUBLE)
             |      * CAST(n_total * xxn - xn * xn AS DOUBLE)
             |      / CAST(n_total AS DOUBLE)) AS z_trend
             |FROM m""".stripMargin)),

    // Capture-recapture population estimate (Chapman's bias-corrected
    // Lincoln–Petersen) — "how many users exist, given two overlapping
    // sightings?": the estimator behind dedup-scale and coverage
    // audits when the full population can't be enumerated (how many
    // distinct entities does the corpus REALLY contain, estimated from
    // two independent capture channels). Captures = clicked vs viewed
    // user sets; N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with its variance, both
    // from three exact BIGINT counts out of ONE user-level aggregate
    // (two bool_or flags, map-side combined — no self-join of the two
    // capture sets). The estimate is served as an exact BIGINT-rational
    // floor division; only the variance is a mirrored double.
    Q("stat_capture_recapture",
      (s, d) => {
        val caps = Tables.events(s, d)
          .groupBy("user_id")
          .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("c1"),
            max(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("c2"))
        caps.agg(
            sum("c1").as("n1"), sum("c2").as("n2"),
            sum(col("c1") * col("c2")).as("m"),
            count(lit(1)).as("n_users_true"))
          .select(col("n1"), col("n2"), col("m"), col("n_users_true"),
            (expr("((n1 + 1) * (n2 + 1)) div (m + 1)") - 1).as("n_hat"),
            (((col("n1") + 1) * (col("n2") + 1)).cast("double") *
              (col("n1") - col("m")).cast("double") *
              (col("n2") - col("m")).cast("double") /
              ((col("m") + 1).cast("double") * (col("m") + 1).cast("double") *
                (col("m") + 2).cast("double"))).as("var_hat"))
      },
      Some("""WITH caps AS (
             |  SELECT user_id,
             |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
             |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
             |  FROM events GROUP BY user_id),
             |m AS (
             |  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             |    CAST(SUM(c2) AS BIGINT) AS n2,
             |    CAST(SUM(c1 * c2) AS BIGINT) AS m,
             |    CAST(COUNT(*) AS BIGINT) AS n_users_true
             |  FROM caps)
             |SELECT n1, n2, m, n_users_true,
             |  ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS n_hat,
             |  CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
             |    * CAST(n1 - m AS DOUBLE) * CAST(n2 - m AS DOUBLE)
             |    / (CAST(m + 1 AS DOUBLE) * CAST(m + 1 AS DOUBLE)
             |      * CAST(m + 2 AS DOUBLE)) AS var_hat
             |FROM m""".stripMargin)),

    // Wald–Wolfowitz runs test — "is the daily purchase volume
    // RANDOM around its center, or does it streak?": the
    // distribution-free serial-dependence check that complements
    // ts_ljung_box (which needs a numeric ACF) with a pure sign
    // argument. Signs vs the exact integer MEDIAN-of-counts (type-1,
    // both engines' percentile_disc semantics agree on BIGINTs; ties
    // ON the median are dropped — the standard treatment), runs
    // counted with one lag over the day order, then z from the exact
    // closed forms E[R] = 1 + 2ab/n, Var = 2ab(2ab−n)/(n²(n−1)) — all
    // BIGINT until the final mirrored divide/sqrt. Scale: one
    // calendar-bounded day aggregate; the lag window rides the tiny
    // series.
    Q("stat_runs_test",
      (s, d) => {
        val byDay = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
        val med = byDay.agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)").as("md"))
        val signs = byDay.crossJoin(med)
          .filter(col("c") =!= col("md"))
          .withColumn("sgn", when(col("c") > col("md"), 1L).otherwise(0L))
        val runs = signs
          .withColumn("prev",
            lag("sgn", 1).over(Window.orderBy("day")))
          .agg(count(lit(1)).as("n"),
            sum("sgn").as("n_above"),
            sum(when(col("prev").isNull || col("prev") =!= col("sgn"), 1L)
              .otherwise(0L)).as("n_runs"))
        runs
          .withColumn("n_below", col("n") - col("n_above"))
          .withColumn("tw", lit(2L) * col("n_above") * col("n_below"))
          .select(col("n"), col("n_above"), col("n_below"), col("n_runs"),
            ((col("n_runs").cast("double") -
              (lit(1.0) + col("tw").cast("double") / col("n").cast("double"))) /
              sqrt(col("tw").cast("double") *
                (col("tw") - col("n")).cast("double") /
                (col("n").cast("double") * col("n").cast("double") *
                  (col("n") - 1).cast("double")))).as("z_runs"))
      },
      Some("""WITH byday AS (
             |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |med AS (SELECT CAST(quantile_disc(c, 0.5) AS BIGINT) AS md
             |        FROM byday),
             |signs AS (
             |  SELECT day, CASE WHEN c > md THEN 1 ELSE 0 END AS sgn
             |  FROM byday, med WHERE c <> md),
             |runs AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(sgn) AS BIGINT) AS n_above,
             |    CAST(SUM(CASE WHEN prev IS NULL OR prev <> sgn
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
             |  FROM (SELECT sgn, LAG(sgn, 1) OVER (ORDER BY day) AS prev
             |        FROM signs) t),
             |ext AS (
             |  SELECT n, n_above, n - n_above AS n_below, n_runs,
             |    2 * n_above * (n - n_above) AS tw
             |  FROM runs)
             |SELECT n, n_above, n_below, n_runs,
             |  (CAST(n_runs AS DOUBLE)
             |    - (1.0 + CAST(tw AS DOUBLE) / CAST(n AS DOUBLE)))
             |  / sqrt(CAST(tw AS DOUBLE) * CAST(tw - n AS DOUBLE)
             |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
             |      * CAST(n - 1 AS DOUBLE))) AS z_runs
             |FROM ext""".stripMargin)),

    // Cohen's kappa — chance-corrected agreement between two raters,
    // THE consistency metric for LLM-judge / heuristic-labeler audits
    // ("do the cheap rule and the expensive judge agree beyond
    // chance?"). Raters here are two deterministic quality gates
    // (char-length vs word-count) over documents; the 2×2 table comes
    // from ONE map-side-combined pass. κ = (n·agree − Σ margins) /
    // (n² − Σ margins) stays an exact BIGINT rational — the classic
    // po/pe formulation multiplied through by n² — served as a single
    // mirrored double division. Scale: O(1) state after one scan.
    Q("stat_cohens_kappa",
      (s, d) => {
        val t = Tables.documents(s, d)
          .withColumn("ra", (col("n_chars") >= 200).cast("long"))
          .withColumn("rb",
            (size(split(col("text"), " ")) >= 40).cast("long"))
        t.agg(count(lit(1)).as("n"),
            sum(col("ra") * col("rb")).as("n11"),
            sum(col("ra") * (lit(1L) - col("rb"))).as("n10"),
            sum((lit(1L) - col("ra")) * col("rb")).as("n01"),
            sum((lit(1L) - col("ra")) * (lit(1L) - col("rb"))).as("n00"))
          .withColumn("chance",
            (col("n11") + col("n10")) * (col("n11") + col("n01")) +
              (col("n01") + col("n00")) * (col("n10") + col("n00")))
          .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
            ((col("n") * (col("n11") + col("n00")) - col("chance"))
              .cast("double") /
              (col("n") * col("n") - col("chance")).cast("double"))
              .as("kappa"))
      },
      Some("""WITH r AS (
             |  SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS ra,
             |    CASE WHEN len(string_split(text, ' ')) >= 40
             |      THEN 1 ELSE 0 END AS rb
             |  FROM documents),
             |c AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(ra * rb) AS BIGINT) AS n11,
             |    CAST(SUM(ra * (1 - rb)) AS BIGINT) AS n10,
             |    CAST(SUM((1 - ra) * rb) AS BIGINT) AS n01,
             |    CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS n00
             |  FROM r),
             |e AS (
             |  SELECT *, (n11 + n10) * (n11 + n01)
             |    + (n01 + n00) * (n10 + n00) AS chance
             |  FROM c)
             |SELECT n, n11, n10, n01, n00,
             |  CAST(n * (n11 + n00) - chance AS DOUBLE)
             |    / CAST(n * n - chance AS DOUBLE) AS kappa
             |FROM e""".stripMargin)),

    // Log-rank test — "do the two cohorts' survival curves differ?",
    // the standard companion to ts_kaplan_meier (A/B of
    // time-to-first-error between even/odd user cohorts, censoring
    // respected). Per pooled death time, at-risk counts and deaths are
    // EXACT integers (the at-risk join fans the user table over the
    // ≤|days| death-time list — broadcast-sized; at corpus scale the
    // same numbers come from a per-lifetime suffix sum, no semantic
    // change); the O−E and hypergeometric-variance terms are then
    // folded in strict t order on both engines (index-order-fold /
    // SQL_DOT device), so z ships as an unrounded identical double.
    Q("stat_logrank_test",
      (s, d) => {
        val users = Tables.events(s, d)
          .select(col("user_id"),
            datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
              .as("dn"),
            col("event_type"))
          .groupBy("user_id")
          .agg(min("dn").as("f"), max("dn").as("l"),
            min(when(col("event_type") === "error", col("dn"))).as("e"))
          .withColumn("g", (col("user_id") % 2).cast("long"))
          .withColumn("death", col("e").isNotNull.cast("long"))
          .withColumn("lt",
            when(col("e").isNull, col("l") - col("f"))
              .otherwise(col("e") - col("f")))
          .select("g", "death", "lt")
        val dtimes = users.filter(col("death") === 1L)
          .select(col("lt").as("t")).distinct()
        val atRisk = dtimes.join(users, col("lt") >= col("t"))
          .groupBy("t")
          .agg(sum(when(col("g") === 0L, 1L).otherwise(0L)).as("n1"),
            sum(when(col("g") === 1L, 1L).otherwise(0L)).as("n2"),
            sum(when(col("g") === 0L && col("death") === 1L &&
              col("lt") === col("t"), 1L).otherwise(0L)).as("d1"),
            sum(when(col("death") === 1L && col("lt") === col("t"), 1L)
              .otherwise(0L)).as("dt"))
        atRisk
          .agg(count(lit(1)).as("n_death_times"),
            sort_array(collect_list(struct(col("t"), col("n1"), col("n2"),
              col("d1"), col("dt")))).as("cs"))
          .select(col("n_death_times"),
            expr("""aggregate(cs, CAST(0.0 AS DOUBLE), (acc, x) ->
              acc + (CAST(x.d1 AS DOUBLE)
                - CAST(x.dt AS DOUBLE) * CAST(x.n1 AS DOUBLE)
                  / CAST(x.n1 + x.n2 AS DOUBLE)))""").as("o_minus_e"),
            expr("""aggregate(cs, CAST(0.0 AS DOUBLE), (acc, x) ->
              acc + (CASE WHEN x.n1 + x.n2 > 1
                THEN CAST(x.dt AS DOUBLE) * CAST(x.n1 AS DOUBLE)
                  * CAST(x.n2 AS DOUBLE)
                  * CAST(x.n1 + x.n2 - x.dt AS DOUBLE)
                  / (CAST(x.n1 + x.n2 AS DOUBLE)
                    * CAST(x.n1 + x.n2 AS DOUBLE)
                    * CAST(x.n1 + x.n2 - 1 AS DOUBLE))
                ELSE CAST(0.0 AS DOUBLE) END))""").as("var_sum"))
          .withColumn("z_logrank", col("o_minus_e") / sqrt(col("var_sum")))
      },
      Some("""WITH users AS (
             |  SELECT user_id % 2 AS g,
             |    CASE WHEN e IS NULL THEN 0 ELSE 1 END AS death,
             |    CASE WHEN e IS NULL THEN l - f ELSE e - f END AS lt
             |  FROM (
             |    SELECT user_id, MIN(dn) AS f, MAX(dn) AS l,
             |      MIN(CASE WHEN event_type = 'error' THEN dn END) AS e
             |    FROM (SELECT user_id, event_type,
             |        CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
             |          AS dn FROM events) x
             |    GROUP BY user_id) u),
             |dtimes AS (SELECT DISTINCT lt AS t FROM users WHERE death = 1),
             |ar AS (
             |  SELECT t,
             |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             |    CAST(SUM(CASE WHEN g = 0 AND death = 1 AND lt = t
             |      THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             |    CAST(SUM(CASE WHEN death = 1 AND lt = t
             |      THEN 1 ELSE 0 END) AS BIGINT) AS dt
             |  FROM dtimes JOIN users ON lt >= t GROUP BY t),
             |agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_death_times,
             |    list(list_value(CAST(n1 AS DOUBLE), CAST(n2 AS DOUBLE),
             |      CAST(d1 AS DOUBLE), CAST(dt AS DOUBLE)) ORDER BY t)
             |      AS cs
             |  FROM ar)
             |SELECT n_death_times,
             |  list_sum(list_transform(cs, x ->
             |    x[3] - x[4] * x[1] / (x[1] + x[2]))) AS o_minus_e,
             |  list_sum(list_transform(cs, x ->
             |    CASE WHEN x[1] + x[2] > 1
             |      THEN x[4] * x[1] * x[2] * (x[1] + x[2] - x[4])
             |        / ((x[1] + x[2]) * (x[1] + x[2]) * (x[1] + x[2] - 1))
             |      ELSE 0.0 END)) AS var_sum,
             |  list_sum(list_transform(cs, x ->
             |    x[3] - x[4] * x[1] / (x[1] + x[2])))
             |  / sqrt(list_sum(list_transform(cs, x ->
             |    CASE WHEN x[1] + x[2] > 1
             |      THEN x[4] * x[1] * x[2] * (x[1] + x[2] - x[4])
             |        / ((x[1] + x[2]) * (x[1] + x[2]) * (x[1] + x[2] - 1))
             |      ELSE 0.0 END))) AS z_logrank
             |FROM agg""".stripMargin)),

    // Anderson–Darling uniformity audit of the md5 sampling coin — the
    // DQ test for the HASH INFRASTRUCTURE itself: every sampling /
    // splitting / sketching operator in this library trusts
    // hex15(md5(id))/2⁶⁰ to be U(0,1), and A² is the standard
    // tail-sensitive way to check it. The classic statistic needs a
    // data-length ordered float sum; here each (2i−1)(ln uᵢ +
    // ln(1−u_{n+1−i})) term is rounded to MICRO-unit BIGINTs first
    // (the ts_cusum device: a 1-ulp cross-engine ln wobble is 10⁻⁷ of
    // the rounding grid), so the global reduction is a plain exact
    // integer SUM — map-side combined, NO ordering device at any
    // scale. The rank is Ranking.withGlobalRowNumber (range-bucketed
    // two-pass, bit-identical to the window row_number by RankingSpec's
    // contract) — no single-partition sort at any corpus size (the
    // oracle keeps the window form).
    Q("stat_anderson_darling",
      (s, d) => {
        val u = Tables.documents(s, d)
          .select(col("doc_id"),
            ((conv(substring(md5(concat(lit("ad:"),
              col("doc_id").cast("string"))), 1, 15), 16, 10)
              .cast("long").cast("double") + 0.5) /
              lit(1152921504606846976.0)).as("u"))
        // checkpoint the ranked table: it is consumed TWICE by the
        // i ↔ n+1−i pairing self-join below, and the device itself
        // reads its input in three branches — one materialization
        // serves all five consumers
        val r = graft.api.Ranking.withGlobalRowNumber(u,
          Seq(col("u"), col("doc_id")), rnCol = "i").drop("__n")
          .localCheckpoint(eager = false)
        val n = r.agg(count(lit(1)).as("n"))
        val paired = r.as("a").crossJoin(n)
          .join(r.as("b").select(col("b.i").as("j"), col("b.u").as("u2")),
            col("j") === col("n") + 1 - col("a.i"))
          .select(col("a.i"), col("n"),
            ((lit(2L) * col("a.i") - 1).cast("double") *
              (log(col("a.u")) + log(lit(1.0) - col("u2")))).as("term"))
          .select(col("n"), round(col("term") * 1e6).cast("long").as("t6"))
        paired.groupBy("n").agg(sum("t6").as("s6"))
          .select(col("n"),
            round(-col("n").cast("double") -
              col("s6").cast("double") / 1e6 / col("n").cast("double"), 4)
              .as("a2"),
            (round(-col("n").cast("double") -
              col("s6").cast("double") / 1e6 / col("n").cast("double"), 4)
              > 2.492).as("reject_uniform_5pct"))
      },
      Some(s"""WITH u AS (
              |  SELECT doc_id,
              |    (CAST(${SQL_HEX15("md5('ad:' || CAST(doc_id AS VARCHAR))")} AS DOUBLE) + 0.5)
              |      / CAST(1152921504606846976 AS DOUBLE) AS u
              |  FROM documents),
              |r AS (SELECT doc_id, u,
              |    ROW_NUMBER() OVER (ORDER BY u, doc_id) AS i
              |  FROM u),
              |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r),
              |paired AS (
              |  SELECT nn.n,
              |    CAST(round(CAST(2 * a.i - 1 AS DOUBLE)
              |      * (ln(a.u) + ln(1.0 - b.u)) * 1000000.0) AS BIGINT)
              |      AS t6
              |  FROM r a JOIN nn ON TRUE
              |  JOIN r b ON b.i = nn.n + 1 - a.i)
              |SELECT n,
              |  round(-CAST(n AS DOUBLE)
              |    - CAST(SUM(t6) AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE),
              |    4) AS a2,
              |  round(-CAST(n AS DOUBLE)
              |    - CAST(SUM(t6) AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE),
              |    4) > 2.492 AS reject_uniform_5pct
              |FROM paired GROUP BY n""".stripMargin)),

    // Sample-ratio-mismatch guardrail — the FIRST check any
    // experiment readout must pass (a biased assignment invalidates
    // every downstream stat): for a 50/50 split, χ²(1df) collapses to
    // the exact rational (n_a−n_b)²/(n_a+n_b) — one integer numerator,
    // one division — flagged at the conventional SRM threshold
    // χ² > 10.83 (p < 0.001, the industry alarm level, deliberately
    // stricter than 0.05 because SRM fires on infrastructure bugs,
    // not noise). One user-level aggregate.
    Q("stat_srm_check",
      (s, d) => {
        val arms = Tables.events(s, d)
          .select(col("user_id")).distinct()
          .groupBy((col("user_id") % 2 === 0).cast("long").as("arm_a"))
          .agg(count(lit(1)).as("n"))
        arms.agg(
            sum(when(col("arm_a") === 1L, col("n"))).as("n_a"),
            sum(when(col("arm_a") === 0L, col("n"))).as("n_b"))
          .select(col("n_a"), col("n_b"),
            (((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
              .cast("double") / (col("n_a") + col("n_b")).cast("double"))
              .as("chi2"),
            ((((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
              .cast("double") / (col("n_a") + col("n_b")).cast("double"))
              > 10.83).as("srm_alarm"))
      },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
             |m AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_b
             |  FROM u)
             |SELECT n_a, n_b,
             |  CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
             |    / CAST(n_a + n_b AS DOUBLE) AS chi2,
             |  CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
             |    / CAST(n_a + n_b AS DOUBLE) > 10.83 AS srm_alarm
             |FROM m""".stripMargin)),

    // Herfindahl–Hirschman concentration of the corpus over sources —
    // the antitrust number repurposed as the dataset-diversity gate
    // ("is the mix dominated by one crawler?"): HHI = Σ shareᵢ², kept
    // exact as Σnᵢ²/N² (integer numerator, one division), with the
    // effective-source count 1/HHI — the same number
    // llm_dataset_card's entropy view approximates from the other
    // side. One map-side-combined aggregate.
    Q("llm_hhi_concentration",
      (s, d) => {
        val bySrc = Tables.documents(s, d)
          .groupBy("source").agg(count(lit(1)).as("n"))
        bySrc.agg(count(lit(1)).as("n_sources"),
            sum("n").as("n_docs"), sum(col("n") * col("n")).as("sq"))
          .select(col("n_sources"), col("n_docs"),
            (col("sq").cast("double") /
              (col("n_docs") * col("n_docs")).cast("double")).as("hhi"),
            ((col("n_docs") * col("n_docs")).cast("double") /
              col("sq").cast("double")).as("effective_sources"))
      },
      Some("""WITH s AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM documents GROUP BY source),
             |m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
             |    CAST(SUM(n) AS BIGINT) AS n_docs,
             |    CAST(SUM(n * n) AS BIGINT) AS sq
             |  FROM s)
             |SELECT n_sources, n_docs,
             |  CAST(sq AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE) AS hhi,
             |  CAST(n_docs * n_docs AS DOUBLE) / CAST(sq AS DOUBLE)
             |    AS effective_sources
             |FROM m""".stripMargin)),

    // Partial correlation — "are clicks and purchases correlated
    // BEYOND what overall traffic (views) explains?": the
    // confounder-controlled r(xy·z) every naive correlation dashboard
    // needs next to it. The three daily series produce exact BIGINT
    // moments in ONE pivoted pass over the calendar-bounded day
    // aggregate; the three pairwise r's and the partial formula
    // (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) are mirrored doubles.
    Q("stat_partial_corr",
      (s, d) => {
        val byDay = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase", "view"))
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("y"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("z"))
        val m = byDay.agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("z")).as("sxz"),
          sum(col("y") * col("z")).as("syz"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("z") * col("z")).as("szz"))
        def r(sab: String, sa: String, sb: String, saa: String,
            sbb: String) =
          (col("n") * col(sab) - col(sa) * col(sb)).cast("double") /
            sqrt((col("n") * col(saa) - col(sa) * col(sa)).cast("double") *
              (col("n") * col(sbb) - col(sb) * col(sb)).cast("double"))
        m.withColumn("rxy", r("sxy", "sx", "sy", "sxx", "syy"))
          .withColumn("rxz", r("sxz", "sx", "sz", "sxx", "szz"))
          .withColumn("ryz", r("syz", "sy", "sz", "syy", "szz"))
          .select(col("n").as("n_days"), col("rxy"), col("rxz"), col("ryz"),
            ((col("rxy") - col("rxz") * col("ryz")) /
              sqrt((lit(1.0) - col("rxz") * col("rxz")) *
                (lit(1.0) - col("ryz") * col("ryz"))))
              .as("partial_rxy_given_z"))
      },
      Some("""WITH byday AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS x,
             |    CAST(SUM(CASE WHEN event_type = 'purchase'
             |      THEN 1 ELSE 0 END) AS BIGINT) AS y,
             |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS z
             |  FROM events
             |  WHERE event_type IN ('click', 'purchase', 'view')
             |  GROUP BY 1),
             |m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             |    CAST(SUM(z) AS BIGINT) AS sz,
             |    CAST(SUM(x * y) AS BIGINT) AS sxy,
             |    CAST(SUM(x * z) AS BIGINT) AS sxz,
             |    CAST(SUM(y * z) AS BIGINT) AS syz,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx,
             |    CAST(SUM(y * y) AS BIGINT) AS syy,
             |    CAST(SUM(z * z) AS BIGINT) AS szz
             |  FROM byday),
             |r AS (
             |  SELECT n,
             |    CAST(n * sxy - sx * sy AS DOUBLE)
             |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
             |        * CAST(n * syy - sy * sy AS DOUBLE)) AS rxy,
             |    CAST(n * sxz - sx * sz AS DOUBLE)
             |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
             |        * CAST(n * szz - sz * sz AS DOUBLE)) AS rxz,
             |    CAST(n * syz - sy * sz AS DOUBLE)
             |      / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
             |        * CAST(n * szz - sz * sz AS DOUBLE)) AS ryz
             |  FROM m)
             |SELECT n AS n_days, rxy, rxz, ryz,
             |  (rxy - rxz * ryz)
             |    / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
             |    AS partial_rxy_given_z
             |FROM r""".stripMargin)),

    // Lorenz curve — the decile-level inequality profile behind
    // stat_gini's single number ("the top decile holds X% of spend"),
    // the concentration view every marketplace/revenue dashboard
    // draws. Users are ranked by exact cents spend with a unique
    // (spend, id) total order, cut into exact NTILE deciles, and each
    // decile reports its population, its spend share, and the
    // CUMULATIVE share — all integer sums with one final mirrored
    // division per output cell. The user-level rollup is the only
    // corpus-proportional stage: the decile cut is Ranking.ntileExact
    // (range-partitioned two-pass global row number + front-loaded-
    // remainder tile rule, bit-identical to NTILE by RankingSpec's
    // contract), NOT a global NTILE window — at 10⁸-10⁹ users the
    // single-partition total-order sort would be the job's bottleneck.
    Q("stat_lorenz_curve",
      (s, d) => {
        val users = Tables.events(s, d)
          .withColumn("cents", cents(col("value")))
          .groupBy("user_id").agg(sum("cents").as("spend"))
        val ranked = graft.api.Ranking.ntileExact(users.localCheckpoint(eager = false),
          10, Seq(col("spend"), col("user_id")), tileCol = "decile")
        val byDec = ranked.groupBy("decile")
          .agg(count(lit(1)).as("n_users"), sum("spend").as("dec_spend"))
        val tot = byDec.agg(sum("dec_spend").as("total"))
        byDec.crossJoin(tot)
          .withColumn("cum_spend", sum("dec_spend").over(
            Window.orderBy("decile")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("decile"), col("n_users"),
            (col("dec_spend").cast("double") / col("total").cast("double"))
              .as("share"),
            (col("cum_spend").cast("double") / col("total").cast("double"))
              .as("cum_share"))
          .orderBy("decile")
      },
      Some(s"""WITH users AS (
             |  SELECT user_id, CAST(SUM(cents) AS BIGINT) AS spend
             |  FROM (SELECT user_id,
             |      ${SQL_CENTS("value")}
             |        AS cents
             |    FROM events) x
             |  GROUP BY user_id),
             |ranked AS (
             |  SELECT spend, CAST(NTILE(10) OVER (ORDER BY spend, user_id)
             |    AS BIGINT) AS decile
             |  FROM users),
             |bydec AS (
             |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
             |    CAST(SUM(spend) AS BIGINT) AS dec_spend
             |  FROM ranked GROUP BY decile),
             |tot AS (SELECT CAST(SUM(dec_spend) AS BIGINT) AS total
             |        FROM bydec)
             |SELECT b.decile, b.n_users,
             |  CAST(b.dec_spend AS DOUBLE) / CAST(t.total AS DOUBLE)
             |    AS share,
             |  CAST(SUM(b.dec_spend) OVER (ORDER BY b.decile
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS DOUBLE) / CAST(t.total AS DOUBLE) AS cum_share
             |FROM bydec b, tot t ORDER BY b.decile""".stripMargin))

    ,
    // Hodges–Lehmann estimator — the robust location the Wilcoxon
    // test implies (median of all Walsh pairwise averages): ~86%
    // Gaussian efficiency with a 29% breakdown point, the right
    // "typical daily volume" when spikes poison the mean. The pair
    // fan-out runs on the CALENDAR-BOUNDED daily aggregate (≤n(n+1)/2
    // rows for n days — never the corpus), and the median is taken on
    // the exact INTEGER pair-sums (2× the Walsh average) via the
    // shared percentile_disc/quantile_disc type-1 semantics, halved
    // only at the end — float-free throughout.
    Q("stat_hodges_lehmann",
      (s, d) => {
        val byDay = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
          .withColumn("i", row_number().over(Window.orderBy("day")))
        val pairs = byDay.as("a").join(byDay.as("b"),
            col("a.i") <= col("b.i"))
          .select((col("a.c") + col("b.c")).as("s2"))
        pairs.agg(count(lit(1)).as("n_pairs"),
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY s2)")
              .cast("long").as("med2"),
            min("s2").as("min2"), max("s2").as("max2"))
          .select(col("n_pairs"),
            (col("med2").cast("double") / 2.0).as("hl_estimate"),
            (col("min2").cast("double") / 2.0).as("min_walsh"),
            (col("max2").cast("double") / 2.0).as("max_walsh"))
      },
      Some("""WITH byday AS (
             |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |idx AS (SELECT c, ROW_NUMBER() OVER (ORDER BY day) AS i
             |        FROM byday),
             |pairs AS (
             |  SELECT a.c + b.c AS s2 FROM idx a JOIN idx b ON a.i <= b.i)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |  CAST(CAST(quantile_disc(s2, 0.5) AS BIGINT) AS DOUBLE) / 2.0
             |    AS hl_estimate,
             |  CAST(MIN(s2) AS DOUBLE) / 2.0 AS min_walsh,
             |  CAST(MAX(s2) AS DOUBLE) / 2.0 AS max_walsh
             |FROM pairs""".stripMargin)),

    // Odds ratio with Woolf logit CI — THE effect-size number for 2×2
    // outcomes (stat_ab_test's z says "is there an effect", OR says
    // "how big"): heavy-purchaser conversion odds between the parity
    // arms. OR = ad/bc is served as one division of exact BIGINT
    // products; the CI needs ln/exp, so both bounds ship behind
    // ROUND(…,6) (the established ulp-absorption device). Degenerate
    // 2×2 cells are pinned (r10, ADVICE): if ANY cell is 0, all four
    // cells take the Haldane–Anscombe +0.5 correction before the
    // ratio/SE — otherwise Spark (non-ANSI) would return NULL for x/0
    // where DuckDB returns ±Infinity, an engine-dependent divergence
    // instead of a defined statistic. The correction is mirrored as
    // the same CASE in both engines. One user-level pass, 1-row
    // output.
    Q("stat_odds_ratio",
      (s, d) => {
        val z = 1.9599639845400545
        val users = Tables.events(s, d)
          .groupBy("user_id")
          .agg(when(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)) >= 14, 1L).otherwise(0L).as("conv"))
          .withColumn("arm_a", (col("user_id") % 2 === 0).cast("long"))
        val cells = users.agg(
          sum(col("arm_a") * col("conv")).as("a"),
          sum(col("arm_a") * (lit(1L) - col("conv"))).as("b"),
          sum((lit(1L) - col("arm_a")) * col("conv")).as("c"),
          sum((lit(1L) - col("arm_a")) * (lit(1L) - col("conv"))).as("dd"))
        val hasZero = col("a") === 0 || col("b") === 0 ||
          col("c") === 0 || col("dd") === 0
        def adj(c0: Column): Column =
          when(hasZero, c0.cast("double") + 0.5).otherwise(c0.cast("double"))
        cells
          .withColumn("aa", adj(col("a"))).withColumn("bb", adj(col("b")))
          .withColumn("cc", adj(col("c"))).withColumn("dd2", adj(col("dd")))
          .withColumn("or_", col("aa") * col("dd2") / (col("bb") * col("cc")))
          .withColumn("se", sqrt(lit(1.0) / col("aa") + lit(1.0) / col("bb") +
            lit(1.0) / col("cc") + lit(1.0) / col("dd2")))
          .select(col("a"), col("b"), col("c"), col("dd").as("d"),
            round(col("or_"), 6).as("odds_ratio"),
            round(exp(log(col("or_")) - lit(z) * col("se")), 6).as("ci_lo"),
            round(exp(log(col("or_")) + lit(z) * col("se")), 6).as("ci_hi"))
      },
      Some("""WITH u AS (
             |  SELECT user_id,
             |    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
             |      THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS conv,
             |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS arm_a
             |  FROM events GROUP BY user_id),
             |cells AS (
             |  SELECT CAST(SUM(arm_a * conv) AS BIGINT) AS a,
             |    CAST(SUM(arm_a * (1 - conv)) AS BIGINT) AS b,
             |    CAST(SUM((1 - arm_a) * conv) AS BIGINT) AS c,
             |    CAST(SUM((1 - arm_a) * (1 - conv)) AS BIGINT) AS dd
             |  FROM u),
             |adj AS (
             |  SELECT *,
             |    CASE WHEN a = 0 OR b = 0 OR c = 0 OR dd = 0
             |      THEN 0.5 ELSE 0.0 END AS h
             |  FROM cells),
             |e AS (
             |  SELECT a, b, c, dd,
             |    (a + h) * (dd + h) / ((b + h) * (c + h)) AS or_,
             |    sqrt(1.0 / (a + h) + 1.0 / (b + h)
             |       + 1.0 / (c + h) + 1.0 / (dd + h)) AS se
             |  FROM adj)
             |SELECT a, b, c, dd AS d, ROUND(or_, 6) AS odds_ratio,
             |  ROUND(exp(ln(or_) - CAST('1.9599639845400545' AS DOUBLE)
             |    * se), 6) AS ci_lo,
             |  ROUND(exp(ln(or_) + CAST('1.9599639845400545' AS DOUBLE)
             |    * se), 6) AS ci_hi
             |FROM e""".stripMargin)),

    // Wilson score interval — the proportion CI that behaves at the
    // extremes (near-0/near-1 rates, small n) where the naive Wald
    // interval collapses: the per-segment conversion-rate error bars a
    // dashboard should actually draw. One user-level pass fixes each
    // event type's participation share (exact integers); the interval
    // is the closed form (p̂ + z²/2n ± z√(p̂(1−p̂)/n + z²/4n²))/(1+z²/n)
    // with the z literal spliced identically into both engines —
    // mirrored doubles, no quantile call, bounds clamped to [0,1] by
    // construction.
    Q("stat_wilson_ci",
      (s, d) => {
        val z = 1.9599639845400545
        val users = Tables.events(s, d)
          .groupBy("user_id").agg(count(lit(1)).as("cnt"))
          .agg(count(lit(1)).as("n")).select(col("n"))
        val perType = Tables.events(s, d)
          .select(col("event_type"), col("user_id")).distinct()
          .groupBy("event_type").agg(count(lit(1)).as("k"))
        perType.crossJoin(users)
          .withColumn("p", col("k").cast("double") / col("n"))
          .withColumn("zz", lit(z * z))
          .withColumn("den", lit(1.0) + col("zz") / col("n"))
          .withColumn("ctr",
            (col("p") + col("zz") / (lit(2.0) * col("n"))) / col("den"))
          .withColumn("half",
            lit(z) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n") +
              col("zz") / (lit(4.0) * col("n") * col("n"))) / col("den"))
          .select(col("event_type"), col("k"), col("n"), col("p"),
            (col("ctr") - col("half")).as("ci_lo"),
            (col("ctr") + col("half")).as("ci_hi"))
          .orderBy("event_type")
      },
      Some("""WITH users AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n
             |  FROM (SELECT user_id FROM events GROUP BY user_id) u),
             |pt AS (
             |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k
             |  FROM (SELECT DISTINCT event_type, user_id FROM events) x
             |  GROUP BY event_type),
             |e AS (
             |  SELECT pt.event_type, pt.k, u.n,
             |    CAST(pt.k AS DOUBLE) / u.n AS p,
             |    CAST('1.9599639845400545' AS DOUBLE)
             |      * CAST('1.9599639845400545' AS DOUBLE) AS zz
             |  FROM pt, users u),
             |f AS (
             |  SELECT *, 1.0 + zz / n AS den,
             |    (p + zz / (2.0 * n)) / (1.0 + zz / n) AS ctr,
             |    CAST('1.9599639845400545' AS DOUBLE)
             |      * sqrt(p * (1.0 - p) / n + zz / (4.0 * n * n))
             |      / (1.0 + zz / n) AS half
             |  FROM e)
             |SELECT event_type, k, n, p,
             |  ctr - half AS ci_lo, ctr + half AS ci_hi
             |FROM f ORDER BY event_type""".stripMargin)),

    // McNemar's test — the PAIRED complement to stat_cohens_kappa:
    // same two quality gates, but asking "do they disagree
    // SYMMETRICALLY?" (a one-sided disagreement means one gate is
    // systematically stricter — the drift check when a cheap filter
    // replaces an expensive one). Only the discordant cells enter:
    // χ² = (n10−n01)²/(n10+n01), an exact BIGINT rational served with
    // one mirrored division, plus the continuity-corrected variant.
    // Boundary semantics are pinned explicitly (r10): the corrected
    // numerator clamps at 0 via greatest(|n10−n01|−1, 0) — Edwards'
    // correction is max(…, 0)², not a bare square, else n10==n01
    // yields a spurious 1/(n10+n01) — and when n10+n01 = 0 (zero
    // discordant pairs) the test is undefined, so BOTH chi2 columns
    // emit NULL via a mirrored CASE instead of an engine-dependent
    // 0/0. One corpus pass, 1-row output.
    Q("stat_mcnemar",
      (s, d) => {
        val t = Tables.documents(s, d)
          .withColumn("ra", (col("n_chars") >= 200).cast("long"))
          .withColumn("rb",
            (size(split(col("text"), " ")) >= 40).cast("long"))
        val corrNum = greatest(abs(col("n10") - col("n01")) - 1, lit(0L))
        t.agg(
            sum(col("ra") * (lit(1L) - col("rb"))).as("n10"),
            sum((lit(1L) - col("ra")) * col("rb")).as("n01"))
          .select(col("n10"), col("n01"),
            when(col("n10") + col("n01") === 0, lit(null).cast("double"))
              .otherwise(((col("n10") - col("n01")) *
                (col("n10") - col("n01"))).cast("double") /
                (col("n10") + col("n01")).cast("double"))
              .as("chi2"),
            when(col("n10") + col("n01") === 0, lit(null).cast("double"))
              .otherwise((corrNum * corrNum).cast("double") /
                (col("n10") + col("n01")).cast("double"))
              .as("chi2_corrected"))
      },
      Some("""WITH r AS (
             |  SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS ra,
             |    CASE WHEN len(string_split(text, ' ')) >= 40
             |      THEN 1 ELSE 0 END AS rb
             |  FROM documents),
             |c AS (
             |  SELECT CAST(SUM(ra * (1 - rb)) AS BIGINT) AS n10,
             |    CAST(SUM((1 - ra) * rb) AS BIGINT) AS n01
             |  FROM r)
             |SELECT n10, n01,
             |  CASE WHEN n10 + n01 = 0 THEN NULL
             |    ELSE CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
             |      / CAST(n10 + n01 AS DOUBLE) END AS chi2,
             |  CASE WHEN n10 + n01 = 0 THEN NULL
             |    ELSE CAST(greatest(abs(n10 - n01) - 1, 0)
             |        * greatest(abs(n10 - n01) - 1, 0) AS DOUBLE)
             |      / CAST(n10 + n01 AS DOUBLE) END AS chi2_corrected
             |FROM c""".stripMargin)),

    // Two-proportion power analysis — "how many users per arm does the
    // NEXT experiment need?": the sample-size calculator every
    // experimentation platform runs before stat_ab_test runs after.
    // Baseline conversion is measured from the corpus (exact integer
    // counts); α=.05 two-sided and power=.80 enter as the standard
    // normal quantiles — spliced as identical literal doubles, never a
    // cross-engine quantile call — and n per arm follows the classic
    // (z_α√(2p̄q̄) + z_β√(p₁q₁+p₂q₂))²/Δ² closed form for relative
    // MDEs of 2/5/10%, ceil'd to integers via floor(x)+1-on-fraction
    // (both engines lack a shared ceil-on-double-to-BIGINT idiom, so
    // the mirrored floor arithmetic is explicit). One corpus pass,
    // 3-row output.
    Q("stat_power_twoprop",
      (s, d) => {
        val za = 1.9599639845400545 // Phi^-1(0.975)
        val zb = 0.8416212335729143 // Phi^-1(0.80)
        // heavy-purchaser conversion (>=14 purchase events, the
        // stat_ab_test definition): has-any-purchase is degenerate
        // p~1 in this fixture, which pushes p2 = p1*(1+MDE) past 1
        val base = Tables.events(s, d)
          .groupBy("user_id")
          .agg(when(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)) >= 14, 1L).otherwise(0L).as("conv"))
          .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
        val mdes = Seq(0.02, 0.05, 0.10)
        mdes.map { m =>
          base.select(lit(m).as("mde_rel"), col("n_users"), col("n_conv"),
            (col("n_conv").cast("double") / col("n_users")).as("p1"))
            .withColumn("p2", col("p1") * (1.0 + m))
            .withColumn("pbar", (col("p1") + col("p2")) / 2.0)
            .withColumn("nf",
              (lit(za) * sqrt(lit(2.0) * col("pbar") *
                (lit(1.0) - col("pbar"))) +
                lit(zb) * sqrt(col("p1") * (lit(1.0) - col("p1")) +
                  col("p2") * (lit(1.0) - col("p2")))) *
                (lit(za) * sqrt(lit(2.0) * col("pbar") *
                  (lit(1.0) - col("pbar"))) +
                  lit(zb) * sqrt(col("p1") * (lit(1.0) - col("p1")) +
                    col("p2") * (lit(1.0) - col("p2")))) /
                ((col("p2") - col("p1")) * (col("p2") - col("p1"))))
            .select(col("mde_rel"), col("n_users"), col("n_conv"), col("p1"),
              (floor(col("nf")).cast("long") +
                when(col("nf") > floor(col("nf")), 1L).otherwise(0L))
                .as("n_per_arm"))
        }.reduce(_.unionByName(_)).orderBy("mde_rel")
      },
      Some(s"""WITH base AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
              |    CAST(SUM(conv) AS BIGINT) AS n_conv
              |  FROM (SELECT user_id,
              |      CASE WHEN SUM(CASE WHEN event_type = 'purchase'
              |          THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS conv
              |    FROM events GROUP BY user_id) u),
              |m AS (SELECT * FROM (VALUES (CAST(0.02 AS DOUBLE)),
              |    (CAST(0.05 AS DOUBLE)), (CAST(0.10 AS DOUBLE)))
              |  t(mde_rel)),
              |p AS (
              |  SELECT m.mde_rel, b.n_users, b.n_conv,
              |    CAST(b.n_conv AS DOUBLE) / b.n_users AS p1
              |  FROM m, base b),
              |e AS (
              |  SELECT *, p1 * (1.0 + mde_rel) AS p2,
              |    (p1 + p1 * (1.0 + mde_rel)) / 2.0 AS pbar
              |  FROM p),
              |f AS (
              |  SELECT mde_rel, n_users, n_conv, p1,
              |    (CAST('1.9599639845400545' AS DOUBLE)
              |        * sqrt(2.0 * pbar * (1.0 - pbar))
              |      + CAST('0.8416212335729143' AS DOUBLE)
              |        * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
              |    * (CAST('1.9599639845400545' AS DOUBLE)
              |        * sqrt(2.0 * pbar * (1.0 - pbar))
              |      + CAST('0.8416212335729143' AS DOUBLE)
              |        * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
              |    / ((p2 - p1) * (p2 - p1)) AS nf
              |  FROM e)
              |SELECT mde_rel, n_users, n_conv, p1,
              |  CAST(floor(nf) AS BIGINT)
              |    + CASE WHEN nf > floor(nf) THEN 1 ELSE 0 END AS n_per_arm
              |FROM f ORDER BY mde_rel""".stripMargin)),

    // ---- round-10 stats wave ----

    // Cochran's Q — McNemar generalized to k=3 matched binary
    // treatments: do the three quality gates (length, word count,
    // lang) pass the SAME documents, or is one systematically
    // stricter? Q = (k−1)·(k·ΣG_j² − T²)/(k·T − ΣL_i²) over exact
    // BIGINT row/column totals from ONE corpus pass; the degenerate
    // denominator (every doc passes all or none) emits NULL via the
    // mirrored CASE (the stat_mcnemar boundary device). 1-row output.
    Q("stat_cochran_q",
      (s, d) => {
        val t = Tables.documents(s, d)
          .withColumn("ra", (col("n_chars") >= 200).cast("long"))
          .withColumn("rb",
            (size(split(col("text"), " ")) >= 40).cast("long"))
          .withColumn("rc", (col("lang") === "en").cast("long"))
          .withColumn("l", col("ra") + col("rb") + col("rc"))
        t.agg(count(lit(1)).as("n"), sum("ra").as("ga"),
            sum("rb").as("gb"), sum("rc").as("gc"),
            sum(col("l") * col("l")).as("sl2"))
          .withColumn("tt", col("ga") + col("gb") + col("gc"))
          .select(col("n"), col("ga"), col("gb"), col("gc"),
            when(lit(3L) * col("tt") - col("sl2") === 0,
              lit(null).cast("double"))
              .otherwise((lit(2L) * (lit(3L) * (col("ga") * col("ga") +
                col("gb") * col("gb") + col("gc") * col("gc")) -
                col("tt") * col("tt"))).cast("double") /
                (lit(3L) * col("tt") - col("sl2")).cast("double"))
              .as("q_stat"))
      },
      Some("""WITH r AS (
             |  SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS ra,
             |    CASE WHEN len(string_split(text, ' ')) >= 40
             |      THEN 1 ELSE 0 END AS rb,
             |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rc
             |  FROM documents),
             |c AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(ra) AS BIGINT) AS ga,
             |    CAST(SUM(rb) AS BIGINT) AS gb,
             |    CAST(SUM(rc) AS BIGINT) AS gc,
             |    CAST(SUM((ra + rb + rc) * (ra + rb + rc)) AS BIGINT) AS sl2
             |  FROM r),
             |e AS (SELECT *, ga + gb + gc AS tt FROM c)
             |SELECT n, ga, gb, gc,
             |  CASE WHEN 3 * tt - sl2 = 0 THEN NULL
             |    ELSE CAST(2 * (3 * (ga * ga + gb * gb + gc * gc)
             |        - tt * tt) AS DOUBLE)
             |      / CAST(3 * tt - sl2 AS DOUBLE) END AS q_stat
             |FROM e""".stripMargin)),

    // Fleiss' κ — inter-rater agreement for MORE than two raters
    // (stat_cohens_kappa's k=2 form caps at pairs): the three binary
    // gates as three annotators over every document. P̄ from the exact
    // integer Σ[s² + (3−s)²] (s = passes per doc), chance agreement
    // from the pooled category rates — one corpus pass, closed-form
    // doubles at the end, 1-row output.
    Q("stat_fleiss_kappa",
      (s, d) => {
        val t = Tables.documents(s, d)
          .withColumn("sgn",
            (col("n_chars") >= 200).cast("long") +
              (size(split(col("text"), " ")) >= 40).cast("long") +
              (col("lang") === "en").cast("long"))
        t.agg(count(lit(1)).as("n"), sum("sgn").as("ss"),
            sum(col("sgn") * col("sgn") +
              (lit(3L) - col("sgn")) * (lit(3L) - col("sgn"))).as("sq"))
          .withColumn("pbar",
            (col("sq") - lit(3L) * col("n")).cast("double") /
              (lit(6L) * col("n")).cast("double"))
          .withColumn("p1",
            col("ss").cast("double") / (lit(3L) * col("n")).cast("double"))
          .withColumn("pe",
            col("p1") * col("p1") +
              (lit(1.0) - col("p1")) * (lit(1.0) - col("p1")))
          .select(col("n"), col("ss").as("total_passes"),
            round(col("pbar"), 6).as("p_observed"),
            round(col("pe"), 6).as("p_chance"),
            round((col("pbar") - col("pe")) / (lit(1.0) - col("pe")), 6)
              .as("fleiss_kappa"))
      },
      Some("""WITH r AS (
             |  SELECT (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
             |    + (CASE WHEN len(string_split(text, ' ')) >= 40
             |        THEN 1 ELSE 0 END)
             |    + (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS sgn
             |  FROM documents),
             |c AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(sgn) AS BIGINT) AS ss,
             |    CAST(SUM(sgn * sgn + (3 - sgn) * (3 - sgn)) AS BIGINT) AS sq
             |  FROM r),
             |e AS (
             |  SELECT n, ss,
             |    CAST(sq - 3 * n AS DOUBLE) / CAST(6 * n AS DOUBLE) AS pbar,
             |    CAST(ss AS DOUBLE) / CAST(3 * n AS DOUBLE) AS p1
             |  FROM c),
             |f AS (
             |  SELECT n, ss, pbar,
             |    p1 * p1 + (1.0 - p1) * (1.0 - p1) AS pe
             |  FROM e)
             |SELECT n, ss AS total_passes, ROUND(pbar, 6) AS p_observed,
             |  ROUND(pe, 6) AS p_chance,
             |  ROUND((pbar - pe) / (1.0 - pe), 6) AS fleiss_kappa
             |FROM f""".stripMargin)),

    // Cochran–Mantel–Haenszel — the STRATIFIED 2×2 association test
    // (does source src0 predict long documents, controlling for
    // language?): the confounder-adjusted complement to
    // stat_fisher_exact's single-table question. Per-stratum cells
    // are exact BIGINTs; E_k and V_k are per-stratum double rationals
    // folded IN LANG ORDER on both engines (sort_array + aggregate
    // HOF ↔ list_sum over list(... ORDER BY lang) — the
    // index-order-fold device), so the continuity-corrected statistic
    // ships as an unrounded identical double. Strata count (5 langs)
    // is the only non-aggregate dimension — model-sized forever.
    Q("stat_cmh_test",
      (s, d) => {
        val cells = Tables.documents(s, d)
          .withColumn("x", (col("source") === "src0").cast("long"))
          .withColumn("y", (col("n_chars") >= 200).cast("long"))
          .groupBy("lang")
          .agg(sum(col("x") * col("y")).as("a"),
            sum("x").as("r1"), sum("y").as("c1"), count(lit(1)).as("nk"))
          .withColumn("ek",
            (col("r1") * col("c1")).cast("double") / col("nk").cast("double"))
          .withColumn("vk",
            (col("r1") * (col("nk") - col("r1")) * col("c1") *
              (col("nk") - col("c1"))).cast("double") /
              (col("nk").cast("double") * col("nk").cast("double") *
                (col("nk") - 1).cast("double")))
        cells.agg(sum("a").as("sum_a"),
            expr("""aggregate(transform(sort_array(collect_list(
                 |    struct(lang, ek))), p -> p.ek),
                 |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
              .as("sum_e"),
            expr("""aggregate(transform(sort_array(collect_list(
                 |    struct(lang, vk))), p -> p.vk),
                 |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
              .as("sum_v"),
            count(lit(1)).as("n_strata"))
          .select(col("n_strata"), col("sum_a"), col("sum_e"), col("sum_v"),
            (greatest(abs(col("sum_a").cast("double") - col("sum_e")) -
              lit(0.5), lit(0.0)) *
              greatest(abs(col("sum_a").cast("double") - col("sum_e")) -
                lit(0.5), lit(0.0)) / col("sum_v")).as("cmh_chi2"))
      },
      Some("""WITH k AS (
             |  SELECT lang,
             |    CAST(SUM(x * y) AS BIGINT) AS a,
             |    CAST(SUM(x) AS BIGINT) AS r1,
             |    CAST(SUM(y) AS BIGINT) AS c1,
             |    CAST(COUNT(*) AS BIGINT) AS nk
             |  FROM (SELECT lang,
             |      CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS x,
             |      CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS y
             |    FROM documents) t
             |  GROUP BY lang),
             |e AS (
             |  SELECT lang, a,
             |    CAST(r1 * c1 AS DOUBLE) / nk AS ek,
             |    CAST(r1 * (nk - r1) * c1 * (nk - c1) AS DOUBLE)
             |      / (CAST(nk AS DOUBLE) * nk * (nk - 1)) AS vk
             |  FROM k),
             |s AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
             |    CAST(SUM(a) AS BIGINT) AS sum_a,
             |    list_sum(list(ek ORDER BY lang)) AS sum_e,
             |    list_sum(list(vk ORDER BY lang)) AS sum_v
             |  FROM e)
             |SELECT n_strata, sum_a, sum_e, sum_v,
             |  greatest(abs(CAST(sum_a AS DOUBLE) - sum_e) - 0.5, 0.0)
             |    * greatest(abs(CAST(sum_a AS DOUBLE) - sum_e) - 0.5, 0.0)
             |    / sum_v AS cmh_chi2
             |FROM s""".stripMargin)),

    // Theil's U (uncertainty coefficient) — the ASYMMETRIC categorical
    // association stat_mutual_info deliberately is not: U(lang|source)
    // = I(lang; source)/H(lang) answers "how much does knowing the
    // source REDUCE language uncertainty" (direction matters — a
    // source→lang router cares about this one, not the symmetric MI).
    // All probabilities from exact integer counts on a langs×sources
    // grid; the entropy sums have ≤ 5·20 terms (the stat_entropy
    // too-few-terms-to-drift argument) behind ROUND(…,4).
    Q("stat_theil_u",
      (s, d) => {
        val n = Tables.documents(s, d).count()
        val joint = Tables.documents(s, d)
          .groupBy("lang", "source").agg(count(lit(1)).as("c"))
        val langH = joint.groupBy("lang").agg(sum("c").as("cl"))
          .agg((-sum((col("cl").cast("double") / n) *
            log2(col("cl").cast("double") / n))).as("h_lang"))
        val condH = joint
          .withColumn("cs", sum("c").over(
            org.apache.spark.sql.expressions.Window.partitionBy("source")))
          .agg((-sum((col("c").cast("double") / n) *
            log2(col("c").cast("double") / col("cs")))).as("h_cond"))
        langH.crossJoin(condH)
          .select(round(col("h_lang"), 4).as("h_lang"),
            round(col("h_cond"), 4).as("h_lang_given_source"),
            round((col("h_lang") - col("h_cond")) / col("h_lang"), 4)
              .as("theil_u"))
      },
      Some("""WITH j AS (
             |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM documents GROUP BY 1, 2),
             |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM j),
             |hl AS (
             |  SELECT -SUM((CAST(cl AS DOUBLE) / n)
             |    * log2(CAST(cl AS DOUBLE) / n)) AS h_lang
             |  FROM (SELECT lang, CAST(SUM(c) AS BIGINT) AS cl
             |        FROM j GROUP BY lang) l, n),
             |hc AS (
             |  SELECT -SUM((CAST(c AS DOUBLE) / n)
             |    * log2(CAST(c AS DOUBLE) / cs)) AS h_cond
             |  FROM (SELECT *, SUM(c) OVER (PARTITION BY source) AS cs
             |        FROM j) x, n)
             |SELECT ROUND(h_lang, 4) AS h_lang,
             |  ROUND(h_cond, 4) AS h_lang_given_source,
             |  ROUND((h_lang - h_cond) / h_lang, 4) AS theil_u
             |FROM hl, hc""".stripMargin)),

    // Grubbs' test — the single-most-extreme-outlier screen on the
    // daily purchase-count series (ts_anomaly_zscore flags EVERY
    // |z|>3 day; Grubbs asks the sharper "is the WORST day
    // statistically surprising"). G = max|c−x̄|/s from exact integer
    // day counts; the argmax day is ranked by |n·c − Σc| — an exact
    // INTEGER comparator equivalent to |c−x̄| ordering, so the flagged
    // day never depends on double tie behavior. Calendar-bounded
    // series: every term model-sized at any corpus scale.
    Q("stat_grubbs",
      (s, d) => {
        val byDay = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
        val m = byDay.agg(count(lit(1)).as("n"), sum("c").as("sc"),
          sum(col("c") * col("c")).as("qc"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(abs(col("c") * col("n") - col("sc")).desc, col("day"))
        byDay.crossJoin(broadcast(m))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .withColumn("mean", col("sc").cast("double") / col("n"))
          .withColumn("sd", sqrt(
            (col("n").cast("double") * col("qc").cast("double") -
              col("sc").cast("double") * col("sc").cast("double")) /
              (col("n").cast("double") * (col("n") - 1).cast("double"))))
          .select(col("n").as("n_days"), col("day").as("flagged_day"),
            col("c").as("flagged_count"), round(col("mean"), 4).as("mean"),
            round(col("sd"), 4).as("sd"),
            round(abs(col("c").cast("double") - col("mean")) / col("sd"), 4)
              .as("g_stat"))
      },
      Some("""WITH byday AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(c) AS BIGINT) AS sc,
             |    CAST(SUM(c * c) AS BIGINT) AS qc
             |  FROM byday),
             |r AS (
             |  SELECT day, c, n, sc, qc,
             |    ROW_NUMBER() OVER (ORDER BY abs(c * n - sc) DESC, day)
             |      AS rk
             |  FROM byday, m),
             |f AS (
             |  SELECT n, day, c,
             |    CAST(sc AS DOUBLE) / n AS mean,
             |    sqrt((CAST(n AS DOUBLE) * qc - CAST(sc AS DOUBLE) * sc)
             |      / (CAST(n AS DOUBLE) * (n - 1))) AS sd
             |  FROM r WHERE rk = 1)
             |SELECT n AS n_days, day AS flagged_day, c AS flagged_count,
             |  ROUND(mean, 4) AS mean, ROUND(sd, 4) AS sd,
             |  ROUND(abs(CAST(c AS DOUBLE) - mean) / sd, 4) AS g_stat
             |FROM f""".stripMargin)),

    // Cohen's d + Hedges' g — the EFFECT SIZE stat_welch_ttest's t
    // deliberately is not ("significant" ≠ "large"): standardized
    // click-vs-purchase mean difference over the pooled SD, with the
    // small-sample J correction. Same exact BIGINT cents moments as
    // the t-test, one closed-form double expression at the end.
    Q("stat_cohens_d",
      (s, d) => {
        val m = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .withColumn("cents", cents(col("value")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("sc"),
            sum(col("cents") * col("cents")).as("qc"))
        val a = m.filter(col("event_type") === "click")
          .select(col("n").as("n_a"), col("sc").as("s_a"), col("qc").as("q_a"))
        val b = m.filter(col("event_type") === "purchase")
          .select(col("n").as("n_b"), col("sc").as("s_b"), col("qc").as("q_b"))
        def ss(n: String, sc: String, qc: String) =
          col(qc).cast("double") -
            col(sc).cast("double") * col(sc).cast("double") /
              col(n).cast("double")
        a.crossJoin(b)
          .withColumn("sp", sqrt(
            (ss("n_a", "s_a", "q_a") + ss("n_b", "s_b", "q_b")) /
              (col("n_a") + col("n_b") - 2).cast("double")))
          .withColumn("dd",
            (col("s_a").cast("double") / col("n_a") -
              col("s_b").cast("double") / col("n_b")) / col("sp"))
          .withColumn("j",
            lit(1.0) - lit(3.0) /
              (lit(4.0) * (col("n_a") + col("n_b") - 2).cast("double") -
                lit(1.0)))
          .select(col("n_a").as("n_click"), col("n_b").as("n_purchase"),
            round(col("sp") / 100.0, 4).as("pooled_sd"),
            round(col("dd"), 6).as("cohens_d"),
            round(col("dd") * col("j"), 6).as("hedges_g"))
      },
      Some(s"""WITH m AS (
             |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(cents) AS BIGINT) AS s,
             |    CAST(SUM(cents * cents) AS BIGINT) AS q
             |  FROM (
             |    SELECT event_type,
             |      ${SQL_CENTS("value")} AS cents
             |    FROM events WHERE event_type IN ('click', 'purchase')) x
             |  GROUP BY event_type),
             |ab AS (
             |  SELECT a.n AS n_a, a.s AS s_a, a.q AS q_a,
             |    b.n AS n_b, b.s AS s_b, b.q AS q_b
             |  FROM (SELECT * FROM m WHERE event_type = 'click') a,
             |    (SELECT * FROM m WHERE event_type = 'purchase') b),
             |e AS (
             |  SELECT n_a, n_b,
             |    sqrt(((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * s_a / n_a)
             |      + (CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * s_b / n_b))
             |      / CAST(n_a + n_b - 2 AS DOUBLE)) AS sp,
             |    CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b
             |      AS diff,
             |    1.0 - 3.0 / (4.0 * CAST(n_a + n_b - 2 AS DOUBLE) - 1.0)
             |      AS j
             |  FROM ab)
             |SELECT n_a AS n_click, n_b AS n_purchase,
             |  ROUND(sp / 100.0, 4) AS pooled_sd,
             |  ROUND(diff / sp, 6) AS cohens_d,
             |  ROUND(diff / sp * j, 6) AS hedges_g
             |FROM e""".stripMargin)),

    // GROUPING()/GROUPING_ID() — the subtotal-row DISAMBIGUATOR
    // agg_grouping_sets' COALESCE trick cannot provide (a NULL-valued
    // key is indistinguishable from a rollup row without it): CUBE
    // over (segment, nation) with the bitmask and per-column flags.
    // Bit order is the standard first-column-MSB in both engines.
    // One hash aggregate at any scale.
    Q("agg_grouping_id",
      (s, d) => Tables.customer(s, d)
        .cube(col("c_mktsegment"), col("c_nationkey"))
        .agg(grouping_id().cast("long").as("gid"),
          grouping(col("c_mktsegment")).cast("long").as("g_seg"),
          grouping(col("c_nationkey")).cast("long").as("g_nat"),
          count(lit(1)).as("n_cust"))
        .select(col("gid"), col("g_seg"), col("g_nat"),
          coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
          coalesce(col("c_nationkey").cast("long"), lit(-1L)).as("nat"),
          col("n_cust"))
        .orderBy("gid", "seg", "nat"),
      Some("""SELECT CAST(GROUPING(c_mktsegment, c_nationkey) AS BIGINT)
             |    AS gid,
             |  CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
             |  CAST(GROUPING(c_nationkey) AS BIGINT) AS g_nat,
             |  COALESCE(c_mktsegment, 'ALL') AS seg,
             |  COALESCE(CAST(c_nationkey AS BIGINT), -1) AS nat,
             |  CAST(COUNT(*) AS BIGINT) AS n_cust
             |FROM customer
             |GROUP BY CUBE (c_mktsegment, c_nationkey)
             |ORDER BY gid, seg, nat""".stripMargin)),

    // Interrupted time series (segmented regression) — the
    // quasi-experimental readout when there is no control arm
    // (ts_diff_in_diff's sibling): daily purchase counts split at the
    // midpoint "intervention", an exact-integer-moment OLS per
    // segment (the stat_linreg device — t and y are both integers, so
    // slope/intercept are single divisions of exact BIGINTs), and the
    // effect read as the level jump and slope change AT the cut.
    // Calendar-bounded: both regressions run over ≤ thousands of day
    // rows at any corpus scale.
    Q("ts_intervention_its",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        val byday = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t", row_number().over(w).cast("long"))
        val n = byday.agg(max("t")).head().getLong(0)
        val t0 = n / 2 + 1
        val seg = byday.withColumn("post", (col("t") >= t0).cast("long"))
          .groupBy("post")
          .agg(count(lit(1)).as("m"), sum("t").as("st"),
            sum("y").as("sy"), sum(col("t") * col("y")).as("sty"),
            sum(col("t") * col("t")).as("stt"))
          .withColumn("slope",
            (col("m") * col("sty") - col("st") * col("sy")).cast("double") /
              (col("m") * col("stt") - col("st") * col("st")).cast("double"))
          .withColumn("icept",
            (col("sy").cast("double") - col("slope") * col("st")) /
              col("m").cast("double"))
        val pre = seg.filter(col("post") === 0)
          .select(col("slope").as("pre_slope"), col("icept").as("pre_icept"))
        val post = seg.filter(col("post") === 1)
          .select(col("slope").as("post_slope"),
            col("icept").as("post_icept"))
        pre.crossJoin(post)
          .select(lit(n).as("n_days"), lit(t0).as("t_cut"),
            round(col("pre_slope"), 6).as("pre_slope"),
            round(col("post_slope"), 6).as("post_slope"),
            round(col("post_slope") - col("pre_slope"), 6)
              .as("slope_change"),
            round((col("post_icept") + col("post_slope") * t0) -
              (col("pre_icept") + col("pre_slope") * t0), 6)
              .as("level_change"))
      },
      Some("""WITH byday AS (
             |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS t,
             |    CAST(c AS BIGINT) AS y
             |  FROM (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
             |        FROM events WHERE event_type = 'purchase'
             |        GROUP BY 1) x),
             |nn AS (SELECT MAX(t) AS n, MAX(t) // 2 + 1 AS t0 FROM byday),
             |seg AS (
             |  SELECT CASE WHEN t >= (SELECT t0 FROM nn) THEN 1 ELSE 0 END
             |      AS post,
             |    CAST(COUNT(*) AS BIGINT) AS m,
             |    CAST(SUM(t) AS BIGINT) AS st,
             |    CAST(SUM(y) AS BIGINT) AS sy,
             |    CAST(SUM(t * y) AS BIGINT) AS sty,
             |    CAST(SUM(t * t) AS BIGINT) AS stt
             |  FROM byday GROUP BY 1),
             |f AS (
             |  SELECT post,
             |    CAST(m * sty - st * sy AS DOUBLE)
             |      / CAST(m * stt - st * st AS DOUBLE) AS slope,
             |    (CAST(sy AS DOUBLE) - CAST(m * sty - st * sy AS DOUBLE)
             |      / CAST(m * stt - st * st AS DOUBLE) * st) / m AS icept
             |  FROM seg)
             |SELECT (SELECT n FROM nn) AS n_days,
             |  (SELECT t0 FROM nn) AS t_cut,
             |  ROUND(pre.slope, 6) AS pre_slope,
             |  ROUND(post.slope, 6) AS post_slope,
             |  ROUND(post.slope - pre.slope, 6) AS slope_change,
             |  ROUND((post.icept + post.slope * (SELECT t0 FROM nn))
             |    - (pre.icept + pre.slope * (SELECT t0 FROM nn)), 6)
             |    AS level_change
             |FROM (SELECT * FROM f WHERE post = 0) pre,
             |     (SELECT * FROM f WHERE post = 1) post""".stripMargin)),

    // Empirical-Bayes rate shrinkage — the smoothed-CTR estimator
    // every ranking/reporting pipeline needs for small-sample arms:
    // 64 user cohorts' heavy-purchaser conversion rates, a
    // method-of-moments Beta(α,β) fit on the rate distribution, and
    // each cohort's rate shrunk to (k+α)/(n+α+β) — small cohorts move
    // toward the prior mean, large ones barely. The Beta-fit moments
    // are 64-term double sums folded IN COHORT ORDER on both engines
    // (the stat_cmh_test index-order-fold device); per-cohort k, n
    // stay exact BIGINTs; every emitted double is one mirrored
    // closed form behind ROUND(…,6). One user-level pass + a
    // 64-row model computation at any scale.
    Q("stat_eb_shrinkage",
      (s, d) => {
        val cohorts = Tables.events(s, d)
          .groupBy("user_id")
          .agg(when(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)) >= 14, 1L).otherwise(0L).as("conv"))
          .groupBy((col("user_id") % 64).as("cohort"))
          .agg(count(lit(1)).as("n"), sum("conv").as("k"))
          .withColumn("p", col("k").cast("double") / col("n").cast("double"))
        val fit = cohorts.agg(count(lit(1)).as("g"),
            expr("""aggregate(transform(sort_array(collect_list(
                 |    struct(cohort, p))), x -> x.p),
                 |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
              .as("sp"),
            expr("""aggregate(transform(sort_array(collect_list(
                 |    struct(cohort, p))), x -> x.p * x.p),
                 |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
              .as("sp2"))
          .withColumn("m", col("sp") / col("g"))
          .withColumn("v",
            (col("sp2") - col("sp") * col("sp") / col("g")) /
              (col("g") - 1).cast("double"))
          .withColumn("c", col("m") * (lit(1.0) - col("m")) / col("v") -
            lit(1.0))
          // v ≥ m(1−m) (overdispersed — rates piled at the extremes)
          // makes the moment fit improper (α,β ≤ 0); the pinned
          // fallback is the uniform Beta(1,1) prior, mirrored as the
          // same CASE in both engines
          .select(
            when(col("c") > 0, col("m") * col("c")).otherwise(lit(1.0))
              .as("alpha"),
            when(col("c") > 0, (lit(1.0) - col("m")) * col("c"))
              .otherwise(lit(1.0)).as("beta"))
        cohorts.crossJoin(broadcast(fit))
          .select(col("cohort"), col("n"), col("k"),
            round(col("p"), 6).as("raw_rate"),
            round(col("alpha"), 6).as("alpha"),
            round(col("beta"), 6).as("beta"),
            round((col("k").cast("double") + col("alpha")) /
              (col("n").cast("double") + col("alpha") + col("beta")), 6)
              .as("shrunk_rate"))
          .orderBy("cohort")
      },
      Some("""WITH u AS (
             |  SELECT user_id,
             |    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
             |      THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS conv
             |  FROM events GROUP BY user_id),
             |c AS (
             |  SELECT user_id % 64 AS cohort,
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(conv) AS BIGINT) AS k,
             |    CAST(SUM(conv) AS DOUBLE) / COUNT(*) AS p
             |  FROM u GROUP BY 1),
             |f AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS g,
             |    list_sum(list(p ORDER BY cohort)) AS sp,
             |    list_sum(list(p * p ORDER BY cohort)) AS sp2
             |  FROM c),
             |e AS (
             |  SELECT g, sp / g AS m,
             |    (sp2 - sp * sp / g) / CAST(g - 1 AS DOUBLE) AS v
             |  FROM f),
             |ab AS (
             |  SELECT
             |    CASE WHEN m * (1.0 - m) / v - 1.0 > 0
             |      THEN m * (m * (1.0 - m) / v - 1.0) ELSE 1.0 END AS alpha,
             |    CASE WHEN m * (1.0 - m) / v - 1.0 > 0
             |      THEN (1.0 - m) * (m * (1.0 - m) / v - 1.0)
             |      ELSE 1.0 END AS beta
             |  FROM e)
             |SELECT cohort, n, k, ROUND(p, 6) AS raw_rate,
             |  ROUND(alpha, 6) AS alpha, ROUND(beta, 6) AS beta,
             |  ROUND((CAST(k AS DOUBLE) + alpha)
             |    / (CAST(n AS DOUBLE) + alpha + beta), 6) AS shrunk_rate
             |FROM c, ab ORDER BY cohort""".stripMargin)),

    // Goodman-Kruskal gamma + Somers' D (both directions) between
    // quantity and discount per return flag — the full ordinal-
    // association family sharing stat_kendall's contingency-cell
    // machinery: concordant/discordant mass is Σ n_a·n_b over ordered
    // cell pairs, so the pair stage is |cells|² (≈550 cells ⇒ ~150k
    // pairs) REGARDLESS of row count. gamma = (C−D)/(C+D) (ties
    // dropped); Somers' D_dc|q = 2(C−D)/(N0−N1) conditions on pairs
    // untied in the predictor q, D_q|dc on pairs untied in dc — all
    // exact DECIMAL until the three final ratios drop to double
    // behind ROUND(…,4). At 100 TB: one hash aggregate to the cell
    // table, one cell self-join, nothing row-quadratic.
    Q("stat_ordinal_assoc",
      (s, d) => {
        def dec(c: Column) = c.cast("decimal(18,0)")
        val cells = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag").as("f"), col("l_quantity").as("q"),
            col("l_discount").as("dc"))
          .agg(count(lit(1)).as("n"))
        val cd = cells.as("a").join(cells.as("b"),
            col("a.f") === col("b.f") && col("a.q") < col("b.q"))
          .groupBy(col("a.f").as("f"))
          .agg(
            sum(when(col("a.dc") < col("b.dc"),
              dec(col("a.n")) * dec(col("b.n"))).otherwise(lit(0))).as("cc"),
            sum(when(col("a.dc") > col("b.dc"),
              dec(col("a.n")) * dec(col("b.n"))).otherwise(lit(0))).as("dd"))
        val nq = cells.groupBy("f", "q").agg(sum("n").as("nq"))
          .groupBy("f").agg(sum(dec(col("nq")) * dec(col("nq") - 1)).as("n1"))
        val nd = cells.groupBy("f", "dc").agg(sum("n").as("nd"))
          .groupBy("f").agg(sum(dec(col("nd")) * dec(col("nd") - 1)).as("n2"))
        val tot = cells.groupBy("f")
          .agg(sum("n").as("n"))
          .select(col("f"), col("n"),
            (dec(col("n")) * dec(col("n") - 1)).as("n0"))
        cd.join(nq, "f").join(nd, "f").join(tot, "f")
          .select(col("f").as("l_returnflag"), col("n"),
            round((col("cc") - col("dd")).cast("double") /
              (col("cc") + col("dd")).cast("double"), 4).as("gk_gamma"),
            round(lit(2.0) * (col("cc") - col("dd")).cast("double") /
              (col("n0") - col("n1")).cast("double"), 4)
              .as("somers_d_dc_given_q"),
            round(lit(2.0) * (col("cc") - col("dd")).cast("double") /
              (col("n0") - col("n2")).cast("double"), 4)
              .as("somers_d_q_given_dc"))
          .orderBy("l_returnflag")
      },
      Some("""WITH cells AS (
             |  SELECT l_returnflag AS f, l_quantity AS q, l_discount AS dc,
             |    COUNT(*) AS n
             |  FROM lineitem GROUP BY 1, 2, 3),
             |cd AS (
             |  SELECT a.f,
             |    SUM(CASE WHEN a.dc < b.dc THEN CAST(a.n AS DECIMAL(18,0))
             |      * CAST(b.n AS DECIMAL(18,0)) ELSE 0 END) AS cc,
             |    SUM(CASE WHEN a.dc > b.dc THEN CAST(a.n AS DECIMAL(18,0))
             |      * CAST(b.n AS DECIMAL(18,0)) ELSE 0 END) AS dd
             |  FROM cells a JOIN cells b ON a.f = b.f AND a.q < b.q
             |  GROUP BY a.f),
             |n1t AS (
             |  SELECT f, SUM(CAST(nq AS DECIMAL(18,0))
             |    * CAST(nq - 1 AS DECIMAL(18,0))) AS n1
             |  FROM (SELECT f, q, SUM(n) AS nq FROM cells GROUP BY f, q)
             |  GROUP BY f),
             |n2t AS (
             |  SELECT f, SUM(CAST(nd AS DECIMAL(18,0))
             |    * CAST(nd - 1 AS DECIMAL(18,0))) AS n2
             |  FROM (SELECT f, dc, SUM(n) AS nd FROM cells GROUP BY f, dc)
             |  GROUP BY f),
             |tt AS (
             |  SELECT f, CAST(SUM(n) AS BIGINT) AS n,
             |    CAST(SUM(n) AS DECIMAL(18,0))
             |      * CAST(SUM(n) - 1 AS DECIMAL(18,0)) AS n0
             |  FROM cells GROUP BY f)
             |SELECT tt.f AS l_returnflag, tt.n,
             |  ROUND(CAST(cd.cc - cd.dd AS DOUBLE)
             |    / CAST(cd.cc + cd.dd AS DOUBLE), 4) AS gk_gamma,
             |  ROUND(2.0 * CAST(cd.cc - cd.dd AS DOUBLE)
             |    / CAST(tt.n0 - n1t.n1 AS DOUBLE), 4) AS somers_d_dc_given_q,
             |  ROUND(2.0 * CAST(cd.cc - cd.dd AS DOUBLE)
             |    / CAST(tt.n0 - n2t.n2 AS DOUBLE), 4) AS somers_d_q_given_dc
             |FROM tt JOIN cd USING (f) JOIN n1t USING (f) JOIN n2t USING (f)
             |ORDER BY l_returnflag""".stripMargin)),

    // Jonckheere–Terpstra ordered-alternative trend test: does
    // l_quantity stochastically increase across return-flag groups in
    // their lexicographic order (A < N < R)? J = Σ_{i<j} U_ij with the
    // ½-tie convention, carried DOUBLED (2J = Σ 2·n_a·n_b[v_a<v_b] +
    // n_a·n_b[v_a=v_b]) so it stays an exact DECIMAL. The pairwise
    // stage runs on per-(group, value) frequency tables — groups are
    // 3, distinct quantities ≤ ~50, so the "quadratic" term is ≤
    // (3·50)² cells, row-count-independent. z uses the tie-uncorrected
    // null moments E[J] = (n²−Σn_i²)/4, Var[J] = (n²(2n+3) −
    // Σn_i²(2n_i+3))/72 (documented approximation; discount ties
    // inflate Var slightly, z is conservative). One row out.
    Q("stat_jonckheere",
      (s, d) => {
        def dec(c: Column) = c.cast("decimal(18,0)")
        val freq = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag").as("f"), col("l_quantity").as("q"))
          .agg(count(lit(1)).as("n"))
        val j2 = freq.as("a").join(freq.as("b"),
            col("a.f") < col("b.f"))
          .agg(sum(
            when(col("a.q") < col("b.q"),
              lit(2) * dec(col("a.n")) * dec(col("b.n")))
            .when(col("a.q") === col("b.q"),
              dec(col("a.n")) * dec(col("b.n")))
            .otherwise(lit(0))).as("j2"))
        val gs = freq.groupBy("f").agg(sum("n").as("ni"))
          .agg(sum("ni").as("n"),
            sum(dec(col("ni")) * dec(col("ni"))).as("sni2"),
            sum(dec(col("ni")) * dec(col("ni")) *
              (lit(2) * dec(col("ni")) + lit(3))).as("sni23"))
        j2.crossJoin(gs)
          .select(col("n"),
            (col("j2") / 2).cast("double").as("j_stat"),
            round(((col("j2").cast("double") -
              (dec(col("n")) * dec(col("n")) - col("sni2"))
                .cast("double") / 2.0) / 2.0) /
              sqrt(((dec(col("n")) * dec(col("n")) *
                (lit(2) * dec(col("n")) + lit(3))).cast("double") -
                col("sni23").cast("double")) / 72.0), 4).as("z"))
      },
      Some("""WITH freq AS (
             |  SELECT l_returnflag AS f, l_quantity AS q, COUNT(*) AS n
             |  FROM lineitem GROUP BY 1, 2),
             |jj AS (
             |  SELECT SUM(CASE
             |    WHEN a.q < b.q THEN 2 * CAST(a.n AS DECIMAL(18,0))
             |      * CAST(b.n AS DECIMAL(18,0))
             |    WHEN a.q = b.q THEN CAST(a.n AS DECIMAL(18,0))
             |      * CAST(b.n AS DECIMAL(18,0))
             |    ELSE 0 END) AS j2
             |  FROM freq a JOIN freq b ON a.f < b.f),
             |gs AS (
             |  SELECT CAST(SUM(ni) AS BIGINT) AS n,
             |    SUM(CAST(ni AS DECIMAL(18,0)) * CAST(ni AS DECIMAL(18,0)))
             |      AS sni2,
             |    SUM(CAST(ni AS DECIMAL(18,0)) * CAST(ni AS DECIMAL(18,0))
             |      * (2 * CAST(ni AS DECIMAL(18,0)) + 3)) AS sni23
             |  FROM (SELECT f, SUM(n) AS ni FROM freq GROUP BY f))
             |SELECT gs.n,
             |  CAST(jj.j2 / 2 AS DOUBLE) AS j_stat,
             |  ROUND(((CAST(jj.j2 AS DOUBLE)
             |      - CAST(CAST(gs.n AS DECIMAL(18,0))
             |        * CAST(gs.n AS DECIMAL(18,0)) - gs.sni2 AS DOUBLE)
             |        / 2.0) / 2.0)
             |    / sqrt((CAST(CAST(gs.n AS DECIMAL(18,0))
             |        * CAST(gs.n AS DECIMAL(18,0))
             |        * (2 * CAST(gs.n AS DECIMAL(18,0)) + 3) AS DOUBLE)
             |      - CAST(gs.sni23 AS DOUBLE)) / 72.0), 4) AS z
             |FROM jj, gs""".stripMargin)),

    // Friedman rank test over (week-block × day-of-week-treatment)
    // daily revenue: are some weekdays systematically stronger, with
    // weeks as repeated-measure blocks? Blocks/treatments derive from
    // pure epoch-day arithmetic (wk = floor(epoch/7), dow = epoch%7 —
    // identical in both engines, no locale/WEEKSTART dependence); only
    // COMPLETE weeks (all 7 dows present) enter. Daily revenue is the
    // exact DECIMAL o_totalprice sum, so within-block ranks order
    // exact values; the tie-break (revenue, dow) is pinned in BOTH
    // engines (decimal daily sums make real ties vanishingly rare but
    // the order must be total regardless). The rank windows partition
    // by WEEK — thousands of 7-row partitions, the many-small-groups
    // shape where a plain window is already parallel (the inverse of
    // the stat_spearman case). χ²_F = 12/(b·k(k+1))·ΣR_j² − 3b(k+1),
    // k = 7; rank sums are exact integers, one double division at the
    // end. df = k−1 = 6.
    Q("stat_friedman",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .withColumn("__epoch",
            datediff(col("o_orderdate").cast("date"),
              lit("1970-01-01").cast("date")).cast("long"))
          .groupBy((col("__epoch") / 7).cast("long").as("wk"),
            pmod(col("__epoch"), lit(7)).as("dow"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
        val complete = daily.groupBy("wk")
          .agg(count(lit(1)).as("k")).filter(col("k") === 7).select("wk")
        val ranked = daily.join(complete, "wk")
          .withColumn("r", row_number().over(
            Window.partitionBy("wk").orderBy(col("rev"), col("dow"))))
        val rsum = ranked.groupBy("dow")
          .agg(sum(col("r").cast("long")).as("rj"),
            count(lit(1)).as("b"))
        rsum.agg(max("b").cast("long").as("b"),
            sum(col("rj") * col("rj")).as("sr2"))
          .select(col("b"),
            round(lit(12.0) * col("sr2").cast("double") /
              (col("b").cast("double") * 7.0 * 8.0) -
              lit(3.0) * col("b").cast("double") * 8.0, 4).as("chi2_f"),
            lit(6L).as("df"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(FLOOR(CAST(date_diff('day', DATE '1970-01-01',
             |      CAST(o_orderdate AS DATE)) AS DOUBLE) / 7) AS BIGINT)
             |      AS wk,
             |    date_diff('day', DATE '1970-01-01',
             |      CAST(o_orderdate AS DATE)) % 7 AS dow,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             |  FROM orders GROUP BY 1, 2),
             |complete AS (
             |  SELECT wk FROM daily GROUP BY wk HAVING COUNT(*) = 7),
             |ranked AS (
             |  SELECT d.wk, d.dow,
             |    ROW_NUMBER() OVER (PARTITION BY d.wk
             |      ORDER BY d.rev, d.dow) AS r
             |  FROM daily d JOIN complete USING (wk)),
             |rsum AS (
             |  SELECT dow, CAST(SUM(r) AS BIGINT) AS rj,
             |    COUNT(*) AS b
             |  FROM ranked GROUP BY dow)
             |SELECT CAST(MAX(b) AS BIGINT) AS b,
             |  ROUND(12.0 * CAST(SUM(rj * rj) AS DOUBLE)
             |      / (CAST(MAX(b) AS DOUBLE) * 7.0 * 8.0)
             |    - 3.0 * CAST(MAX(b) AS DOUBLE) * 8.0, 4) AS chi2_f,
             |  CAST(6 AS BIGINT) AS df
             |FROM rsum""".stripMargin)),

    // Cronbach's alpha over the four lineitem "scale items" (quantity,
    // extendedprice, discount, tax) per return flag — the internal-
    // consistency reliability coefficient α = k/(k−1)·(1 − Σσ²_i/σ²_t)
    // with σ²_t the variance of the per-row item SUM. All first and
    // second moments accumulate as exact DECIMALs (base columns are
    // clean 2-dp doubles, the Ops.scala money rule, so the decimal
    // casts agree across engines); sample (n−1) variances materialize
    // only inside the final double expression behind ROUND(…,6). One
    // hash aggregate over the fact table — fully map-side-combinable,
    // nothing beyond a groups-sized reduce at any scale.
    Q("stat_cronbach",
      (s, d) => {
        def d2(c: Column) = c.cast("decimal(12,2)")
        val items = Seq("l_quantity", "l_extendedprice", "l_discount",
          "l_tax")
        val tot = items.map(i => d2(col(i))).reduce(_ + _)
        val base = Tables.lineitem(s, d)
        val aggs =
          items.flatMap(i => Seq(
            sum(d2(col(i))).as(s"s_$i"),
            sum(d2(col(i)) * d2(col(i))).as(s"s2_$i"))) ++ Seq(
            sum(tot.cast("decimal(14,2)")).as("st"),
            sum(tot.cast("decimal(14,2)") * tot.cast("decimal(14,2)"))
              .as("st2"),
            count(lit(1)).as("n"))
        def svar(sc: Column, s2c: Column): Column = {
          val nD = col("n").cast("double")
          (s2c.cast("double") - sc.cast("double") * sc.cast("double") / nD) /
            (nD - 1.0)
        }
        base.groupBy("l_returnflag")
          .agg(aggs.head, aggs.tail: _*)
          .select(col("l_returnflag"), col("n"),
            round(lit(4.0 / 3.0) * (lit(1.0) -
              items.map(i => svar(col(s"s_$i"), col(s"s2_$i")))
                .reduce(_ + _) / svar(col("st"), col("st2"))), 6)
              .as("cronbach_alpha"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
             |    SUM(CAST(l_quantity AS DECIMAL(12,2))
             |      * CAST(l_quantity AS DECIMAL(12,2))) AS sq2,
             |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sp,
             |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             |      * CAST(l_extendedprice AS DECIMAL(12,2))) AS sp2,
             |    SUM(CAST(l_discount AS DECIMAL(12,2))) AS sd,
             |    SUM(CAST(l_discount AS DECIMAL(12,2))
             |      * CAST(l_discount AS DECIMAL(12,2))) AS sd2,
             |    SUM(CAST(l_tax AS DECIMAL(12,2))) AS sx,
             |    SUM(CAST(l_tax AS DECIMAL(12,2))
             |      * CAST(l_tax AS DECIMAL(12,2))) AS sx2,
             |    SUM(CAST(CAST(l_quantity AS DECIMAL(12,2))
             |      + CAST(l_extendedprice AS DECIMAL(12,2))
             |      + CAST(l_discount AS DECIMAL(12,2))
             |      + CAST(l_tax AS DECIMAL(12,2)) AS DECIMAL(14,2))) AS st,
             |    SUM(CAST(CAST(l_quantity AS DECIMAL(12,2))
             |      + CAST(l_extendedprice AS DECIMAL(12,2))
             |      + CAST(l_discount AS DECIMAL(12,2))
             |      + CAST(l_tax AS DECIMAL(12,2)) AS DECIMAL(14,2))
             |      * CAST(CAST(l_quantity AS DECIMAL(12,2))
             |      + CAST(l_extendedprice AS DECIMAL(12,2))
             |      + CAST(l_discount AS DECIMAL(12,2))
             |      + CAST(l_tax AS DECIMAL(12,2)) AS DECIMAL(14,2))) AS st2
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, n,
             |  ROUND((4.0 / 3.0) * (1.0 - (
             |      ((CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE)
             |        * CAST(sq AS DOUBLE) / n) / (n - 1.0))
             |    + ((CAST(sp2 AS DOUBLE) - CAST(sp AS DOUBLE)
             |        * CAST(sp AS DOUBLE) / n) / (n - 1.0))
             |    + ((CAST(sd2 AS DOUBLE) - CAST(sd AS DOUBLE)
             |        * CAST(sd AS DOUBLE) / n) / (n - 1.0))
             |    + ((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE)
             |        * CAST(sx AS DOUBLE) / n) / (n - 1.0)))
             |    / ((CAST(st2 AS DOUBLE) - CAST(st AS DOUBLE)
             |        * CAST(st AS DOUBLE) / n) / (n - 1.0))), 6)
             |    AS cronbach_alpha
             |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Mood's median test — are the return-flag populations centered
    // at the same quantity? The distribution-free two-way twin of
    // stat_kruskal_wallis that only needs counts above/below the
    // GRAND median. l_quantity lives on a 50-value integer domain, so
    // the grand (lower) median comes from the value-rank device's
    // cumulative count over the ≤50-row value table (NOT a data
    // sort — the stat_gini doctrine), and the 2×k table is one more
    // pass of exact BIGINT counts; rows AT the median drop (classic
    // Mood). Per-flag χ² terms are per-row closed forms over exact
    // counts; the global χ² folds the ≤3 terms IN FLAG ORDER (the
    // stat_eb_shrinkage index-order-fold device). Scale: two linear
    // fact passes + a 50-row model table at any SF.
    Q("stat_moods_median",
      (s, d) => {
        val cells = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag").as("f"),
            col("l_quantity").cast("long").as("q"))
          .agg(count(lit(1)).as("n"))
        val med = valueRanks(cells.groupBy("q").agg(sum("n").as("nq")), "q", Seq("nq"))
          .filter(col("cum_nq") * 2 >= col("n_nq"))
          .agg(min("q").as("med"))
        val tab = cells.crossJoin(broadcast(med))
          .groupBy("f")
          .agg(max(col("med")).as("med"),
            sum(when(col("q") > col("med"), col("n")).otherwise(0L))
              .as("n_above"),
            sum(when(col("q") < col("med"), col("n")).otherwise(0L))
              .as("n_below"))
        val tot = tab.agg(sum("n_above").as("ta"), sum("n_below").as("tb"))
        val terms = tab.crossJoin(broadcast(tot))
          .withColumn("t", (col("ta") + col("tb")).cast("double"))
          .withColumn("ea",
            (col("n_above") + col("n_below")).cast("double") *
              col("ta").cast("double") / col("t"))
          .withColumn("eb",
            (col("n_above") + col("n_below")).cast("double") *
              col("tb").cast("double") / col("t"))
          .withColumn("term",
            (col("n_above").cast("double") - col("ea")) *
              (col("n_above").cast("double") - col("ea")) / col("ea") +
              (col("n_below").cast("double") - col("eb")) *
                (col("n_below").cast("double") - col("eb")) / col("eb"))
        val chi2 = terms.agg(
          expr("""aggregate(transform(sort_array(collect_list(
               |    struct(f, term))), x -> x.term),
               |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
            .as("chi2"),
          (count(lit(1)) - 1).as("df"))
        terms.crossJoin(broadcast(chi2))
          .select(col("f").as("l_returnflag"), col("med").as("grand_median"),
            col("n_above"), col("n_below"),
            round(col("ea"), 4).as("exp_above"),
            round(col("term"), 6).as("chi2_term"),
            round(col("chi2"), 6).as("chi2"), col("df"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH cells AS (
             |  SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM lineitem GROUP BY 1, 2),
             |dist AS (
             |  SELECT q, CAST(SUM(n) AS BIGINT) AS nq FROM cells GROUP BY 1),
             |med AS (
             |  SELECT MIN(q) AS med FROM (${SQL_VALUE_RANKS("dist", "q", Seq("nq"))}) r
             |  WHERE cum_nq * 2 >= n_nq),
             |tab AS (
             |  SELECT f, MAX(med) AS med,
             |    CAST(SUM(CASE WHEN q > med THEN n ELSE 0 END) AS BIGINT)
             |      AS n_above,
             |    CAST(SUM(CASE WHEN q < med THEN n ELSE 0 END) AS BIGINT)
             |      AS n_below
             |  FROM cells, med GROUP BY f),
             |tot AS (
             |  SELECT CAST(SUM(n_above) AS BIGINT) AS ta,
             |    CAST(SUM(n_below) AS BIGINT) AS tb FROM tab),
             |terms AS (
             |  SELECT f, med, n_above, n_below,
             |    CAST(n_above + n_below AS DOUBLE) * CAST(ta AS DOUBLE)
             |      / CAST(ta + tb AS DOUBLE) AS ea,
             |    (CAST(n_above AS DOUBLE) - CAST(n_above + n_below AS DOUBLE)
             |        * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))
             |      * (CAST(n_above AS DOUBLE)
             |        - CAST(n_above + n_below AS DOUBLE)
             |        * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))
             |      / (CAST(n_above + n_below AS DOUBLE) * CAST(ta AS DOUBLE)
             |        / CAST(ta + tb AS DOUBLE))
             |    + (CAST(n_below AS DOUBLE)
             |        - CAST(n_above + n_below AS DOUBLE)
             |        * CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))
             |      * (CAST(n_below AS DOUBLE)
             |        - CAST(n_above + n_below AS DOUBLE)
             |        * CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))
             |      / (CAST(n_above + n_below AS DOUBLE) * CAST(tb AS DOUBLE)
             |        / CAST(ta + tb AS DOUBLE)) AS term
             |  FROM tab, tot),
             |c2 AS (
             |  SELECT list_sum(list(term ORDER BY f)) AS chi2,
             |    CAST(COUNT(*) - 1 AS BIGINT) AS df FROM terms)
             |SELECT f AS l_returnflag, med AS grand_median, n_above, n_below,
             |  ROUND(ea, 4) AS exp_above, ROUND(term, 6) AS chi2_term,
             |  ROUND(chi2, 6) AS chi2, df
             |FROM terms, c2 ORDER BY l_returnflag""".stripMargin)),

    // Intraclass correlation ICC(1) — how much of order-value variance
    // is BETWEEN priority classes? The one-way random-effects
    // reliability coefficient (rater-agreement / cluster-design
    // workhorse): MSB and MSW from the standard ANOVA identities over
    // per-group exact moments (n as BIGINT, Σcents and Σcents² as
    // DECIMAL(38,0)), the unbalanced-design group size n0 =
    // (N − Σnᵢ²/N)/(g−1), and ICC = (MSB−MSW)/(MSB+(n0−1)·MSW). The
    // only non-exact reduction — Σ sᵢ²/nᵢ across the 5 groups — folds
    // IN PRIORITY ORDER on both engines (index-order-fold device);
    // everything else is exact until the final mirrored double forms.
    // Scale: one map-side-combined fact pass + a 5-row model table.
    Q("stat_icc",
      (s, d) => {
        val g = Tables.orders(s, d)
          .withColumn("c", (col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("decimal(18,0)"))
          .groupBy(col("o_orderpriority").as("p"))
          .agg(count(lit(1)).as("n"),
            sum(col("c").cast("decimal(38,0)")).as("sc"),
            sum((col("c") * col("c")).cast("decimal(38,0)")).as("qc"))
        g.agg(count(lit(1)).as("g"), sum("n").as("nn"),
            sum(col("sc")).as("ss"), sum(col("qc")).as("qq"),
            sum(col("n") * col("n")).as("n2"),
            expr("""aggregate(transform(sort_array(collect_list(struct(p,
                 |    CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                 |      / CAST(n AS DOUBLE) AS t))), x -> x.t),
                 |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
              .as("sg"))
          .withColumn("ssb", col("sg") -
            col("ss").cast("double") * col("ss").cast("double") /
              col("nn").cast("double"))
          .withColumn("ssw", col("qq").cast("double") - col("sg"))
          .withColumn("msb", col("ssb") / (col("g") - 1).cast("double"))
          .withColumn("msw",
            col("ssw") / (col("nn") - col("g")).cast("double"))
          .withColumn("n0",
            (col("nn").cast("double") - col("n2").cast("double") /
              col("nn").cast("double")) / (col("g") - 1).cast("double"))
          .select(col("g").as("n_groups"), col("nn").as("n_total"),
            round(col("n0"), 4).as("n0"),
            round(col("msb") / 1e4, 4).as("msb_dollars2"),
            round(col("msw") / 1e4, 4).as("msw_dollars2"),
            round((col("msb") - col("msw")) /
              (col("msb") + (col("n0") - 1) * col("msw")), 6).as("icc1"))
      },
      Some("""WITH g AS (
             |  SELECT o_orderpriority AS p, CAST(COUNT(*) AS BIGINT) AS n,
             |    SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
             |      AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS sc,
             |    SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
             |      AS DECIMAL(18,0))
             |      * CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
             |      AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS qc
             |  FROM orders GROUP BY 1),
             |m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS g,
             |    CAST(SUM(n) AS BIGINT) AS nn, SUM(sc) AS ss, SUM(qc) AS qq,
             |    CAST(SUM(n * n) AS BIGINT) AS n2,
             |    list_sum(list(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
             |      / CAST(n AS DOUBLE) ORDER BY p)) AS sg
             |  FROM g),
             |e AS (
             |  SELECT g, nn,
             |    sg - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
             |      / CAST(nn AS DOUBLE) AS ssb,
             |    CAST(qq AS DOUBLE) - sg AS ssw,
             |    (CAST(nn AS DOUBLE) - CAST(n2 AS DOUBLE)
             |      / CAST(nn AS DOUBLE)) / CAST(g - 1 AS DOUBLE) AS n0
             |  FROM m)
             |SELECT g AS n_groups, nn AS n_total, ROUND(n0, 4) AS n0,
             |  ROUND(ssb / CAST(g - 1 AS DOUBLE) / 1e4, 4) AS msb_dollars2,
             |  ROUND(ssw / CAST(nn - g AS DOUBLE) / 1e4, 4) AS msw_dollars2,
             |  ROUND((ssb / CAST(g - 1 AS DOUBLE)
             |      - ssw / CAST(nn - g AS DOUBLE))
             |    / (ssb / CAST(g - 1 AS DOUBLE)
             |      + (n0 - 1) * (ssw / CAST(nn - g AS DOUBLE))), 6) AS icc1
             |FROM e""".stripMargin)),

    // Deming regression (λ = 1) of the computed charge on the listed
    // price per return flag — the errors-in-both-variables line a
    // measurement-comparison study fits when neither instrument is
    // noise-free (OLS attenuates the slope; Deming doesn't). The two
    // "instruments" here are the raw extended price (cents, exact)
    // and the charge price·(1−disc)·(1+tax) — kept EXACT as
    // price_cents·(100−disc_cents)·(100+tax_cents) = micro-dollars,
    // pure integer arithmetic in DECIMAL(38,0) moments. Closed form
    // on the centered moments in the scaled integer domains: slope =
    // (Syy − Sxx + √((Syy−Sxx)² + 4·Sxy²)) / (2·Sxy), de-scaled by
    // 10⁴ (micros per cent) for the dollars-per-dollar slope;
    // intercept = (ȳ − slope·x̄)/10⁶. One map-side-combined pass,
    // 3-row output, one mirrored double expression per flag.
    Q("stat_deming",
      (s, d) => {
        val m = Tables.lineitem(s, d)
          .select(col("l_returnflag").as("f"),
            (col("l_extendedprice").cast("decimal(12,2)") * 100)
              .cast("decimal(12,0)").as("x"),
            ((col("l_extendedprice").cast("decimal(12,2)") * 100)
              .cast("decimal(12,0)") *
              (lit(100) - (col("l_discount").cast("decimal(12,2)") * 100)
                .cast("decimal(4,0)")) *
              (lit(100) + (col("l_tax").cast("decimal(12,2)") * 100)
                .cast("decimal(4,0)"))).cast("decimal(12,0)").as("y"))
          .groupBy("f")
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast("decimal(38,0)")).as("sx"),
            sum(col("y").cast("decimal(38,0)")).as("sy"),
            sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
            sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
            sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
        def dd(c: String) = col(c).cast("double")
        val cxx = dd("sxx") - dd("sx") * dd("sx") / dd("n")
        val cyy = dd("syy") - dd("sy") * dd("sy") / dd("n")
        val cxy = dd("sxy") - dd("sx") * dd("sy") / dd("n")
        val slope = (cyy - cxx +
          sqrt((cyy - cxx) * (cyy - cxx) + lit(4.0) * cxy * cxy)) /
          (lit(2.0) * cxy)
        m.select(col("f").as("l_returnflag"), col("n"),
            round(slope / 1e4, 6).as("slope_charge_per_dollar"),
            round((dd("sy") / dd("n") - slope * dd("sx") / dd("n")) / 1e6,
              6).as("intercept_dollars"),
            round(cxy / sqrt(cxx * cyy), 6).as("pearson_r"))
          .orderBy("l_returnflag")
      },
      Some("""WITH b AS (
             |  SELECT l_returnflag AS f,
             |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
             |      AS DECIMAL(12,0)) AS x,
             |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
             |        AS DECIMAL(12,0))
             |      * (100 - CAST(CAST(l_discount AS DECIMAL(12,2)) * 100
             |        AS DECIMAL(4,0)))
             |      * (100 + CAST(CAST(l_tax AS DECIMAL(12,2)) * 100
             |        AS DECIMAL(4,0))) AS DECIMAL(12,0)) AS y
             |  FROM lineitem),
             |m AS (
             |  SELECT f, CAST(COUNT(*) AS BIGINT) AS n,
             |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             |    SUM(CAST(CAST(x AS DECIMAL(19,0)) * x AS DECIMAL(38,0)))
             |      AS sxx,
             |    SUM(CAST(CAST(y AS DECIMAL(19,0)) * y AS DECIMAL(38,0)))
             |      AS syy,
             |    SUM(CAST(CAST(x AS DECIMAL(19,0)) * y AS DECIMAL(38,0)))
             |      AS sxy
             |  FROM b GROUP BY 1),
             |c AS (
             |  SELECT f, n,
             |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
             |      * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS cxx,
             |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
             |      * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy,
             |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
             |      * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cxy,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
             |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
             |  FROM m)
             |SELECT f AS l_returnflag, n,
             |  ROUND(((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
             |    + 4.0 * cxy * cxy)) / (2.0 * cxy)) / 1e4, 6)
             |    AS slope_charge_per_dollar,
             |  ROUND((my - ((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
             |    + 4.0 * cxy * cxy)) / (2.0 * cxy)) * mx) / 1e6, 6)
             |    AS intercept_dollars,
             |  ROUND(cxy / sqrt(cxx * cyy), 6) AS pearson_r
             |FROM c ORDER BY l_returnflag""".stripMargin)),

    // TOST equivalence test — are mean discounts for returned (R) vs
    // accepted (A) lines equivalent WITHIN ±0.001? The two one-sided
    // Welch tests every bioequivalence / A-A-validation pipeline runs:
    // t_lower = (Δ + δ)/se must exceed +1.6449 AND t_upper = (Δ − δ)/se
    // must fall below −1.6449 (both one-sided 5% bounds) to declare
    // equivalence — absence-of-evidence done right. Discounts live
    // exactly on a 2-dp grid, so ×100 makes every moment an exact
    // BIGINT; Δ, se, and the Satterthwaite df are the stat_welch_ttest
    // mirrored double forms; δ is 0.1 in the same cents scale. Scale:
    // one map-side-combined pass, 1-row output.
    Q("stat_tost_equivalence",
      (s, d) => {
        val m = Tables.lineitem(s, d)
          .filter(col("l_returnflag").isin("A", "R"))
          .withColumn("c", (col("l_discount").cast("decimal(12,2)") * 100)
            .cast("long"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum("c").as("sc"),
            sum(col("c") * col("c")).as("qc"))
        val a = m.filter(col("l_returnflag") === "A")
          .select(col("n").as("n_a"), col("sc").as("s_a"),
            col("qc").as("q_a"))
        val b = m.filter(col("l_returnflag") === "R")
          .select(col("n").as("n_b"), col("sc").as("s_b"),
            col("qc").as("q_b"))
        def se2(n: String, sc: String, qc: String) =
          (col(n).cast("double") * col(qc).cast("double") -
            col(sc).cast("double") * col(sc).cast("double")) /
            (col(n).cast("double") * (col(n) - 1).cast("double")) /
            col(n).cast("double")
        a.crossJoin(b) // 1×1 summary join
          .withColumn("se2_a", se2("n_a", "s_a", "q_a"))
          .withColumn("se2_b", se2("n_b", "s_b", "q_b"))
          .withColumn("se", sqrt(col("se2_a") + col("se2_b")))
          .withColumn("diff",
            col("s_a").cast("double") / col("n_a") -
              col("s_b").cast("double") / col("n_b"))
          .withColumn("t_lower", (col("diff") + lit(0.1)) / col("se"))
          .withColumn("t_upper", (col("diff") - lit(0.1)) / col("se"))
          .withColumn("df_welch",
            (col("se2_a") + col("se2_b")) * (col("se2_a") + col("se2_b")) /
              (col("se2_a") * col("se2_a") / (col("n_a") - 1).cast("double") +
                col("se2_b") * col("se2_b") / (col("n_b") - 1).cast("double")))
          .select(col("n_a"), col("n_b"),
            round(col("diff") / 100.0, 6).as("mean_diff"),
            round(col("t_lower"), 6).as("t_lower"),
            round(col("t_upper"), 6).as("t_upper"),
            round(col("df_welch"), 2).as("df_welch"),
            (col("t_lower") > 1.6449 && col("t_upper") < -1.6449)
              .as("equivalent"))
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(c) AS BIGINT) AS s,
             |    CAST(SUM(c * c) AS BIGINT) AS q
             |  FROM (
             |    SELECT l_returnflag,
             |      CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)
             |        AS c
             |    FROM lineitem WHERE l_returnflag IN ('A', 'R')) x
             |  GROUP BY 1),
             |ab AS (
             |  SELECT
             |    (SELECT n FROM m WHERE l_returnflag = 'A') AS n_a,
             |    (SELECT s FROM m WHERE l_returnflag = 'A') AS s_a,
             |    (SELECT q FROM m WHERE l_returnflag = 'A') AS q_a,
             |    (SELECT n FROM m WHERE l_returnflag = 'R') AS n_b,
             |    (SELECT s FROM m WHERE l_returnflag = 'R') AS s_b,
             |    (SELECT q FROM m WHERE l_returnflag = 'R') AS q_b),
             |se AS (
             |  SELECT *,
             |    (CAST(n_a AS DOUBLE) * CAST(q_a AS DOUBLE)
             |      - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
             |      / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE))
             |      / CAST(n_a AS DOUBLE) AS se2_a,
             |    (CAST(n_b AS DOUBLE) * CAST(q_b AS DOUBLE)
             |      - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
             |      / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE))
             |      / CAST(n_b AS DOUBLE) AS se2_b,
             |    CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b
             |      AS diff
             |  FROM ab)
             |SELECT n_a, n_b, ROUND(diff / 100.0, 6) AS mean_diff,
             |  ROUND((diff + 0.1) / sqrt(se2_a + se2_b), 6) AS t_lower,
             |  ROUND((diff - 0.1) / sqrt(se2_a + se2_b), 6) AS t_upper,
             |  ROUND((se2_a + se2_b) * (se2_a + se2_b)
             |    / (se2_a * se2_a / CAST(n_a - 1 AS DOUBLE)
             |      + se2_b * se2_b / CAST(n_b - 1 AS DOUBLE)), 2) AS df_welch,
             |  (diff + 0.1) / sqrt(se2_a + se2_b) > 1.6449
             |    AND (diff - 0.1) / sqrt(se2_a + se2_b) < -1.6449
             |    AS equivalent
             |FROM se""".stripMargin))
  ) ++ wave16

  /** Round-10 wave 16 — multivariate / tail / diagnostic stats. All
    * moments come from EXACT decimal (or exactly-representable
    * half-integer) sums, so the final double expression trees are
    * bit-identical across engines; every query is 1–2 linear passes
    * over the fact table with key-sized shuffled state.
    */
  private def wave16: Seq[Q] = Seq(

    // Mahalanobis outlier screen — the 2-D generalization of
    // stat_outlier_tukey: per returnflag, fit the (quantity, price)
    // mean/covariance from EXACT decimal power sums (one linear
    // groupBy → 3 tiny models), broadcast the models back, and score
    // every row's d² = [dx dy] Σ⁻¹ [dx dy]ᵀ with the closed-form 2×2
    // inverse — a map-side expression, so the only shuffles are the
    // two key-sized aggregates. Both engines evaluate the identical
    // double tree on identical exact sums, making the
    // d² > χ²₀.₉₉(2) = 9.21 cut deterministic. Linear at any scale.
    Q("stat_mahalanobis",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_returnflag").as("f"),
          col("l_quantity").cast("decimal(18,2)").as("x"),
          col("l_extendedprice").cast("decimal(18,2)").as("y"))
        val m = li.groupBy("f").agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
          .select(col("f"), col("n"),
            (col("sx").cast("double") / col("n")).as("mx"),
            (col("sy").cast("double") / col("n")).as("my"),
            ((col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double") / col("n"))
              / (col("n") - 1)).as("vxx"),
            ((col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double") / col("n"))
              / (col("n") - 1)).as("vxy"),
            ((col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double") / col("n"))
              / (col("n") - 1)).as("vyy"))
        li.join(broadcast(m), "f")
          .withColumn("dx", col("x").cast("double") - col("mx"))
          .withColumn("dy", col("y").cast("double") - col("my"))
          .withColumn("d2",
            (col("vyy") * col("dx") * col("dx")
              - lit(2.0) * col("vxy") * col("dx") * col("dy")
              + col("vxx") * col("dy") * col("dy"))
              / (col("vxx") * col("vyy") - col("vxy") * col("vxy")))
          .groupBy(col("f").as("l_returnflag"))
          .agg(max("n").as("n"), round(max("d2"), 4).as("max_d2"),
            count(when(col("d2") > 9.21, lit(1))).as("n_outliers"))
          .orderBy("l_returnflag")
      },
      Some("""WITH li AS (
             |  SELECT l_returnflag AS f,
             |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
             |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
             |  FROM lineitem),
             |m AS (
             |  SELECT f, CAST(COUNT(*) AS BIGINT) AS n,
             |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx,
             |    SUM(x*y) AS sxy, SUM(y*y) AS syy
             |  FROM li GROUP BY f),
             |mm AS (
             |  SELECT f, n,
             |    CAST(sx AS DOUBLE) / n AS mx,
             |    CAST(sy AS DOUBLE) / n AS my,
             |    (CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
             |      / (n - 1) AS vxx,
             |    (CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
             |      / (n - 1) AS vxy,
             |    (CAST(syy AS DOUBLE)
             |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
             |      / (n - 1) AS vyy
             |  FROM m),
             |r AS (
             |  SELECT li.f, n,
             |    (vyy * (CAST(x AS DOUBLE) - mx) * (CAST(x AS DOUBLE) - mx)
             |      - 2.0 * vxy * (CAST(x AS DOUBLE) - mx)
             |            * (CAST(y AS DOUBLE) - my)
             |      + vxx * (CAST(y AS DOUBLE) - my)
             |            * (CAST(y AS DOUBLE) - my))
             |    / (vxx * vyy - vxy * vxy) AS d2
             |  FROM li JOIN mm ON li.f = mm.f)
             |SELECT f AS l_returnflag, MAX(n) AS n,
             |  ROUND(MAX(d2), 4) AS max_d2,
             |  COUNT(*) FILTER (WHERE d2 > 9.21) AS n_outliers
             |FROM r GROUP BY f ORDER BY f""".stripMargin)),

    // Hill estimator of the Pareto tail index on order totals — the
    // heavy-tail diagnostic a mixing pipeline runs before trusting
    // mean-based budgets (ts_pareto_days asks "how concentrated";
    // Hill asks "does the mean even converge"). Top-(k+1) order
    // stats via orderBy+limit → TakeOrderedAndProject (per-partition
    // heaps, no global sort; k+1 rows to the driver-side stage, a
    // model-sized set at any corpus scale). Each ln term is rounded
    // to 9 dp and summed as DECIMAL(18,9), so the k-term sum is
    // EXACT in both engines regardless of addend order.
    Q("stat_hill_tail",
      (s, d) => {
        val k = 500
        val top = Tables.orders(s, d)
          .select(col("o_totalprice").cast("decimal(18,2)").as("p"))
          .orderBy(col("p").desc).limit(k + 1)
        top.agg(min("p").as("pmin"),
          sum(expr("cast(round(ln(cast(p as double)), 9) as decimal(18,9))"))
            .as("sln"))
          .withColumn("lnmin",
            expr("cast(round(ln(cast(pmin as double)), 9) as decimal(18,9))"))
          .select(lit(k).as("k"),
            col("pmin").cast("double").as("x_k1"),
            round(lit(1.0) /
              ((col("sln") - col("lnmin")).cast("double") / k
                - col("lnmin").cast("double")), 4).as("hill_alpha"))
      },
      Some("""WITH t AS (
             |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS p
             |  FROM orders ORDER BY p DESC LIMIT 501),
             |a AS (
             |  SELECT MIN(p) AS pmin,
             |    SUM(CAST(ROUND(ln(CAST(p AS DOUBLE)), 9)
             |        AS DECIMAL(18,9))) AS sln
             |  FROM t),
             |b AS (
             |  SELECT pmin, sln,
             |    CAST(ROUND(ln(CAST(pmin AS DOUBLE)), 9)
             |        AS DECIMAL(18,9)) AS lnmin
             |  FROM a)
             |SELECT 500 AS k, CAST(pmin AS DOUBLE) AS x_k1,
             |  ROUND(1.0 / (CAST(sln - lnmin AS DOUBLE) / 500
             |    - CAST(lnmin AS DOUBLE)), 4) AS hill_alpha
             |FROM b""".stripMargin)),

    // Youden-J optimal threshold — the ROC operating-point pick for a
    // quality gate (llm_quality_auc ranks the classifier; this picks
    // the cut). Label = lang·en, score = n_chars bucketed to 10s, so
    // the sweep domain is VALUE-BOUNDED (≤ ~60 buckets whatever the
    // corpus size): one linear groupBy to bucket counts, then the
    // cumulative TPR/FPR window runs over the bounded bucket set —
    // the single-partition window is over ≤60 rows by construction.
    // J from exact integer counts → deterministic argmax.
    Q("stat_youden_threshold",
      (s, d) => {
        val b = Tables.documents(s, d)
          .select(expr("(n_chars div 10) * 10").as("t"),
            when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
          .groupBy("t").agg(count(lit(1)).as("c"), sum("pos").as("cp"))
        val tot = b.agg(sum("c").as("nn"), sum("cp").as("np"))
        val wCum = Window.orderBy(col("t").desc)
        b.withColumn("cum_p", sum("cp").over(wCum))
          .withColumn("cum_n", sum(col("c") - col("cp")).over(wCum))
          .crossJoin(broadcast(tot))
          .withColumn("tpr", col("cum_p").cast("double") / col("np"))
          .withColumn("fpr",
            col("cum_n").cast("double") / (col("nn") - col("np")))
          .withColumn("j", col("tpr") - col("fpr"))
          .withColumn("rk",
            row_number().over(Window.orderBy(col("j").desc, col("t"))))
          .filter(col("rk") === 1)
          .select(col("t").as("threshold"), round(col("tpr"), 4).as("tpr"),
            round(col("fpr"), 4).as("fpr"), round(col("j"), 4).as("youden_j"))
      },
      Some("""WITH b AS (
             |  SELECT (n_chars // 10) * 10 AS t, COUNT(*) AS c,
             |    COUNT(*) FILTER (WHERE lang = 'en') AS cp
             |  FROM documents GROUP BY 1),
             |tot AS (
             |  SELECT CAST(SUM(c) AS BIGINT) AS nn,
             |    CAST(SUM(cp) AS BIGINT) AS np FROM b),
             |c AS (
             |  SELECT t,
             |    CAST(SUM(cp) OVER (ORDER BY t DESC) AS BIGINT) AS cum_p,
             |    CAST(SUM(c - cp) OVER (ORDER BY t DESC) AS BIGINT) AS cum_n
             |  FROM b),
             |j AS (
             |  SELECT t,
             |    CAST(cum_p AS DOUBLE) / np AS tpr,
             |    CAST(cum_n AS DOUBLE) / (nn - np) AS fpr,
             |    CAST(cum_p AS DOUBLE) / np
             |      - CAST(cum_n AS DOUBLE) / (nn - np) AS j
             |  FROM c, tot)
             |SELECT t AS threshold, ROUND(tpr, 4) AS tpr,
             |  ROUND(fpr, 4) AS fpr, ROUND(j, 4) AS youden_j
             |FROM j ORDER BY j DESC, t LIMIT 1""".stripMargin)),

    // Variance inflation factors for the 3-regressor design
    // (quantity, price, discount) — the multicollinearity audit run
    // before trusting stat_linreg coefficients. The full pairwise
    // correlation matrix comes from ONE linear pass of exact decimal
    // power sums; the 3×3 inverse is closed-form in the pairwise r's
    // (R²_i from the partialled-out formula), all key-sized math.
    Q("stat_vif",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(
          col("l_quantity").cast("decimal(18,2)").as("a"),
          col("l_extendedprice").cast("decimal(18,2)").as("b"),
          col("l_discount").cast("decimal(18,6)").as("c"))
        def rr(sij: Column, si: Column, sj: Column, sii: Column,
               sjj: Column, n: Column): Column =
          (n.cast("double") * sij.cast("double")
            - si.cast("double") * sj.cast("double")) /
            sqrt((n.cast("double") * sii.cast("double")
              - si.cast("double") * si.cast("double")) *
              (n.cast("double") * sjj.cast("double")
                - sj.cast("double") * sj.cast("double")))
        li.agg(count(lit(1)).as("n"),
          sum("a").as("sa"), sum("b").as("sb"), sum("c").as("sc"),
          sum(col("a") * col("a")).as("saa"),
          sum(col("b") * col("b")).as("sbb"),
          sum(col("c") * col("c")).as("scc"),
          sum(col("a") * col("b")).as("sab"),
          sum(col("a") * col("c")).as("sac"),
          sum(col("b") * col("c")).as("sbc"))
          .withColumn("r12", rr(col("sab"), col("sa"), col("sb"),
            col("saa"), col("sbb"), col("n")))
          .withColumn("r13", rr(col("sac"), col("sa"), col("sc"),
            col("saa"), col("scc"), col("n")))
          .withColumn("r23", rr(col("sbc"), col("sb"), col("sc"),
            col("sbb"), col("scc"), col("n")))
          .select(col("n"),
            round(col("r12"), 4).as("r12"),
            round(col("r13"), 4).as("r13"),
            round(col("r23"), 4).as("r23"),
            round(lit(1.0) / (lit(1.0) -
              (col("r12") * col("r12") + col("r13") * col("r13")
                - lit(2.0) * col("r12") * col("r13") * col("r23"))
                / (lit(1.0) - col("r23") * col("r23"))), 4).as("vif_quantity"),
            round(lit(1.0) / (lit(1.0) -
              (col("r12") * col("r12") + col("r23") * col("r23")
                - lit(2.0) * col("r12") * col("r23") * col("r13"))
                / (lit(1.0) - col("r13") * col("r13"))), 4).as("vif_price"),
            round(lit(1.0) / (lit(1.0) -
              (col("r13") * col("r13") + col("r23") * col("r23")
                - lit(2.0) * col("r13") * col("r23") * col("r12"))
                / (lit(1.0) - col("r12") * col("r12"))), 4).as("vif_discount"))
      },
      Some("""WITH s AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    SUM(a) AS sa, SUM(b) AS sb, SUM(c) AS sc,
             |    SUM(a*a) AS saa, SUM(b*b) AS sbb, SUM(c*c) AS scc,
             |    SUM(a*b) AS sab, SUM(a*c) AS sac, SUM(b*c) AS sbc
             |  FROM (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS a,
             |          CAST(l_extendedprice AS DECIMAL(18,2)) AS b,
             |          CAST(l_discount AS DECIMAL(18,6)) AS c
             |        FROM lineitem)),
             |r AS (
             |  SELECT n,
             |    (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
             |      - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
             |        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
             |      * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
             |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) AS r12,
             |    (CAST(n AS DOUBLE) * CAST(sac AS DOUBLE)
             |      - CAST(sa AS DOUBLE) * CAST(sc AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
             |        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
             |      * (CAST(n AS DOUBLE) * CAST(scc AS DOUBLE)
             |        - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))) AS r13,
             |    (CAST(n AS DOUBLE) * CAST(sbc AS DOUBLE)
             |      - CAST(sb AS DOUBLE) * CAST(sc AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
             |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
             |      * (CAST(n AS DOUBLE) * CAST(scc AS DOUBLE)
             |        - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))) AS r23
             |  FROM s)
             |SELECT n, ROUND(r12, 4) AS r12, ROUND(r13, 4) AS r13,
             |  ROUND(r23, 4) AS r23,
             |  ROUND(1.0 / (1.0 - (r12*r12 + r13*r13 - 2.0*r12*r13*r23)
             |    / (1.0 - r23*r23)), 4) AS vif_quantity,
             |  ROUND(1.0 / (1.0 - (r12*r12 + r23*r23 - 2.0*r12*r23*r13)
             |    / (1.0 - r13*r13)), 4) AS vif_price,
             |  ROUND(1.0 / (1.0 - (r13*r13 + r23*r23 - 2.0*r13*r23*r12)
             |    / (1.0 - r12*r12)), 4) AS vif_discount
             |FROM r""".stripMargin)),

    // Brown-Forsythe — the MEDIAN-centered Levene variant (robust to
    // the skew that mean-centered stat_levene inherits). Quantity is
    // integer-valued, so each group median is an integer or exact
    // half-integer, |q − med| is a multiple of 0.5, and all z-sums
    // are EXACT doubles in any addend order — no decimal plumbing
    // needed. Two linear passes (medians, then z-moments), 3-row
    // model broadcast between them.
    Q("stat_brown_forsythe",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_returnflag").as("f"), col("l_quantity").as("q"))
        val med = li.groupBy("f").agg(expr("percentile(q, 0.5D)").as("med"))
        val g = li.join(broadcast(med), "f")
          .select(col("f"), abs(col("q") - col("med")).as("z"))
          .groupBy("f").agg(count(lit(1)).as("n"), sum("z").as("sz"),
            sum(col("z") * col("z")).as("szz"))
        val t = g.agg(sum("n").as("nn"), count(lit(1)).as("k"),
          sum("sz").as("tz"))
        g.crossJoin(broadcast(t))
          .select(col("k"), col("nn"), col("n"),
            ((col("sz") / col("n")) - (col("tz") / col("nn"))).as("dev"),
            (col("szz") - col("sz") * col("sz") / col("n")).as("ssw_i"))
          .agg(max("k").as("k"), max("nn").as("n_total"),
            sum(col("n") * col("dev") * col("dev")).as("ssb"),
            sum("ssw_i").as("ssw"))
          .select(col("k"), col("n_total"),
            round((col("ssb") / (col("k") - 1))
              / (col("ssw") / (col("n_total") - col("k"))), 4).as("f_bf"))
      },
      Some("""WITH li AS (
             |  SELECT l_returnflag AS f, l_quantity AS q FROM lineitem),
             |med AS (
             |  SELECT f, quantile_cont(q, 0.5) AS med FROM li GROUP BY f),
             |g AS (
             |  SELECT li.f, CAST(COUNT(*) AS BIGINT) AS n,
             |    SUM(abs(q - med)) AS sz,
             |    SUM(abs(q - med) * abs(q - med)) AS szz
             |  FROM li JOIN med ON li.f = med.f GROUP BY li.f),
             |t AS (
             |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
             |    CAST(COUNT(*) AS BIGINT) AS k, SUM(sz) AS tz FROM g),
             |p AS (
             |  SELECT k, nn, n, (sz / n) - (tz / nn) AS dev,
             |    szz - sz * sz / n AS ssw_i
             |  FROM g, t),
             |f AS (
             |  SELECT MAX(k) AS k, MAX(nn) AS n_total,
             |    SUM(n * dev * dev) AS ssb, SUM(ssw_i) AS ssw
             |  FROM p)
             |SELECT k, n_total,
             |  ROUND((ssb / (k - 1)) / (ssw / (n_total - k)), 4) AS f_bf
             |FROM f""".stripMargin)),

    // Two-sample Hotelling T² — "did the (quantity, price) JOINT mean
    // shift between returned and non-returned lines": the 2-D twin of
    // stat_welch_ttest that catches correlated drifts a pair of
    // univariate t-tests misses. ONE conditional-aggregate pass
    // (exact decimal power sums per arm), closed-form pooled 2×2
    // inverse, single-row output. F = T²(n−3)/(2(n−2)), p = 2.
    Q("stat_hotelling_t2",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .filter(col("l_returnflag").isin("A", "R"))
          .select((col("l_returnflag") === "A").as("ga"),
            col("l_quantity").cast("decimal(18,2)").as("x"),
            col("l_extendedprice").cast("decimal(18,2)").as("y"))
        def cs(c: Column, a: Boolean) =
          sum(when(col("ga") === a, c))
        val agg = li.agg(
          count(when(col("ga") === true, lit(1))).as("na"),
          count(when(col("ga") === false, lit(1))).as("nb"),
          cs(col("x"), true).as("sxa"), cs(col("y"), true).as("sya"),
          cs(col("x") * col("x"), true).as("sxxa"),
          cs(col("x") * col("y"), true).as("sxya"),
          cs(col("y") * col("y"), true).as("syya"),
          cs(col("x"), false).as("sxb"), cs(col("y"), false).as("syb"),
          cs(col("x") * col("x"), false).as("sxxb"),
          cs(col("x") * col("y"), false).as("sxyb"),
          cs(col("y") * col("y"), false).as("syyb"))
        def dd(c: String) = col(c).cast("double")
        agg
          .withColumn("vxx",
            ((dd("sxxa") - dd("sxa") * dd("sxa") / col("na"))
              + (dd("sxxb") - dd("sxb") * dd("sxb") / col("nb")))
              / (col("na") + col("nb") - 2))
          .withColumn("vxy",
            ((dd("sxya") - dd("sxa") * dd("sya") / col("na"))
              + (dd("sxyb") - dd("sxb") * dd("syb") / col("nb")))
              / (col("na") + col("nb") - 2))
          .withColumn("vyy",
            ((dd("syya") - dd("sya") * dd("sya") / col("na"))
              + (dd("syyb") - dd("syb") * dd("syb") / col("nb")))
              / (col("na") + col("nb") - 2))
          .withColumn("dx", dd("sxa") / col("na") - dd("sxb") / col("nb"))
          .withColumn("dy", dd("sya") / col("na") - dd("syb") / col("nb"))
          .withColumn("t2",
            (col("na").cast("double") * col("nb") / (col("na") + col("nb")))
              * (col("vyy") * col("dx") * col("dx")
                - lit(2.0) * col("vxy") * col("dx") * col("dy")
                + col("vxx") * col("dy") * col("dy"))
              / (col("vxx") * col("vyy") - col("vxy") * col("vxy")))
          .select(col("na"), col("nb"), round(col("t2"), 4).as("t2"),
            round(col("t2") * (col("na") + col("nb") - 3)
              / (lit(2.0) * (col("na") + col("nb") - 2)), 4).as("f_stat"))
      },
      Some("""WITH li AS (
             |  SELECT l_returnflag = 'A' AS ga,
             |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
             |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
             |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
             |s AS (
             |  SELECT
             |    COUNT(*) FILTER (WHERE ga) AS na,
             |    COUNT(*) FILTER (WHERE NOT ga) AS nb,
             |    SUM(x) FILTER (WHERE ga) AS sxa,
             |    SUM(y) FILTER (WHERE ga) AS sya,
             |    SUM(x*x) FILTER (WHERE ga) AS sxxa,
             |    SUM(x*y) FILTER (WHERE ga) AS sxya,
             |    SUM(y*y) FILTER (WHERE ga) AS syya,
             |    SUM(x) FILTER (WHERE NOT ga) AS sxb,
             |    SUM(y) FILTER (WHERE NOT ga) AS syb,
             |    SUM(x*x) FILTER (WHERE NOT ga) AS sxxb,
             |    SUM(x*y) FILTER (WHERE NOT ga) AS sxyb,
             |    SUM(y*y) FILTER (WHERE NOT ga) AS syyb
             |  FROM li),
             |v AS (
             |  SELECT na, nb,
             |    ((CAST(sxxa AS DOUBLE) - CAST(sxa AS DOUBLE)*CAST(sxa AS DOUBLE)/na)
             |     + (CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE)*CAST(sxb AS DOUBLE)/nb))
             |     / (na + nb - 2) AS vxx,
             |    ((CAST(sxya AS DOUBLE) - CAST(sxa AS DOUBLE)*CAST(sya AS DOUBLE)/na)
             |     + (CAST(sxyb AS DOUBLE) - CAST(sxb AS DOUBLE)*CAST(syb AS DOUBLE)/nb))
             |     / (na + nb - 2) AS vxy,
             |    ((CAST(syya AS DOUBLE) - CAST(sya AS DOUBLE)*CAST(sya AS DOUBLE)/na)
             |     + (CAST(syyb AS DOUBLE) - CAST(syb AS DOUBLE)*CAST(syb AS DOUBLE)/nb))
             |     / (na + nb - 2) AS vyy,
             |    CAST(sxa AS DOUBLE)/na - CAST(sxb AS DOUBLE)/nb AS dx,
             |    CAST(sya AS DOUBLE)/na - CAST(syb AS DOUBLE)/nb AS dy
             |  FROM s),
             |t AS (
             |  SELECT na, nb,
             |    (CAST(na AS DOUBLE) * nb / (na + nb))
             |      * (vyy*dx*dx - 2.0*vxy*dx*dy + vxx*dy*dy)
             |      / (vxx*vyy - vxy*vxy) AS t2
             |  FROM v)
             |SELECT na, nb, ROUND(t2, 4) AS t2,
             |  ROUND(t2 * (na + nb - 3) / (2.0 * (na + nb - 2)), 4) AS f_stat
             |FROM t""".stripMargin))
  ) ++ wave19

  private def wave19: Seq[Q] = Seq(

    // Gaussian-free KDE: kernel density of order totals on a FIXED
    // 21-point grid with the Epanechnikov kernel 0.75(1−u²) — chosen
    // over the Gaussian deliberately: it is pure arithmetic (no
    // exp(), whose last-ulp behavior differs between engines), so
    // each kernel term is the identical double in both engines; terms
    // are then rounded to 12 dp and summed as DECIMAL, making the
    // n-term sum exact in any addend order. The grid explode is a
    // constant 21× map-side fan-out — fact-linear; at 100 TB you'd
    // pre-bin values to grid-resolution buckets first (same answer to
    // grid precision, shuffle shrinks to bucket counts).
    Q("stat_kde_density", {
      val STEP = 25000L; val NPTS = 21; val H = 25000.0
      (s, d) => {
        val li = Tables.orders(s, d)
          .select(col("o_totalprice").cast("decimal(18,2)").as("p"))
        val terms = li
          .select(col("p"), explode(expr(
            s"transform(sequence(0, ${NPTS - 1}), i -> cast(i as bigint) * $STEP)")).as("g"))
          .withColumn("u",
            (col("p").cast("double") - col("g").cast("double")) / lit(H))
          .withColumn("kern", expr(
            """cast(round(CASE WHEN abs(u) < 1.0
              |  THEN 0.75 * (1.0 - u * u) ELSE 0.0 END, 12)
              |as decimal(18,12))""".stripMargin))
        val n = li.agg(count(lit(1)).as("n"))
        terms.groupBy("g")
          .agg(count(when(abs(col("u")) < 1.0, lit(1))).as("n_in"),
            sum("kern").as("sk"))
          .crossJoin(broadcast(n))
          .select(col("g").as("grid"), col("n_in"),
            round(col("sk").cast("double") / (col("n") * lit(H)) * 1e6, 6)
              .as("density_1e6"))
          .orderBy("grid")
      }
    },
      Some("""WITH g AS (
             |  SELECT CAST(i AS BIGINT) AS g
             |  FROM unnest(generate_series(0, 500000, 25000)) t(i)),
             |li AS (
             |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM li),
             |terms AS (
             |  SELECT g.g,
             |    (CAST(p AS DOUBLE) - CAST(g.g AS DOUBLE)) / 25000.0 AS u
             |  FROM li, g),
             |k AS (
             |  SELECT g,
             |    CASE WHEN abs(u) < 1.0 THEN 1 ELSE 0 END AS inside,
             |    CAST(ROUND(CASE WHEN abs(u) < 1.0
             |      THEN 0.75 * (1.0 - u * u) ELSE 0.0 END, 12)
             |      AS DECIMAL(18,12)) AS kern
             |  FROM terms)
             |SELECT g AS grid,
             |  COUNT(*) FILTER (WHERE inside = 1) AS n_in,
             |  ROUND(CAST(SUM(kern) AS DOUBLE) / (n * 25000.0) * 1e6, 6)
             |    AS density_1e6
             |FROM k, n GROUP BY g, n ORDER BY grid""".stripMargin)),

    // KMV (k-minimum-values) distinct sketch — the mergeable
    // cardinality estimator that, unlike HLL (agg_approx_hll's
    // sanctioned no-oracle), is FULLY deterministic given the hash:
    // both engines derive the same md5-polynomial 60-bit hashes, so
    // the k-th minimum and the estimate (k−1)·2⁶⁰/h_k hash-match
    // exactly — a sketch WITH an oracle. Distinct-then-top-k is one
    // hash aggregate plus a TakeOrdered of k rows (k = 256 model-sized
    // at any scale); the exact count rides along to report the error.
    Q("agg_kmv_distinct", {
      val K = 256
      (s, d) => {
        val h = Tables.orders(s, d)
          .select(conv(substring(md5(concat(lit("kmv:"),
            col("o_orderkey").cast("string"))), 1, 15), 16, 10)
            .cast("long").as("h"))
          .distinct()
        val topk = h.orderBy("h").limit(K)
          .agg(count(lit(1)).as("k"), max("h").as("hk"))
        val exact = Tables.orders(s, d)
          .agg(countDistinct(col("o_orderkey")).as("exact"))
        topk.crossJoin(broadcast(exact))
          .select(col("k"), col("hk"), col("exact"),
            round(lit((K - 1).toDouble) * lit(math.pow(2.0, 60))
              / col("hk"), 2).as("estimate"),
            round(lit((K - 1).toDouble) * lit(math.pow(2.0, 60))
              / col("hk") / col("exact"), 4).as("ratio"))
      }
    },
      Some(s"""WITH h AS (
              |  SELECT DISTINCT ${SQL_HEX15(
                   "md5('kmv:' || CAST(o_orderkey AS VARCHAR))")} AS h
              |  FROM orders),
              |topk AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
              |    CAST(MAX(h) AS BIGINT) AS hk
              |  FROM (SELECT h FROM h ORDER BY h LIMIT 256)),
              |ex AS (
              |  SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS exact
              |  FROM orders)
              |SELECT k, hk, exact,
              |  ROUND(255.0 * 1152921504606846976.0 / hk, 2) AS estimate,
              |  ROUND(255.0 * 1152921504606846976.0 / hk / exact, 4) AS ratio
              |FROM topk, ex""".stripMargin))
  ) ++ wave28

  private def wave28: Seq[Q] = Seq(

    // Tukey HSD post-hoc — the pairwise follow-up every significant
    // ANOVA (stat_anova_f, same grouping) demands: which group means
    // actually differ? Per-pair studentized statistic q_ij =
    // |m_i − m_j| / sqrt(MSE/2 · (1/n_i + 1/n_j)) against the
    // studentized-range critical value q(0.95; k=3, df=∞) = 3.314
    // (df is ~n−k ≈ ∞ at any realistic scale; the literal is
    // documented, not data-dependent, so the flag is deterministic).
    // Everything reduces from ONE group-aggregate pass (counts +
    // decimal sums + decimal squares); the pair stage is a cross join
    // of the k-row aggregate — k(k−1)/2 rows at any corpus size.
    Q("stat_tukey_hsd",
      (s, d) => {
        val dec2 = col("l_extendedprice").cast("decimal(18,2)")
        // k-row aggregate; lineage cut so the self-join + MSE branches
        // read the cached 3-row table, not three fact scans
        val g = Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("ng"), sum(dec2).as("sg"),
            sum(dec2 * dec2).as("sg2"))
          .localCheckpoint(eager = false)
        val m = g.agg(count(lit(1)).as("k"), sum("ng").as("n"),
            sum(col("sg2")).as("s2"),
            sum(col("sg").cast("double") * col("sg").cast("double") /
              col("ng").cast("double")).as("sqn"))
          .select(col("k"), col("n"),
            ((col("s2").cast("double") - col("sqn")) /
              (col("n") - col("k")).cast("double")).as("mse"))
        g.as("a").join(g.as("b"),
            col("a.l_returnflag") < col("b.l_returnflag"))
          .crossJoin(broadcast(m))
          .select(col("a.l_returnflag").as("g1"),
            col("b.l_returnflag").as("g2"),
            round(abs(col("a.sg").cast("double") / col("a.ng").cast("double") -
              col("b.sg").cast("double") / col("b.ng").cast("double")), 4)
              .as("mean_diff"),
            round(abs(col("a.sg").cast("double") / col("a.ng").cast("double") -
              col("b.sg").cast("double") / col("b.ng").cast("double")) /
              sqrt(col("mse") / 2.0 *
                (lit(1.0) / col("a.ng").cast("double") +
                  lit(1.0) / col("b.ng").cast("double"))), 4).as("q_stat"),
            (abs(col("a.sg").cast("double") / col("a.ng").cast("double") -
              col("b.sg").cast("double") / col("b.ng").cast("double")) /
              sqrt(col("mse") / 2.0 *
                (lit(1.0) / col("a.ng").cast("double") +
                  lit(1.0) / col("b.ng").cast("double"))) > 3.314)
              .as("significant"))
          .orderBy("g1", "g2")
      },
      Some("""WITH g AS (
             |  SELECT l_returnflag, COUNT(*) AS ng,
             |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sg,
             |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS sg2
             |  FROM lineitem GROUP BY l_returnflag),
             |m AS (
             |  SELECT (CAST(SUM(sg2) AS DOUBLE)
             |      - SUM(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
             |            / CAST(ng AS DOUBLE)))
             |    / CAST(SUM(ng) - COUNT(*) AS DOUBLE) AS mse
             |  FROM g)
             |SELECT a.l_returnflag AS g1, b.l_returnflag AS g2,
             |  ROUND(ABS(CAST(a.sg AS DOUBLE) / CAST(a.ng AS DOUBLE)
             |    - CAST(b.sg AS DOUBLE) / CAST(b.ng AS DOUBLE)), 4)
             |    AS mean_diff,
             |  ROUND(ABS(CAST(a.sg AS DOUBLE) / CAST(a.ng AS DOUBLE)
             |      - CAST(b.sg AS DOUBLE) / CAST(b.ng AS DOUBLE))
             |    / SQRT(m.mse / 2.0 * (1.0 / CAST(a.ng AS DOUBLE)
             |        + 1.0 / CAST(b.ng AS DOUBLE))), 4) AS q_stat,
             |  ABS(CAST(a.sg AS DOUBLE) / CAST(a.ng AS DOUBLE)
             |      - CAST(b.sg AS DOUBLE) / CAST(b.ng AS DOUBLE))
             |    / SQRT(m.mse / 2.0 * (1.0 / CAST(a.ng AS DOUBLE)
             |        + 1.0 / CAST(b.ng AS DOUBLE))) > 3.314 AS significant
             |FROM g a JOIN g b ON a.l_returnflag < b.l_returnflag, m
             |ORDER BY g1, g2""".stripMargin)),

    // G-test of independence (likelihood-ratio chi-square) over the
    // returnflag × linestatus contingency — the additive-decomposable
    // alternative to Pearson chi2 (stat_chi2): G partitions exactly
    // across nested table splits, which is why corpus-audit pipelines
    // prefer it for drilldowns. All counts are integers; each cell's
    // O·ln(O/E) term is rounded to 9 dp and DECIMAL-summed (the
    // ln-round9 exactness device — the only float op is one ln per
    // cell, |cells| ≤ |flags|·|statuses| at any scale). Zero cells
    // contribute 0 by the O > 0 filter, identically in both engines.
    Q("stat_g_test",
      (s, d) => {
        // cell-count aggregate; lineage cut — the two marginals, the
        // total, and the df counts all branch off it (five fact scans
        // otherwise)
        val cells = Tables.lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("o"))
          .localCheckpoint(eager = false)
        val rows = cells.groupBy("l_returnflag").agg(sum("o").as("r"))
        val cols_ = cells.groupBy("l_linestatus").agg(sum("o").as("c"))
        val tot = cells.agg(sum("o").as("n"))
        cells.join(broadcast(rows), "l_returnflag")
          .join(broadcast(cols_), "l_linestatus")
          .crossJoin(broadcast(tot))
          .filter(col("o") > 0)
          .select(col("o"), col("r"), col("c"), col("n"),
            round(col("o").cast("double") *
              log(col("o").cast("double") * col("n").cast("double") /
                (col("r").cast("double") * col("c").cast("double"))), 9)
              .as("term"))
          .agg((sum(col("term").cast("decimal(28,9)")) * 2)
              .cast("double").as("g_stat_raw"),
            count(lit(1)).as("n_cells"))
          .crossJoin(broadcast(
            rows.agg(count(lit(1)).as("nr"))
              .crossJoin(cols_.agg(count(lit(1)).as("nc")))))
          .select(round(col("g_stat_raw"), 4).as("g_stat"),
            col("n_cells"),
            ((col("nr") - 1) * (col("nc") - 1)).as("df"))
      },
      Some("""WITH cells AS (
             |  SELECT l_returnflag, l_linestatus, COUNT(*) AS o
             |  FROM lineitem GROUP BY 1, 2),
             |r AS (SELECT l_returnflag, SUM(o) AS r FROM cells GROUP BY 1),
             |c AS (SELECT l_linestatus, SUM(o) AS c FROM cells GROUP BY 1),
             |t AS (SELECT SUM(o) AS n FROM cells),
             |terms AS (
             |  SELECT ROUND(CAST(o AS DOUBLE)
             |      * ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
             |          / (CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE))), 9)
             |    AS term
             |  FROM cells JOIN r USING (l_returnflag)
             |    JOIN c USING (l_linestatus), t
             |  WHERE o > 0),
             |agg AS (
             |  SELECT CAST(SUM(CAST(term AS DECIMAL(28,9))) * 2 AS DOUBLE)
             |      AS g_stat_raw,
             |    CAST(COUNT(*) AS BIGINT) AS n_cells
             |  FROM terms)
             |SELECT ROUND(g_stat_raw, 4) AS g_stat, n_cells,
             |  CAST(((SELECT COUNT(*) FROM r) - 1)
             |    * ((SELECT COUNT(*) FROM c) - 1) AS BIGINT) AS df
             |FROM agg""".stripMargin))
  ) ++ wave29

  private def wave29: Seq[Q] = Seq(

    // Standardized effect sizes for the click-vs-view value contrast —
    // the "is it LARGE, not just significant" companion every A/B
    // readout needs next to stat_welch_ttest's p-value: Cohen's d
    // (pooled-SD units), Hedges' g (small-sample bias correction
    // J = 1 − 3/(4N−9)), Glass's Δ (control-SD units, control = view),
    // and the ordinal Cliff's δ = (#(x>y) − #(x<y)) / (n1·n2).
    // Scale shape: d/g/Δ reduce from ONE group aggregate over exact
    // integer cents (the stat_welch_ttest device — scale-invariant, so
    // the /100 never happens); Cliff's δ avoids the n1·n2 pair blowup
    // on the value-rank device: per value v, #(click pairs won) =
    // a_v · (cum_b − b)_v, the views below v, all exact BIGINT sums,
    // and lt = n1·n2 − gt − eq needs no second window.
    Q("stat_effect_sizes",
      (s, d) => {
        val base = Tables.events(s, d)
          .filter(col("event_type").isin("click", "view"))
          .withColumn("cents", cents(col("value")))
        val m = base.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("sc"),
            sum(col("cents") * col("cents")).as("qc"))
        val a = m.filter(col("event_type") === "click")
          .select(col("n").as("n1"), col("sc").as("s1"), col("qc").as("q1"))
        val b = m.filter(col("event_type") === "view")
          .select(col("n").as("n2"), col("sc").as("s2"), col("qc").as("q2"))
        val cf = clickViewRanks(s, d)
          .agg(sum(col("a") * (col("cum_b") - col("b"))).as("gt"),
            sum(col("a") * col("b")).as("eq"))
        def svar(n: String, sc: String, qc: String) =
          (col(n).cast("double") * col(qc).cast("double") -
            col(sc).cast("double") * col(sc).cast("double")) /
            (col(n).cast("double") * (col(n) - 1).cast("double"))
        val md = col("s1").cast("double") / col("n1") -
          col("s2").cast("double") / col("n2")
        a.crossJoin(b).crossJoin(broadcast(cf)) // 1×1×1 summary join
          .withColumn("v1", svar("n1", "s1", "q1"))
          .withColumn("v2", svar("n2", "s2", "q2"))
          .withColumn("sp", sqrt(
            ((col("n1") - 1).cast("double") * col("v1") +
              (col("n2") - 1).cast("double") * col("v2")) /
              (col("n1") + col("n2") - 2).cast("double")))
          .withColumn("jf", lit(1.0) -
            lit(3.0) / (lit(4.0) * (col("n1") + col("n2")).cast("double")
              - 9.0))
          .select(col("n1").as("n_click"), col("n2").as("n_view"),
            round(md / lit(100.0), 4).as("mean_diff"),
            round(md / col("sp"), 6).as("cohens_d"),
            round(col("jf") * md / col("sp"), 6).as("hedges_g"),
            round(md / sqrt(col("v2")), 6).as("glass_delta"),
            round((col("gt") -
              (col("n1") * col("n2") - col("gt") - col("eq")))
              .cast("double") / (col("n1") * col("n2")).cast("double"), 6)
              .as("cliffs_delta"))
      },
      Some(s"""WITH x AS (
             |  SELECT event_type, value,
             |    ${SQL_CENTS("value")} AS cents
             |  FROM events WHERE event_type IN ('click', 'view')),
             |m AS (
             |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(cents) AS BIGINT) AS s,
             |    CAST(SUM(cents * cents) AS BIGINT) AS q
             |  FROM x GROUP BY event_type),
             |ab AS (
             |  SELECT
             |    (SELECT n FROM m WHERE event_type = 'click') AS n1,
             |    (SELECT s FROM m WHERE event_type = 'click') AS s1,
             |    (SELECT q FROM m WHERE event_type = 'click') AS q1,
             |    (SELECT n FROM m WHERE event_type = 'view') AS n2,
             |    (SELECT s FROM m WHERE event_type = 'view') AS s2,
             |    (SELECT q FROM m WHERE event_type = 'view') AS q2),
             |cf AS (
             |  SELECT CAST(SUM(a * (cum_b - b)) AS BIGINT) AS gt,
             |    CAST(SUM(a * b) AS BIGINT) AS eq
             |  FROM ($SQL_CLICK_VIEW_RANKS) v),
             |e AS (
             |  SELECT *,
             |    (CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
             |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             |      / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) AS v1,
             |    (CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE)
             |      - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
             |      / (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)) AS v2,
             |    CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS md
             |  FROM ab, cf),
             |f AS (
             |  SELECT *,
             |    sqrt((CAST(n1 - 1 AS DOUBLE) * v1
             |        + CAST(n2 - 1 AS DOUBLE) * v2)
             |      / CAST(n1 + n2 - 2 AS DOUBLE)) AS sp,
             |    1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0) AS jf
             |  FROM e)
             |SELECT n1 AS n_click, n2 AS n_view,
             |  ROUND(md / 100.0, 4) AS mean_diff,
             |  ROUND(md / sp, 6) AS cohens_d,
             |  ROUND(jf * md / sp, 6) AS hedges_g,
             |  ROUND(md / sqrt(v2), 6) AS glass_delta,
             |  ROUND(CAST(gt - (n1 * n2 - gt - eq) AS DOUBLE)
             |    / CAST(n1 * n2 AS DOUBLE), 6) AS cliffs_delta
             |FROM f""".stripMargin)),

    // k-anonymity / l-diversity audit over the quasi-identifier pair
    // (c_nationkey, c_mktsegment) — the privacy gate a training-data
    // release runs before shipping user-derived tables: every row must
    // hide in a crowd of ≥k identical quasi-identifier tuples, and no
    // crowd may be uniform in the sensitive attribute (here the
    // delinquency flag acctbal < 0; an l=1 class discloses it for every
    // member). One groupBy at QI cardinality (|nations|×|segments|,
    // key-sized at any corpus scale) then a second aggregate over the
    // class table — no row-level state leaves the first shuffle.
    Q("agg_kanonymity",
      (s, d) => {
        val classes = Tables.customer(s, d)
          .groupBy("c_nationkey", "c_mktsegment")
          .agg(count(lit(1)).as("k"),
            countDistinct(when(col("c_acctbal") < 0, 1L).otherwise(0L))
              .as("ldiv"))
        classes.agg(
          sum("k").as("n_rows"),
          count(lit(1)).as("n_classes"),
          min("k").as("k_min"),
          sum(when(col("k") < 10, 1L).otherwise(0L)).as("classes_lt_10"),
          sum(when(col("k") < 10, col("k")).otherwise(0L))
            .as("rows_lt_10"),
          sum(when(col("ldiv") === 1, 1L).otherwise(0L))
            .as("classes_ldiv1"))
          .select(col("n_rows"), col("n_classes"), col("k_min"),
            col("classes_lt_10"),
            round(col("rows_lt_10").cast("double") /
              col("n_rows").cast("double"), 6).as("pct_rows_lt_10"),
            col("classes_ldiv1"))
      },
      Some("""WITH classes AS (
             |  SELECT c_nationkey, c_mktsegment,
             |    CAST(COUNT(*) AS BIGINT) AS k,
             |    CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 1
             |      ELSE 0 END) AS BIGINT) AS ldiv
             |  FROM customer GROUP BY 1, 2)
             |SELECT CAST(SUM(k) AS BIGINT) AS n_rows,
             |  CAST(COUNT(*) AS BIGINT) AS n_classes,
             |  CAST(MIN(k) AS BIGINT) AS k_min,
             |  CAST(SUM(CASE WHEN k < 10 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS classes_lt_10,
             |  ROUND(CAST(SUM(CASE WHEN k < 10 THEN k ELSE 0 END) AS DOUBLE)
             |    / CAST(SUM(k) AS DOUBLE), 6) AS pct_rows_lt_10,
             |  CAST(SUM(CASE WHEN ldiv = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS classes_ldiv1
             |FROM classes""".stripMargin)),

    // Stratified (direct-adjustment) average treatment effect — the
    // simplest causal estimator observational pipelines run when the
    // naive group contrast is confounded by a covariate: stratify on
    // order year, take the treated-vs-control mean difference WITHIN
    // each stratum, and weight by stratum size. Treatment = 1-URGENT
    // orders, control = 5-LOW, outcome = total price. Strata missing
    // either arm are dropped (standard positivity trim) and n_used
    // reports what survived. Scale shape: one groupBy at |years|
    // cardinality over exact cents; every division happens on the
    // year-bounded aggregate, each stratum term round9'd and
    // DECIMAL-summed so the weighted mean is order-free. Divisors are
    // CASE-guarded (no engine-dependent x/0).
    Q("stat_stratified_ate",
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
          .withColumn("yr", year(col("o_orderdate")))
          .withColumn("t", col("o_orderpriority") === "1-URGENT")
          .withColumn("cents", cents(col("o_totalprice")))
        val strata = o.groupBy("yr").agg(
            sum(when(col("t"), 1L).otherwise(0L)).as("nt"),
            sum(when(col("t"), col("cents")).otherwise(0L)).as("st"),
            sum(when(!col("t"), 1L).otherwise(0L)).as("nc"),
            sum(when(!col("t"), col("cents")).otherwise(0L)).as("sc"))
          .filter(col("nt") > 0 && col("nc") > 0)
        strata.agg(
            count(lit(1)).as("n_strata"),
            sum(col("nt") + col("nc")).as("n_used"),
            sum("st").as("sts"), sum("nt").as("nts"),
            sum("sc").as("scs"), sum("nc").as("ncs"),
            sum(round((col("st").cast("double") / col("nt") -
                col("sc").cast("double") / col("nc")) *
                (col("nt") + col("nc")).cast("double"), 9)
              .cast("decimal(38,9)")).as("wsum"))
          .select(col("n_strata"), col("n_used"),
            round((col("sts").cast("double") /
              when(col("nts") > 0, col("nts")) -
              col("scs").cast("double") /
                when(col("ncs") > 0, col("ncs"))) / 100.0, 4)
              .as("ate_naive"),
            round(col("wsum").cast("double") /
              when(col("n_used") > 0, col("n_used")).cast("double") /
              100.0, 4).as("ate_stratified"))
      },
      Some(s"""WITH o AS (
             |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
             |    o_orderpriority = '1-URGENT' AS t,
             |    ${SQL_CENTS("o_totalprice")}
             |      AS cents
             |  FROM orders
             |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
             |strata AS (
             |  SELECT yr,
             |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             |    CAST(SUM(CASE WHEN t THEN cents ELSE 0 END) AS BIGINT)
             |      AS st,
             |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
             |      AS nc,
             |    CAST(SUM(CASE WHEN NOT t THEN cents ELSE 0 END) AS BIGINT)
             |      AS sc
             |  FROM o GROUP BY yr
             |  HAVING SUM(CASE WHEN t THEN 1 ELSE 0 END) > 0
             |    AND SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) > 0)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
             |  CAST(SUM(nt + nc) AS BIGINT) AS n_used,
             |  ROUND((CAST(SUM(st) AS DOUBLE)
             |      / (CASE WHEN SUM(nt) > 0 THEN SUM(nt) END)
             |    - CAST(SUM(sc) AS DOUBLE)
             |      / (CASE WHEN SUM(nc) > 0 THEN SUM(nc) END)) / 100.0, 4)
             |    AS ate_naive,
             |  ROUND(CAST(SUM(CAST(ROUND((CAST(st AS DOUBLE) / nt
             |        - CAST(sc AS DOUBLE) / nc)
             |      * CAST(nt + nc AS DOUBLE), 9) AS DECIMAL(38,9)))
             |      AS DOUBLE)
             |    / CAST((CASE WHEN SUM(nt + nc) > 0 THEN SUM(nt + nc) END)
             |      AS DOUBLE) / 100.0, 4) AS ate_stratified
             |FROM strata""".stripMargin)),

    // CUPED variance reduction (Deng et al. 2013) — the pre-experiment
    // covariate adjustment every mature A/B platform applies before
    // reading an experiment: per user, pre-period spend X (events
    // before Jan 16) predicts post-period spend Y, and the adjusted
    // contrast Y − θ(X − X̄) removes the predictable variance,
    // θ = cov(X,Y)/var(X). Treatment is the deterministic md5 user
    // coin. Everything reduces from ONE user-keyed aggregate followed
    // by a 2-arm + pooled-moment reduce: Σx, Σy, Σxy, Σx², Σy² as
    // exact DECIMAL(38,0) sums of integer cents (long·long would
    // overflow at 100 TB user counts), so θ, the adjusted diff
    // (closed form: diff_naive − θ·covariate diff — no second pass),
    // and the variance-reduction ratio corr²(X,Y) are all determined
    // by exact integers. Divisors CASE-guarded.
    Q("stat_cuped",
      (s, d) => {
        val cut = lit("2024-01-16").cast("timestamp")
        val u = Tables.events(s, d)
          .withColumn("cents", cents(col("value")))
          .groupBy("user_id")
          .agg(sum(when(col("ts") < cut, col("cents")).otherwise(0L))
            .as("x"),
            sum(when(col("ts") >= cut, col("cents")).otherwise(0L))
              .as("y"))
          .withColumn("t",
            conv(substring(md5(concat(lit("cuped:"),
              col("user_id").cast("string"))), 1, 15), 16, 10)
              .cast("long") % 2 === 1)
        val m = u.agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum((col("x").cast("decimal(19,0)") * col("y"))
            .cast("decimal(38,0)")).as("sxy"),
          sum((col("x").cast("decimal(19,0)") * col("x"))
            .cast("decimal(38,0)")).as("sxx"),
          sum((col("y").cast("decimal(19,0)") * col("y"))
            .cast("decimal(38,0)")).as("syy"),
          sum(when(col("t"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("t"), col("x")).otherwise(0L)).as("sx1"),
          sum(when(col("t"), col("y")).otherwise(0L)).as("sy1"),
          sum(when(!col("t"), 1L).otherwise(0L)).as("n0"),
          sum(when(!col("t"), col("x")).otherwise(0L)).as("sx0"),
          sum(when(!col("t"), col("y")).otherwise(0L)).as("sy0"))
        def d_(c: Column) = c.cast("double")
        val covN = d_(col("n")) * d_(col("sxy")) - d_(col("sx")) * d_(col("sy"))
        val varxN = d_(col("n")) * d_(col("sxx")) - d_(col("sx")) * d_(col("sx"))
        val varyN = d_(col("n")) * d_(col("syy")) - d_(col("sy")) * d_(col("sy"))
        val theta = covN / when(varxN > 0, varxN)
        val diffY = d_(col("sy1")) / when(col("n1") > 0, col("n1")) -
          d_(col("sy0")) / when(col("n0") > 0, col("n0"))
        val diffX = d_(col("sx1")) / when(col("n1") > 0, col("n1")) -
          d_(col("sx0")) / when(col("n0") > 0, col("n0"))
        m.select(col("n").as("n_users"), col("n1").as("n_treat"),
          col("n0").as("n_ctrl"),
          round(theta, 6).as("theta"),
          round(diffY / 100.0, 4).as("diff_naive"),
          round((diffY - theta * diffX) / 100.0, 4).as("diff_cuped"),
          round(covN * covN /
            when(varxN > 0, varxN) / when(varyN > 0, varyN), 6)
            .as("var_reduction"))
      },
      Some(s"""WITH u AS (
             |  SELECT user_id,
             |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN cents
             |      ELSE 0 END) AS BIGINT) AS x,
             |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN cents
             |      ELSE 0 END) AS BIGINT) AS y
             |  FROM (SELECT user_id, ts,
             |      ${SQL_CENTS("value")}
             |        AS cents FROM events) e
             |  GROUP BY user_id),
             |ut AS (
             |  SELECT *,
             |    (${SQL_HEX15("md5('cuped:' || CAST(user_id AS VARCHAR))")} % 2) = 1 AS t
             |  FROM u),
             |m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             |    SUM(CAST(x AS DECIMAL(19,0)) * y) AS sxy,
             |    SUM(CAST(x AS DECIMAL(19,0)) * x) AS sxx,
             |    SUM(CAST(y AS DECIMAL(19,0)) * y) AS syy,
             |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |    CAST(SUM(CASE WHEN t THEN x ELSE 0 END) AS BIGINT) AS sx1,
             |    CAST(SUM(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS sy1,
             |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n0,
             |    CAST(SUM(CASE WHEN NOT t THEN x ELSE 0 END) AS BIGINT)
             |      AS sx0,
             |    CAST(SUM(CASE WHEN NOT t THEN y ELSE 0 END) AS BIGINT)
             |      AS sy0
             |  FROM ut),
             |e AS (
             |  SELECT *,
             |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
             |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varxn,
             |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS varyn,
             |    CAST(sy1 AS DOUBLE) / (CASE WHEN n1 > 0 THEN n1 END)
             |      - CAST(sy0 AS DOUBLE) / (CASE WHEN n0 > 0 THEN n0 END)
             |      AS diffy,
             |    CAST(sx1 AS DOUBLE) / (CASE WHEN n1 > 0 THEN n1 END)
             |      - CAST(sx0 AS DOUBLE) / (CASE WHEN n0 > 0 THEN n0 END)
             |      AS diffx
             |  FROM m)
             |SELECT n AS n_users, n1 AS n_treat, n0 AS n_ctrl,
             |  ROUND(covn / (CASE WHEN varxn > 0 THEN varxn END), 6)
             |    AS theta,
             |  ROUND(diffy / 100.0, 4) AS diff_naive,
             |  ROUND((diffy - covn / (CASE WHEN varxn > 0 THEN varxn END)
             |    * diffx) / 100.0, 4) AS diff_cuped,
             |  ROUND(covn * covn / (CASE WHEN varxn > 0 THEN varxn END)
             |    / (CASE WHEN varyn > 0 THEN varyn END), 6)
             |    AS var_reduction
             |FROM e""".stripMargin)),

    // Fixed-effect inverse-variance meta-analysis over the per-year
    // urgent-vs-low price contrasts (the stat_stratified_ate strata,
    // now each treated as an independent "study"): pooled effect
    // Σwᵢdᵢ/Σwᵢ with wᵢ = 1/Var(dᵢ), its standard error √(1/Σw),
    // Cochran's heterogeneity Q = Σw d² − (Σwd)²/Σw, and
    // I² = max(0, (Q − df)/Q) — the question "do the yearly effects
    // agree, or is the pooled number hiding heterogeneity?". Strata
    // need both arms with n ≥ 2 (a variance exists). Per-stratum
    // moments are exact cents; w/wd/wd² terms are computed in UNITS
    // (cents² weights would vanish under round9), rounded to 9 dp and
    // DECIMAL-summed over the ≤|years| rows, so the pooled statistics
    // are order-free and bit-equal across engines.
    Q("stat_meta_analysis",
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
          .withColumn("yr", year(col("o_orderdate")))
          .withColumn("t", col("o_orderpriority") === "1-URGENT")
          .withColumn("cents", cents(col("o_totalprice")))
        val strata = o.groupBy("yr").agg(
            sum(when(col("t"), 1L).otherwise(0L)).as("nt"),
            sum(when(col("t"), col("cents")).otherwise(0L)).as("st"),
            sum(when(col("t"), col("cents") * col("cents")).otherwise(0L))
              .as("qt"),
            sum(when(!col("t"), 1L).otherwise(0L)).as("nc"),
            sum(when(!col("t"), col("cents")).otherwise(0L)).as("sc"),
            sum(when(!col("t"), col("cents") * col("cents")).otherwise(0L))
              .as("qc"))
          .filter(col("nt") > 1 && col("nc") > 1)
        def d_(c: Column) = c.cast("double")
        val vT = (d_(col("nt")) * d_(col("qt")) - d_(col("st")) * d_(col("st"))) /
          (d_(col("nt")) * (col("nt") - 1).cast("double")) / 10000.0
        val vC = (d_(col("nc")) * d_(col("qc")) - d_(col("sc")) * d_(col("sc"))) /
          (d_(col("nc")) * (col("nc") - 1).cast("double")) / 10000.0
        val eff = (d_(col("st")) / col("nt") - d_(col("sc")) / col("nc")) / 100.0
        val varD = vT / col("nt") + vC / col("nc")
        val w = lit(1.0) / when(varD > 0, varD)
        val terms = strata.select(
          round(w, 9).cast("decimal(28,9)").as("w"),
          round(w * eff, 9).cast("decimal(28,9)").as("wd"),
          round(w * eff * eff, 9).cast("decimal(28,9)").as("wd2"))
        val agg0 = terms.agg(count(lit(1)).as("k"),
          sum("w").as("sw"), sum("wd").as("swd"), sum("wd2").as("swd2"))
        val sw = col("sw").cast("double")
        val swd = col("swd").cast("double")
        val q = col("swd2").cast("double") - swd * swd / when(sw > 0, sw)
        agg0.select(col("k").as("k_strata"),
          round(swd / when(sw > 0, sw), 4).as("pooled_effect"),
          round(sqrt(lit(1.0) / when(sw > 0, sw)), 4).as("se_pooled"),
          round(q, 4).as("q_stat"),
          round(greatest(lit(0.0),
            (q - (col("k") - 1).cast("double")) / when(q > 0, q)), 6)
            .as("i2"))
      },
      Some(s"""WITH o AS (
             |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
             |    o_orderpriority = '1-URGENT' AS t,
             |    ${SQL_CENTS("o_totalprice")}
             |      AS cents
             |  FROM orders
             |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
             |strata AS (
             |  SELECT yr,
             |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             |    CAST(SUM(CASE WHEN t THEN cents ELSE 0 END) AS BIGINT)
             |      AS st,
             |    CAST(SUM(CASE WHEN t THEN cents * cents ELSE 0 END)
             |      AS BIGINT) AS qt,
             |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
             |      AS nc,
             |    CAST(SUM(CASE WHEN NOT t THEN cents ELSE 0 END) AS BIGINT)
             |      AS sc,
             |    CAST(SUM(CASE WHEN NOT t THEN cents * cents ELSE 0 END)
             |      AS BIGINT) AS qc
             |  FROM o GROUP BY yr
             |  HAVING SUM(CASE WHEN t THEN 1 ELSE 0 END) > 1
             |    AND SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) > 1),
             |terms AS (
             |  SELECT
             |    CAST(ROUND(w, 9) AS DECIMAL(28,9)) AS w,
             |    CAST(ROUND(w * eff, 9) AS DECIMAL(28,9)) AS wd,
             |    CAST(ROUND(w * eff * eff, 9) AS DECIMAL(28,9)) AS wd2
             |  FROM (
             |    SELECT
             |      1.0 / (CASE WHEN vd > 0 THEN vd END) AS w, eff
             |    FROM (
             |      SELECT
             |        ((CAST(nt AS DOUBLE) * CAST(qt AS DOUBLE)
             |          - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
             |          / (CAST(nt AS DOUBLE) * CAST(nt - 1 AS DOUBLE))
             |          / 10000.0) / nt
             |        + ((CAST(nc AS DOUBLE) * CAST(qc AS DOUBLE)
             |          - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
             |          / (CAST(nc AS DOUBLE) * CAST(nc - 1 AS DOUBLE))
             |          / 10000.0) / nc AS vd,
             |        (CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc)
             |          / 100.0 AS eff
             |      FROM strata) v) ww),
             |agg0 AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |    CAST(SUM(w) AS DOUBLE) AS sw,
             |    CAST(SUM(wd) AS DOUBLE) AS swd,
             |    CAST(SUM(wd2) AS DOUBLE) AS swd2
             |  FROM terms)
             |SELECT k AS k_strata,
             |  ROUND(swd / (CASE WHEN sw > 0 THEN sw END), 4)
             |    AS pooled_effect,
             |  ROUND(sqrt(1.0 / (CASE WHEN sw > 0 THEN sw END)), 4)
             |    AS se_pooled,
             |  ROUND(swd2 - swd * swd / (CASE WHEN sw > 0 THEN sw END), 4)
             |    AS q_stat,
             |  ROUND(greatest(0.0, (swd2 - swd * swd
             |      / (CASE WHEN sw > 0 THEN sw END)
             |      - CAST(k - 1 AS DOUBLE))
             |    / (CASE WHEN (swd2 - swd * swd
             |      / (CASE WHEN sw > 0 THEN sw END)) > 0
             |      THEN swd2 - swd * swd / (CASE WHEN sw > 0 THEN sw END)
             |      END)), 6) AS i2
             |FROM agg0""".stripMargin)),

    // Krippendorff's alpha (nominal, 3 complete raters) — the
    // annotation-agreement statistic labeling pipelines report when
    // more than two raters judge each unit (Cohen's kappa, already in
    // stat_cohens_kappa, stops at two). Raters are deterministic:
    // each rater's label is the document's base class (n_chars mod 3)
    // flipped to an md5-derived label on a 1-in-5 hash coin — so the
    // fixture has real but imperfect agreement. With m = 3 raters and
    // unit-label counts n_uc, the observed disagreement per unit is
    // m(m−1) − Σc n_uc(n_uc−1) = 9 − Σc n_uc² + … reduced here as
    // 9 − Σ n_uc² over the (doc, label) count table, and expected
    // disagreement comes from the global label margins:
    // De = (N² − Σc n_c²)/(N(N−1)), N = 3n. α = 1 − Do/De. Every
    // intermediate is an exact BIGINT (counts and squares of counts),
    // so α is one guarded division of exact integers — bit-equal
    // across engines, no float accumulation anywhere. Linear scans,
    // label-bounded state.
    Q("stat_krippendorff_alpha",
      (s, d) => {
        val ratings = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            explode(sequence(lit(1), lit(3))).as("rater"))
          .withColumn("h",
            conv(substring(md5(concat(lit("kripp:"),
              col("doc_id").cast("string"), lit(":"),
              col("rater").cast("string"))), 1, 15), 16, 10)
              .cast("long"))
          .withColumn("label",
            when(col("h") % 5 === 0, shiftright(col("h"), 3) % 3)
              .otherwise(col("n_chars") % 3))
        val uc = ratings.groupBy("doc_id", "label")
          .agg(count(lit(1)).as("nuc"))
        val doAgg = uc.groupBy("doc_id")
          .agg((lit(9L) - sum(col("nuc") * col("nuc"))).as("dis"))
          .agg(count(lit(1)).as("n_units"), sum("dis").as("dnum"))
        val de = ratings.groupBy("label").agg(count(lit(1)).as("nc"))
          .agg(sum("nc").as("nn"), sum(col("nc") * col("nc")).as("sq"))
        val dObs = col("dnum").cast("double") /
          (col("n_units") * 6).cast("double")
        val dExp = (col("nn") * col("nn") - col("sq")).cast("double") /
          (col("nn") * (col("nn") - 1)).cast("double")
        doAgg.crossJoin(broadcast(de))
          .select(col("n_units"),
            round(dObs, 6).as("d_obs"),
            round(dExp, 6).as("d_exp"),
            round(lit(1.0) - dObs / when(dExp > 0, dExp), 6).as("alpha"))
      },
      Some(s"""WITH r AS (
              |  SELECT doc_id, n_chars,
              |    unnest(generate_series(1, 3)) AS rater
              |  FROM documents),
              |lab AS (
              |  SELECT doc_id,
              |    CASE WHEN h % 5 = 0 THEN (h >> 3) % 3
              |      ELSE n_chars % 3 END AS label
              |  FROM (SELECT doc_id, n_chars,
              |      ${SQL_HEX15("md5('kripp:' || CAST(doc_id AS VARCHAR) || ':' || CAST(rater AS VARCHAR))")} AS h
              |    FROM r) t),
              |uc AS (
              |  SELECT doc_id, label, CAST(COUNT(*) AS BIGINT) AS nuc
              |  FROM lab GROUP BY 1, 2),
              |do_ AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
              |    CAST(SUM(dis) AS BIGINT) AS dnum
              |  FROM (SELECT doc_id, 9 - SUM(nuc * nuc) AS dis
              |    FROM uc GROUP BY doc_id) p),
              |de AS (
              |  SELECT CAST(SUM(nc) AS BIGINT) AS nn,
              |    CAST(SUM(nc * nc) AS BIGINT) AS sq
              |  FROM (SELECT label, CAST(COUNT(*) AS BIGINT) AS nc
              |    FROM lab GROUP BY label) g)
              |SELECT n_units,
              |  ROUND(CAST(dnum AS DOUBLE) / CAST(n_units * 6 AS DOUBLE), 6)
              |    AS d_obs,
              |  ROUND(CAST(nn * nn - sq AS DOUBLE)
              |    / CAST(nn * (nn - 1) AS DOUBLE), 6) AS d_exp,
              |  ROUND(1.0 - (CAST(dnum AS DOUBLE)
              |      / CAST(n_units * 6 AS DOUBLE))
              |    / (CASE WHEN (CAST(nn * nn - sq AS DOUBLE)
              |        / CAST(nn * (nn - 1) AS DOUBLE)) > 0
              |      THEN CAST(nn * nn - sq AS DOUBLE)
              |        / CAST(nn * (nn - 1) AS DOUBLE) END), 6) AS alpha
              |FROM do_, de""".stripMargin))
  )
}
