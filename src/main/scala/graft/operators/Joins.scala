package graft.operators

import graft.{Ops, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.C — joins.
  *
  * Scale notes: dimension tables (region 5, nation 25, supplier sf*1e3)
  * are explicitly `broadcast()` — no shuffle of the fact side for those
  * edges. The customer⋈orders⋈lineitem spine shuffles on its keys
  * (sort-merge at scale, AQE may downgrade to broadcast when small);
  * that is the correct 100 TB plan: one key-partitioned exchange per
  * fact-fact edge, dims shipped to executors.
  */
object Joins {
  import Ops._

  val queries: Seq[Q] = Seq(
    // TPC-H Q5 shape — also the flagship `entry()`.
    Q("join_star_5way",
      (s, d) => {
        val cust = Tables.customer(s, d)
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val li = Tables.lineitem(s, d)
        val sup = Tables.supplier(s, d)
        val nat = Tables.nation(s, d)
        val reg = Tables.region(s, d).filter(col("r_name") === "ASIA")
        cust.join(ord, col("c_custkey") === col("o_custkey"))
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(dsumExact(revenueDec(col("l_extendedprice"), col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some(s"""SELECT n_name, ${SQL_DSUM_EXACT(SQL_REV_DEC)} AS revenue
              |FROM customer
              |JOIN orders ON c_custkey = o_custkey
              |JOIN lineitem ON o_orderkey = l_orderkey
              |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
              |GROUP BY n_name
              |ORDER BY revenue DESC, n_name""".stripMargin)),

    Q("join_broadcast_dim",
      (s, d) => Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_totalprice"))
        .orderBy("r_name"),
      Some(s"""SELECT r_name, COUNT(*) AS n_orders, ${SQL_DSUM("o_totalprice")} AS sum_totalprice
              |FROM orders
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    Q("join_sortmerge_fact",
      (s, d) => Tables.lineitem(s, d)
        .hint("MERGE")
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("o_orderdate").cast("date").as("order_day"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, CAST(o_orderdate AS DATE) AS order_day, l_quantity
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("join_shufflehash",
      (s, d) => Tables.lineitem(s, d)
        .hint("SHUFFLE_HASH")
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority"),
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_lines, ${SQL_DSUM("l_extendedprice")} AS sum_price
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    Q("join_left_outer",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, COUNT(o_orderkey) AS n_orders
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    Q("join_full_outer",
      (s, d) => {
        val partKeys = Tables.part(s, d).select(col("p_partkey"))
        val liKeys = Tables.lineitem(s, d).select(col("l_partkey")).distinct()
        partKeys.join(liKeys, col("p_partkey") === col("l_partkey"), "full")
          .select(
            coalesce(col("p_partkey"), col("l_partkey")).as("partkey"),
            col("p_partkey").isNull.as("missing_in_part"),
            col("l_partkey").isNull.as("never_shipped"))
          .orderBy("partkey")
      },
      Some("""SELECT COALESCE(p_partkey, l_partkey) AS partkey,
             |p_partkey IS NULL AS missing_in_part,
             |l_partkey IS NULL AS never_shipped
             |FROM (SELECT p_partkey FROM part) p
             |FULL OUTER JOIN (SELECT DISTINCT l_partkey FROM lineitem) l
             |ON p_partkey = l_partkey
             |ORDER BY partkey""".stripMargin)),

    Q("join_left_semi",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // Anti-join against the URGENT subset, not all orders: at sf0.01
    // every customer has SOME order, so the unfiltered anti-join
    // hash-matched the oracle on the empty set — a vacuous check
    // (round-6 verdict "What's wrong #1"). Filtering the right side
    // leaves ~14% survivors, so the driver verifies real rows while the
    // plan shape (filter pushed below the anti-join build side) is the
    // one that matters at scale anyway.
    Q("join_left_anti",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)),

    // Null-safe equi-join (<=> ↔ IS NOT DISTINCT FROM): the "nullable
    // dimension key" case — rows whose key is NULL join the dimension's
    // NULL row instead of silently dropping (what a plain equi-join
    // does). BUILDING is nulled on both sides to manufacture the case;
    // the dim side is a distinct-derived 5-row table, broadcast. The
    // null-safe operator still hash-partitions (null is just a key
    // value), so scale shape = any broadcast dim join.
    Q("join_nullsafe",
      (s, d) => {
        val segOrNull = when(col("c_mktsegment") === "BUILDING",
          lit(null: String)).otherwise(col("c_mktsegment"))
        val fact = Tables.customer(s, d).withColumn("seg", segOrNull)
        val dim = fact.select(col("seg").as("dim_seg")).distinct()
        fact.join(broadcast(dim), col("seg") <=> col("dim_seg"))
          .groupBy("dim_seg")
          .agg(count(lit(1)).as("n_customers"),
            dsum(col("c_acctbal")).as("sum_bal"))
          .orderBy(col("dim_seg").asc_nulls_first)
      },
      Some(s"""SELECT d.dim_seg, COUNT(*) AS n_customers,
              |${SQL_DSUM("c.c_acctbal")} AS sum_bal
              |FROM (SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg, c_acctbal
              |      FROM customer) c
              |JOIN (SELECT DISTINCT NULLIF(c_mktsegment, 'BUILDING') AS dim_seg
              |      FROM customer) d
              |  ON c.seg IS NOT DISTINCT FROM d.dim_seg
              |GROUP BY d.dim_seg ORDER BY d.dim_seg NULLS FIRST""".stripMargin)),

    Q("join_cross",
      (s, d) => Tables.region(s, d)
        .crossJoin(Tables.nation(s, d))
        .select(col("r_name"), col("n_name"))
        .orderBy("r_name", "n_name"),
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
             |ORDER BY r_name, n_name""".stripMargin)),

    // Band join. Scale note: the naive plan is a quadratic nested-loop
    // cross product; instead we bucket both sides by floor(acctbal/width)
    // and equi-join each supplier bucket against {b-1, b, b+1} — the
    // standard distributed band-join, shuffle-partitioned by bucket.
    Q("join_theta_band",
      (s, d) => {
        val width = 100
        val sup = Tables.supplier(s, d)
          .withColumn("bucket",
            explode(array(
              floor(col("s_acctbal") / width) - 1,
              floor(col("s_acctbal") / width),
              floor(col("s_acctbal") / width) + 1)))
        val cust = Tables.customer(s, d)
          .withColumn("bucket", floor(col("c_acctbal") / width))
        sup.join(cust, Seq("bucket"))
          .filter(abs(col("s_acctbal") - col("c_acctbal")) < width)
          .select(col("s_suppkey"), col("c_custkey"), col("s_acctbal"), col("c_acctbal"))
          .distinct() // a pair can match via two adjacent buckets
          .orderBy("s_suppkey", "c_custkey")
      },
      Some("""SELECT DISTINCT s_suppkey, c_custkey, s_acctbal, c_acctbal
             |FROM supplier JOIN customer ON abs(s_acctbal - c_acctbal) < 100
             |ORDER BY s_suppkey, c_custkey""".stripMargin)),

    Q("join_range_interval",
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_lines_90d"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, COUNT(*) AS n_lines_90d
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  AND l_shipdate >= o_orderdate
             |  AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
             |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)),

    // As-of join, Spark-first: no native asof, so instead of a self-join
    // we take the running "latest signup ts" per user with a window —
    // one shuffle on user_id, linear at any scale (DuckDB cross-checks
    // with its native ASOF JOIN).
    Q("join_asof_events",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("signup_ts",
            last(when(col("event_type") === "signup", col("ts")), ignoreNulls = true).over(w))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
            date_format(col("signup_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("signup_ts_str"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, e.user_id,
             |strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
             |strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts_str
             |FROM events e
             |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
             |  ON e.user_id = s.user_id AND e.ts >= s.ts
             |ORDER BY e.event_id""".stripMargin)),

    // As-of join WITH TOLERANCE (the pandas merge_asof(tolerance=...)
    // surface): each purchase matched to its user's most recent click,
    // but only if that click is ≤10 minutes old — older matches null
    // out rather than attribute. Same one-window-sort backward-as-of
    // device as join_asof_events; the tolerance is a post-match µs
    // comparison (exact integers), so the plan cost is identical to
    // the untolerated join and the dial is free. DuckDB mirrors with
    // ASOF LEFT JOIN + the same epoch-µs gate.
    Q("join_asof_tolerance",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val TOL_US = 10L * 60 * 1000000
        Tables.events(s, d)
          .withColumn("click_ts",
            last(when(col("event_type") === "click", col("ts")),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .withColumn("attributed",
            col("click_ts").isNotNull &&
              expr("unix_micros(ts) - unix_micros(click_ts)") <= TOL_US)
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
            when(col("attributed"),
              date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
              .as("click_ts_str"),
            col("attributed"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, e.user_id,
             |  strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
             |  CASE WHEN c.ts IS NOT NULL
             |         AND epoch_us(e.ts) - epoch_us(c.ts) <= 600000000
             |       THEN strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') END AS click_ts_str,
             |  c.ts IS NOT NULL
             |    AND epoch_us(e.ts) - epoch_us(c.ts) <= 600000000 AS attributed
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') e
             |ASOF LEFT JOIN (SELECT user_id, ts FROM events
             |                WHERE event_type = 'click') c
             |  ON e.user_id = c.user_id AND e.ts >= c.ts
             |ORDER BY e.event_id""".stripMargin)),

    // Interval join with NO equi key — the case join_range_interval's
    // order-key equi-join never hits, and the one a naive plan turns
    // into a nested-loop cross product. The GRID-BUCKET device makes
    // it an equi-join: time is cut into fixed 7-day cells, each
    // interval EXPLODES into the cells it overlaps (≤2 here — the
    // explosion factor is interval_len/grid + 1, the tuning dial),
    // each point maps to its single cell, the join is a plain
    // shuffle equi-join on the cell id, and the exact containment
    // predicate verifies survivors. A point's cell is unique, so no
    // pair dedup is needed. Promo-window semantics: ~1% of orders
    // open a 7-day window; count lineitem shipments falling inside.
    // Oracle cell id uses epoch()/604800 rather than date_diff()//7:
    // date_diff's return type changed across DuckDB versions (newer
    // releases bind it as INTERVAL, breaking `// 7`), while epoch()
    // is a number everywhere; the fixture timestamps are midnight-
    // aligned so the two cell formulas are identical.
    Q("join_interval_bucketed",
      (s, d) => {
        val GRID = 7
        val day0 = lit("1970-01-01")
        val windows = Tables.orders(s, d)
          .filter(col("o_orderkey") % 97 === 0)
          .select(col("o_orderkey"), col("o_orderdate").as("w_start"),
            expr("o_orderdate + INTERVAL 7 DAYS").as("w_end"))
          .withColumn("cell", explode(sequence(
            (datediff(col("w_start"), day0) / GRID).cast("long"),
            (datediff(col("w_end"), day0) / GRID).cast("long"))))
        val points = Tables.lineitem(s, d)
          .select(col("l_shipdate"))
          .withColumn("cell",
            (datediff(col("l_shipdate"), day0) / GRID).cast("long"))
        windows.join(points, Seq("cell"), "left")
          .withColumn("hit",
            when(col("l_shipdate").isNotNull &&
              col("l_shipdate") >= col("w_start") &&
              col("l_shipdate") <= col("w_end"), 1L).otherwise(0L))
          .groupBy("o_orderkey")
          .agg(sum("hit").as("n_shipments_in_window"))
          .orderBy("o_orderkey")
      },
      Some("""WITH w AS (
             |  SELECT o_orderkey, o_orderdate AS w_start,
             |    o_orderdate + INTERVAL 7 DAY AS w_end
             |  FROM orders WHERE o_orderkey % 97 = 0),
             |wc AS (
             |  SELECT o_orderkey, w_start, w_end, c AS cell
             |  FROM w, unnest(generate_series(
             |    CAST(floor(epoch(w_start) / 604800.0) AS BIGINT),
             |    CAST(floor(epoch(w_end) / 604800.0) AS BIGINT))) t(c)),
             |p AS (
             |  SELECT l_shipdate,
             |    CAST(floor(epoch(l_shipdate) / 604800.0) AS BIGINT) AS cell
             |  FROM lineitem)
             |SELECT wc.o_orderkey,
             |  CAST(SUM(CASE WHEN p.l_shipdate IS NOT NULL
             |    AND p.l_shipdate >= wc.w_start
             |    AND p.l_shipdate <= wc.w_end THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_shipments_in_window
             |FROM wc LEFT JOIN p USING (cell)
             |GROUP BY wc.o_orderkey ORDER BY wc.o_orderkey""".stripMargin)),

    // NEAREST-in-time as-of (both directions, ties → earlier): each
    // event matched to its user's closest purchase event, the feature-
    // store variant backward-only as-of can't express. Two window
    // passes over ONE user-keyed sort (last purchase ≤ t, first
    // purchase ≥ t), then an exact integer micros comparison picks the
    // nearer side — no interval arithmetic, no float. Null-safe at
    // series edges (users before their first / after their last
    // purchase take the only candidate).
    Q("join_asof_nearest",
      (s, d) => {
        val wPrev = Window.partitionBy("user_id").orderBy("ts")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wNext = Window.partitionBy("user_id").orderBy("ts")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val p = when(col("event_type") === "purchase", col("ts"))
        Tables.events(s, d)
          .withColumn("prev_p", last(p, ignoreNulls = true).over(wPrev))
          .withColumn("next_p", first(p, ignoreNulls = true).over(wNext))
          .withColumn("nearest",
            when(col("prev_p").isNull, col("next_p"))
              .when(col("next_p").isNull, col("prev_p"))
              .when(expr("unix_micros(ts) - unix_micros(prev_p)") <=
                expr("unix_micros(next_p) - unix_micros(ts)"), col("prev_p"))
              .otherwise(col("next_p")))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
            date_format(col("nearest"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("nearest_purchase_str"),
            expr("abs(unix_micros(ts) - unix_micros(nearest))").as("dist_us"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
             |  strftime(nearest, '%Y-%m-%d %H:%M:%S.%f') AS nearest_purchase_str,
             |  abs(epoch_us(ts) - epoch_us(nearest)) AS dist_us
             |FROM (
             |  SELECT event_id, user_id, ts,
             |    CASE WHEN prev_p IS NULL THEN next_p
             |         WHEN next_p IS NULL THEN prev_p
             |         WHEN epoch_us(ts) - epoch_us(prev_p)
             |              <= epoch_us(next_p) - epoch_us(ts) THEN prev_p
             |         ELSE next_p END AS nearest
             |  FROM (
             |    SELECT event_id, user_id, ts,
             |      last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
             |        OVER (PARTITION BY user_id ORDER BY ts
             |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_p,
             |      first_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
             |        OVER (PARTITION BY user_id ORDER BY ts
             |              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_p
             |    FROM events) w) n
             |ORDER BY event_id""".stripMargin)),

    // Same as-of semantics as join_asof_events, but through the engine's
    // NATIVE operator stack: AsOfJoin logical node → AsOfJoinStrategy →
    // AsOfJoinExec (ClusteredDistribution + (key,ts) ordering, streamed
    // two-pointer merge). DuckDB's native ASOF JOIN is the oracle.
    Q("join_asof_native",
      (s, d) => {
        val ev = Tables.events(s, d)
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts").as("signup_ts"))
        graft.plans.AsOf.join(
            ev.select(col("event_id"), col("user_id"), col("ts")),
            signups, key = "user_id", leftTs = "ts", rightTs = "signup_ts")
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
            date_format(col("signup_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("signup_ts_str"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, e.user_id,
             |strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
             |strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts_str
             |FROM events e
             |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
             |  ON e.user_id = s.user_id AND e.ts >= s.ts
             |ORDER BY e.event_id""".stripMargin)),

    // Skew-mitigation pattern: a hot-key fact⋈dim join salted 8 ways —
    // the fact side gets a pseudo-random salt, the dim side is
    // replicated once per salt value, and the join key becomes
    // (key, salt). Same rows as the plain join (the oracle), but no
    // single reducer owns a hot key at scale.
    Q("join_skew_salted",
      (s, d) => {
        val salts = 8
        val fact = Tables.events(s, d)
          .withColumn("salt", pmod(col("event_id"), lit(salts)))
        val dim = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
          .withColumn("salt", explode(array((0 until salts).map(lit(_)): _*)))
        fact.join(dim,
            col("user_id") === col("c_custkey") && fact("salt") === dim("salt"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
          .orderBy("c_mktsegment")
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_events, ${SQL_DSUM("value")} AS sum_value
              |FROM events JOIN customer ON user_id = c_custkey
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // SCD-2 style snapshot merge (the MERGE INTO shape without a
    // transactional table format): classify every key across two
    // snapshot generations as insert / update / delete / unchanged via
    // ONE full-outer join on the business key, and emit the change
    // rows a slowly-changing-dimension writer would append. The two
    // "snapshots" are deterministic slices of customer (new snapshot
    // drops custkey%17==0, adds a +100 balance adjustment to
    // custkey%5==0). One shuffle on the merge key at any scale; change
    // detection is pure column comparison — the shape stays linear no
    // matter how wide the dimension gets.
    Q("join_scd2_merge",
      (s, d) => {
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"),
            col("c_acctbal").cast("decimal(18,2)").as("bal"))
        val oldSnap = cust.filter(col("c_custkey") % 10 < 8)
        val newSnap = cust.filter(col("c_custkey") % 17 =!= 0)
          .withColumn("bal",
            when(col("c_custkey") % 5 === 0,
              col("bal") + lit(100).cast("decimal(18,2)"))
              .otherwise(col("bal")))
        oldSnap.as("o").join(newSnap.as("n"),
            col("o.c_custkey") === col("n.c_custkey"), "full_outer")
          .withColumn("action",
            when(col("o.c_custkey").isNull, "insert")
              .when(col("n.c_custkey").isNull, "delete")
              .when(col("o.bal") =!= col("n.bal"), "update")
              .otherwise("unchanged"))
          .groupBy("action")
          .agg(count(lit(1)).as("n_keys"),
            sum(coalesce(col("n.bal"), lit(0).cast("decimal(18,2)")))
              .cast("double").as("new_bal_total"))
          .orderBy("action")
      },
      Some("""WITH cust AS (
             |  SELECT c_custkey, c_mktsegment,
             |    CAST(c_acctbal AS DECIMAL(18,2)) AS bal
             |  FROM customer),
             |o AS (SELECT * FROM cust WHERE c_custkey % 10 < 8),
             |n AS (
             |  SELECT c_custkey, c_mktsegment,
             |    CASE WHEN c_custkey % 5 = 0
             |      THEN bal + CAST(100 AS DECIMAL(18,2)) ELSE bal END AS bal
             |  FROM cust WHERE c_custkey % 17 <> 0)
             |SELECT CASE
             |    WHEN o.c_custkey IS NULL THEN 'insert'
             |    WHEN n.c_custkey IS NULL THEN 'delete'
             |    WHEN o.bal <> n.bal THEN 'update'
             |    ELSE 'unchanged' END AS action,
             |  COUNT(*) AS n_keys,
             |  CAST(SUM(COALESCE(n.bal, CAST(0 AS DECIMAL(18,2)))) AS DOUBLE)
             |    AS new_bal_total
             |FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
             |GROUP BY 1 ORDER BY action""".stripMargin)),

    // Bucketed CO-LOCATED fact-fact join — the zero-shuffle layout for
    // a join that repeats every day at 100 TB: both tables are written
    // ONCE as bucketed+sorted parquet on the join key (8 buckets here;
    // a real deployment sizes thousands at write time), after which
    // every lineitem⋈orders join reads bucket i against bucket i with
    // NO Exchange and NO Sort on either side — the shuffle was paid
    // once at layout time instead of once per query. PlanSpec asserts
    // the executed plan: SortMergeJoin with zero ShuffleExchange below
    // it. MERGE hints pin SMJ so the assertion never silently degrades
    // to a broadcast plan at fixture scale. The artifact lives in a
    // per-JVM tmp database (the dedup_index_incremental convention —
    // fixed paths collide across JVMs), memoized per fixture
    // fingerprint so repeated harness runs pay the layout once.
    Q("join_bucketed_colocated",
      (s, d) => {
        val key = graft.Fixtures.tableKey(d, "lineitem")
        bktTables((key, graft.Fixtures.fingerprint(s"$d/orders.parquet"))) {
          graft.Artifacts.database(s, "graft_bkt")
          Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_extendedprice"),
              col("l_discount"))
            .write.mode("overwrite")
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .saveAsTable(s"graft_bkt.lineitem_$key")
          Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderstatus"))
            .write.mode("overwrite")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .saveAsTable(s"graft_bkt.orders_$key")
        }
        val li = s.table(s"graft_bkt.lineitem_$key")
        val ord = s.table(s"graft_bkt.orders_$key")
        li.hint("MERGE")
          .join(ord.hint("MERGE"), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_items"),
            dsumExact(revenueDec(col("l_extendedprice"), col("l_discount")))
              .as("revenue"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n_items,
              |${SQL_DSUM_EXACT(SQL_REV_DEC)} AS revenue
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Grid-blocked spatial radius join — the distributed spatial-join
    // pattern (geohash/S2 cell blocking): each point maps to an
    // integer grid cell sized ≥ the radius, the PROBE side fans out to
    // its 3×3 cell neighborhood (a 9× explode, never a cross join),
    // the build side stays in its single home cell, and an exact
    // Chebyshev predicate verifies survivors. Because the build side
    // appears in exactly one cell, every qualifying pair meets in
    // exactly one (probe-cell, home-cell) bucket — no pair dedup
    // stage. The fixture has no coordinates, so points are derived
    // with the portable md5-polynomial device (the hash-coin
    // precedent): two 20-bit fields of one md5 → a 4096² integer
    // space; every predicate below is exact integer arithmetic. At
    // 100 TB this is cells ≈ data density as the skew dial (the LSH
    // band analogy); the shuffle is one equi-join on (cx, cy).
    Q("join_spatial_grid", {
      val CELL = 128; val R = 96 // CELL ≥ R ⇒ 3×3 neighborhood suffices
      (s, d) => {
        def coord(tag: String, key: String, from: Int) =
          conv(substring(md5(concat(lit(tag), col(key).cast("string"))),
            from, 5), 16, 10).cast("long") % 4096
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"),
            coord("pt:", "c_custkey", 1).as("x"),
            coord("pt:", "c_custkey", 6).as("y"))
        val supp = Tables.supplier(s, d)
          .select(col("s_suppkey"),
            coord("pt:", "s_suppkey", 1).as("sx"),
            coord("pt:", "s_suppkey", 6).as("sy"))
          .withColumn("cx", expr(s"sx div $CELL"))
          .withColumn("cy", expr(s"sy div $CELL"))
        val probes = cust
          .withColumn("dxy", explode(expr(
            "flatten(transform(sequence(-1, 1), dx -> transform(sequence(-1, 1), dy -> named_struct('dx', dx, 'dy', dy))))")))
          .withColumn("cx", expr(s"(x div $CELL) + dxy.dx"))
          .withColumn("cy", expr(s"(y div $CELL) + dxy.dy"))
        probes.join(supp, Seq("cx", "cy"))
          .filter(abs(col("x") - col("sx")) <= R &&
            abs(col("y") - col("sy")) <= R)
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct("c_custkey").as("n_customers"),
            min(greatest(abs(col("x") - col("sx")),
              abs(col("y") - col("sy")))).as("min_cheby"))
          .orderBy("c_nationkey")
      }
    },
      Some {
        def hex20(h: String, from: Int): String =
          (0 until 5).map(i =>
            s"(strpos('0123456789abcdef', substr($h, ${from + i}, 1)) - 1) * ${1L << (4 * (4 - i))}")
            .mkString("(", " + ", ")")
        val ch = "md5('pt:' || CAST(c_custkey AS VARCHAR))"
        val sh = "md5('pt:' || CAST(s_suppkey AS VARCHAR))"
        s"""WITH cust AS (
           |  SELECT c_custkey, c_nationkey,
           |    ${hex20(ch, 1)} % 4096 AS x, ${hex20(ch, 6)} % 4096 AS y
           |  FROM customer),
           |supp AS (
           |  SELECT s_suppkey,
           |    ${hex20(sh, 1)} % 4096 AS sx, ${hex20(sh, 6)} % 4096 AS sy
           |  FROM supplier),
           |sc AS (SELECT *, sx // 128 AS cx, sy // 128 AS cy FROM supp),
           |probes AS (
           |  SELECT c.*, (x // 128) + dx.d AS cx, (y // 128) + dy.d AS cy
           |  FROM cust c, (VALUES (-1), (0), (1)) dx(d),
           |       (VALUES (-1), (0), (1)) dy(d))
           |SELECT c_nationkey,
           |  COUNT(*) AS n_pairs,
           |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           |  CAST(MIN(GREATEST(abs(x - sx), abs(y - sy))) AS BIGINT)
           |    AS min_cheby
           |FROM probes p JOIN sc USING (cx, cy)
           |WHERE abs(x - sx) <= 96 AND abs(y - sy) <= 96
           |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin
      }),

    // Bloom-filter SEMI-JOIN REDUCTION — the 100-TB join-IO saver: when
    // a selective dimension filter survives only ~1% of keys, build a
    // Bloom filter over the surviving keys (a few hundred KB regardless
    // of fact size), broadcast it, and pre-filter the FACT SIDE before
    // it ever reaches the join shuffle — the fact rows that would die
    // in the join die at the scan instead. Bloom false positives only
    // admit extra rows into the exact equi-join, which drops them, so
    // the RESULT is exactly the plain join (the oracle). This is the
    // manual form of what AQE's InjectRuntimeFilter emits; building it
    // explicitly makes the reduction available to any writer. The
    // bloomFilter aggregate itself is distributed (one pass over the
    // dimension side); only the finished ~1 MB sketch touches the
    // driver for broadcast.
    Q("join_bloom_prefilter",
      (s, d) => {
        val sel = Tables.orders(s, d)
          .filter(col("o_orderkey") % 101 === 0)
          .select(col("o_orderkey"), col("o_orderdate"))
        val bf = sel.stat.bloomFilter("o_orderkey", 20000, 0.01)
        val bfB = s.sparkContext.broadcast(bf)
        val might = udf((k: Long) => bfB.value.mightContain(k))
        val pre = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice"),
            col("l_discount"))
          .filter(might(col("l_orderkey")))
        pre.join(sel, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderkey", "o_orderdate")
          .agg(count(lit(1)).as("n_items"),
            dsumExact(revenueDec(col("l_extendedprice"), col("l_discount")))
              .as("revenue"))
          .orderBy("o_orderkey")
      },
      Some(s"""SELECT o_orderkey, o_orderdate, COUNT(*) AS n_items,
              |  ${SQL_DSUM_EXACT(SQL_REV_DEC)} AS revenue
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |WHERE o_orderkey % 101 = 0
              |GROUP BY 1, 2 ORDER BY o_orderkey""".stripMargin)),

    // DYNAMIC PARTITION PRUNING: a partition-keyed fact joined to a
    // selectively-filtered dimension — the optimizer injects the dim's
    // surviving keys as a runtime partition filter, so only the
    // matching fact DIRECTORIES are read (PlanAuditSpec asserts the
    // dynamicpruning subquery in PartitionFilters). The 100-TB shape
    // this proves: star joins on the partition key scan the pruned
    // slice, not the table — static pruning's runtime twin, next to
    // scan_partition_pruned (static) and join_bloom_prefilter (row-
    // level semi-join reduction). Both sides staged once,
    // fingerprint-keyed.
    Q("join_dpp_prune",
      (s, d) => {
        val dimTmp = graft.Artifacts.staged("dim_status", d, "orders") { p =>
          import s.implicits._
          Seq(("F", "closed"), ("O", "open"), ("P", "pending"))
            .toDF("o_orderstatus", "label")
            .coalesce(1).write.mode("overwrite").parquet(p)
        }
        val fact = s.read.parquet(Scans.ordersByStatus(s, d))
        val dim = s.read.parquet(dimTmp).filter(col("label") === "closed")
        fact.join(dim, "o_orderstatus")
          .groupBy("o_orderstatus", "label")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, 'closed' AS label,
              |  COUNT(*) AS n_orders, ${SQL_DSUM("o_totalprice")} AS sum_price
              |FROM orders WHERE o_orderstatus = 'F'
              |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // Grid-blocked 1-NN spatial join — join_spatial_grid's radius
    // search turned into NEAREST-neighbor: each customer probes its
    // 3×3 cell neighborhood (9× fan-out, never a cross join), takes
    // the min exact squared-Euclidean distance over the candidates,
    // and the per-nation rollup averages those minima. A customer
    // whose neighborhood holds no supplier is reported unmatched —
    // the honest recall caveat of grid-KNN (production systems re-probe
    // wider rings; here the miss count IS the output signal). All
    // distances are exact integers in the 4096² md5-derived space,
    // so min/avg are deterministic; the shuffle is one (cx, cy)
    // equi-join + one customer-keyed min — fact-linear at any scale
    // with cell size as the density dial.
    Q("join_spatial_knn", {
      val CELL = 128
      (s, d) => {
        def coord(key: String, from: Int) =
          conv(substring(md5(concat(lit("pt:"), col(key).cast("string"))),
            from, 5), 16, 10).cast("long") % 4096
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"),
            coord("c_custkey", 1).as("x"), coord("c_custkey", 6).as("y"))
        val supp = Tables.supplier(s, d)
          .select(coord("s_suppkey", 1).as("sx"),
            coord("s_suppkey", 6).as("sy"))
          .withColumn("cx", expr(s"sx div $CELL"))
          .withColumn("cy", expr(s"sy div $CELL"))
        val probes = cust
          .withColumn("dxy", explode(expr(
            "flatten(transform(sequence(-1, 1), dx -> transform(sequence(-1, 1), dy -> named_struct('dx', dx, 'dy', dy))))")))
          .withColumn("cx", expr(s"(x div $CELL) + dxy.dx"))
          .withColumn("cy", expr(s"(y div $CELL) + dxy.dy"))
        val nn = probes.join(supp, Seq("cx", "cy"))
          .withColumn("d2", (col("x") - col("sx")) * (col("x") - col("sx"))
            + (col("y") - col("sy")) * (col("y") - col("sy")))
          .groupBy("c_custkey").agg(min("d2").as("min_d2"))
        cust.join(nn, Seq("c_custkey"), "left")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_cust"),
            count(col("min_d2")).as("n_matched"),
            round(sum("min_d2").cast("double") / count(col("min_d2")), 4)
              .as("avg_min_d2"),
            min("min_d2").as("best_d2"))
          .orderBy("c_nationkey")
      }
    },
      Some {
        def hex20(h: String, from: Int): String =
          (0 until 5).map(i =>
            s"(strpos('0123456789abcdef', substr($h, ${from + i}, 1)) - 1) * ${1L << (4 * (4 - i))}")
            .mkString("(", " + ", ")")
        val ch = "md5('pt:' || CAST(c_custkey AS VARCHAR))"
        val sh = "md5('pt:' || CAST(s_suppkey AS VARCHAR))"
        s"""WITH cust AS (
           |  SELECT c_custkey, c_nationkey,
           |    ${hex20(ch, 1)} % 4096 AS x, ${hex20(ch, 6)} % 4096 AS y
           |  FROM customer),
           |supp AS (
           |  SELECT ${hex20(sh, 1)} % 4096 AS sx,
           |    ${hex20(sh, 6)} % 4096 AS sy
           |  FROM supplier),
           |sc AS (SELECT *, sx // 128 AS cx, sy // 128 AS cy FROM supp),
           |probes AS (
           |  SELECT c.*, (x // 128) + dx.d AS cx, (y // 128) + dy.d AS cy
           |  FROM cust c, (VALUES (-1), (0), (1)) dx(d),
           |       (VALUES (-1), (0), (1)) dy(d)),
           |nn AS (
           |  SELECT c_custkey,
           |    CAST(MIN((x - sx) * (x - sx) + (y - sy) * (y - sy))
           |      AS BIGINT) AS min_d2
           |  FROM probes p JOIN sc USING (cx, cy)
           |  GROUP BY c_custkey)
           |SELECT c_nationkey, COUNT(*) AS n_cust,
           |  COUNT(min_d2) AS n_matched,
           |  ROUND(CAST(SUM(min_d2) AS DOUBLE) / COUNT(min_d2), 4)
           |    AS avg_min_d2,
           |  MIN(min_d2) AS best_d2
           |FROM cust LEFT JOIN nn USING (c_custkey)
           |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin
      })
  )

  /** (lineitem [[graft.Fixtures.tableKey]], orders fingerprint) → both
    * bucketed tables are written. At most 64 fixtures; an evicted key
    * only rewrites them.
    */
  private val bktTables = graft.Memo[(String, String), Unit](bound = 64)
}
