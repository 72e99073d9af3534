package graft.operators

import graft.{Q, Tables}
import graft.Ops.{cents, SQL_CENTS, SQL_HEX15}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.E — window functions.
  *
  * Scale notes: windows partitioned by a key (custkey / user_id) shuffle
  * once on that key then sort within partitions — no global sort, no
  * driver state. Skewed partitions (one giant customer) would be the
  * 100 TB risk; keys here are uniform by construction.
  */
object Windows {

  val queries: Seq[Q] = Seq(
    Q("win_ranking",
      (s, d) => {
        // rn/ntile need a total order (unique tiebreak); rank/dense_rank
        // are tie-stable so they rank by totalprice alone.
        val wTie = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val wVal = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(wTie).cast("long").as("rn"),
            rank().over(wVal).cast("long").as("rnk"),
            dense_rank().over(wVal).cast("long").as("drnk"),
            ntile(4).over(wTie).cast("long").as("quartile"))
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             |ROW_NUMBER() OVER wt AS rn,
             |RANK() OVER wv AS rnk,
             |DENSE_RANK() OVER wv AS drnk,
             |NTILE(4) OVER wt AS quartile
             |FROM orders
             |WINDOW wt AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
             |       wv AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
             |ORDER BY o_custkey, rn""".stripMargin)),

    Q("win_lag_lead",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"),
            lead(col("event_id"), 1).over(w).as("next_event_id"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) AS gap_us,
             |LEAD(event_id, 1) OVER w AS next_event_id
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY event_id""".stripMargin)),

    Q("win_running_sum",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("order_day"),
            sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
              .cast("double").as("running_spend"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_day,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_spend
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    Q("win_range_frame",
      (s, d) => {
        val ep = expr("unix_micros(ts) div 1000000")
        val w = Window.partitionBy("user_id").orderBy("ep")
          .rangeBetween(-3600, 0)
        Tables.events(s, d)
          .withColumn("ep", ep)
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("events_last_hour"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
             |               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS events_last_hour
             |FROM events ORDER BY event_id""".stripMargin)),

    Q("win_first_last",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            first(col("o_orderdate")).over(w).cast("date").as("first_day"),
            last(col("o_orderdate")).over(w).cast("date").as("last_day"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |CAST(FIRST_VALUE(o_orderdate) OVER w AS DATE) AS first_day,
             |CAST(LAST_VALUE(o_orderdate) OVER w AS DATE) AS last_day
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    Q("win_distribution",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            round(percent_rank().over(w), 4).as("pct_rank"),
            round(cume_dist().over(w), 4).as("cume"),
            nth_value(col("o_orderkey"), 2).over(wFull).as("second_order"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             |ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
             |ROUND(CUME_DIST() OVER w, 4) AS cume,
             |NTH_VALUE(o_orderkey, 2) OVER wf AS second_order
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
             |       wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
             |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Batch sessionization (the batch twin of stream_session, §2.I):
    // 30-min-gap sessions via lag → new-session flag → running sum =
    // session id, then per-session stats. Exact µs epochs on both
    // engines (unix_micros ↔ epoch_us) — no sub-second truncation
    // ambiguity. Scale shape: one shuffle on user_id, two in-partition
    // window passes, one grouped aggregate — no state store, no driver
    // loop; this is how sessions are built over a 100 TB event log.
    Q("win_sessionize_batch",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val us = unix_micros(col("ts"))
        val prevUs = unix_micros(lag(col("ts"), 1).over(w))
        Tables.events(s, d)
          .withColumn("new_sess",
            when(prevUs.isNull || us - prevUs > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(wRun))
          .groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n_events"),
            (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
              .as("duration_us"),
            date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("sess_start"))
          .orderBy("user_id", "sess_id")
      },
      Some("""SELECT user_id, sess_id, COUNT(*) AS n_events,
             |  MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
             |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS sess_start
             |FROM (
             |  SELECT user_id, ts, event_id,
             |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
             |  FROM (
             |    SELECT user_id, ts, event_id,
             |      CASE WHEN LAG(ts, 1) OVER w IS NULL
             |             OR epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) > 1800000000
             |           THEN 1 ELSE 0 END AS new_sess
             |    FROM events
             |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) flagged) sess
             |GROUP BY user_id, sess_id
             |ORDER BY user_id, sess_id""".stripMargin)),

    // nth_value over the full partition frame: per customer, the top
    // and 2nd-highest order price (NULL when only one order exists —
    // the honest "no second" answer). row_number dedups to one row per
    // customer; both windows share the o_custkey shuffle + sort.
    Q("win_nth_value",
      (s, d) => {
        val ord = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val full = ord.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(ord))
          .withColumn("top_price", first("o_totalprice").over(full))
          .withColumn("second_price", nth_value(col("o_totalprice"), 2).over(full))
          .filter(col("rn") === 1)
          .select(col("o_custkey"), col("top_price"), col("second_price"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, top_price, second_price FROM (
             |  SELECT o_custkey,
             |    ROW_NUMBER() OVER wo AS rn,
             |    first_value(o_totalprice) OVER wf AS top_price,
             |    nth_value(o_totalprice, 2) OVER wf AS second_price
             |  FROM orders
             |  WINDOW wo AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
             |         wf AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) t
             |WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // Time-series resample + gap fill: hourly per-user buckets on a
    // complete generated grid (min..max observed hour per user),
    // missing hours forward-filled from the last observed bucket.
    // sequence()+explode builds each user's grid IN the engine (no
    // driver loop); the fill is one last(ignoreNulls) window pass over
    // the grid. The user sample bounds grid size at any sf; at 100 TB
    // the same shape shards by user range — grid generation, join and
    // fill all key on user_id, so one shuffle co-locates everything.
    // Hours travel as formatted strings: Spark's parquet timestamps
    // are UTC-adjusted (DuckDB types them TIMESTAMPTZ) while the
    // oracle's date_trunc yields TIMESTAMP — identical values, failing
    // type gate; same dodge as scan_events_ns_ts.
    Q("ts_gap_fill",
      (s, d) => {
        val b = Tables.events(s, d)
          .filter(col("user_id") % 50 === 0)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"),
            count(lit(1)).as("n_events"))
        val grid = b.groupBy("user_id")
          .agg(min("h").as("hmin"), max("h").as("hmax"))
          .select(col("user_id"),
            explode(sequence(col("hmin"), col("hmax"),
              expr("INTERVAL 1 HOUR"))).as("h"))
        val w = Window.partitionBy("user_id").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(b, Seq("user_id", "h"), "left")
          .select(col("user_id"),
            date_format(col("h"), "yyyy-MM-dd HH:mm").as("hour"),
            col("v").isNull.as("is_filled"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            last(col("v"), ignoreNulls = true).over(w).as("value"))
          .orderBy("user_id", "hour")
      },
      Some("""WITH b AS (
             |  SELECT user_id, date_trunc('hour', ts) AS h,
             |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v,
             |    COUNT(*) AS n_events
             |  FROM events WHERE user_id % 50 = 0 GROUP BY 1, 2),
             |grid AS (
             |  SELECT user_id, unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS h
             |  FROM (SELECT user_id, MIN(h) AS hmin, MAX(h) AS hmax
             |        FROM b GROUP BY 1) spans)
             |SELECT g.user_id, strftime(g.h, '%Y-%m-%d %H:%M') AS hour,
             |  b.v IS NULL AS is_filled,
             |  CAST(COALESCE(b.n_events, 0) AS BIGINT) AS n_events,
             |  last_value(b.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.h
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
             |FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.h = b.h
             |ORDER BY g.user_id, hour""".stripMargin)),

    // Linear interpolation over time-series gaps: the ts_gap_fill grid,
    // but missing hours get prev + (next - prev) * gap_fraction instead
    // of a carried-forward value — the standard resampling fill for
    // numeric metrics. Cross-engine exactness by construction: the
    // hourly sums are kept as EXACT CENTS (bigint), the interpolation
    // numerator pv·len + (nv−pv)·pos is exact integer arithmetic, and
    // the ONLY float operation is the final division — identical IEEE
    // doubles in both engines, no rounding anywhere (a round(…, 4)
    // variant died on a genuine x.xxxx5 midpoint: Spark rounds through
    // BigDecimal.valueOf's shortest-string double, DuckDB rounds the
    // raw binary — they disagree exactly at midpoints). The grid spans
    // [first, last] observed hour per user, so every gap has both
    // neighbors. Scale shape: one user_id shuffle shared by all four
    // windows, O(1) frame state, no quadratic stage.
    Q("ts_interpolate_linear",
      (s, d) => {
        val b = Tables.events(s, d)
          .filter(col("user_id") % 50 === 0)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("long").as("c"))
        val grid = b.groupBy("user_id")
          .agg(min("h").as("hmin"), max("h").as("hmax"))
          .select(col("user_id"),
            explode(sequence(col("hmin"), col("hmax"),
              expr("INTERVAL 1 HOUR"))).as("h"))
        val wo = Window.partitionBy("user_id").orderBy("h")
        val wb = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wf = wo.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        grid.join(b, Seq("user_id", "h"), "left")
          .withColumn("rn", row_number().over(wo))
          .withColumn("pc", last(col("c"), ignoreNulls = true).over(wb))
          .withColumn("prn",
            last(when(col("c").isNotNull, col("rn")), ignoreNulls = true).over(wb))
          .withColumn("nc", first(col("c"), ignoreNulls = true).over(wf))
          .withColumn("nrn",
            first(when(col("c").isNotNull, col("rn")), ignoreNulls = true).over(wf))
          .select(col("user_id"),
            date_format(col("h"), "yyyy-MM-dd HH:mm").as("hour"),
            col("c").isNull.as("is_filled"),
            when(col("c").isNotNull, col("c").cast("double") / lit(100.0))
              .otherwise(
                (col("pc") * (col("nrn") - col("prn")) +
                  (col("nc") - col("pc")) * (col("rn") - col("prn")))
                  .cast("double") /
                  ((col("nrn") - col("prn")) * 100L).cast("double"))
              .as("value"))
          .orderBy("user_id", "hour")
      },
      Some("""WITH b AS (
             |  SELECT user_id, date_trunc('hour', ts) AS h,
             |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
             |  FROM events WHERE user_id % 50 = 0 GROUP BY 1, 2),
             |grid AS (
             |  SELECT user_id, unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS h
             |  FROM (SELECT user_id, MIN(h) AS hmin, MAX(h) AS hmax
             |        FROM b GROUP BY 1) spans),
             |j AS (
             |  SELECT g.user_id, g.h, b.c,
             |    ROW_NUMBER() OVER (PARTITION BY g.user_id ORDER BY g.h) AS rn
             |  FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.h = b.h),
             |w AS (
             |  SELECT user_id, h, c, rn,
             |    last_value(c IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY rn
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
             |    last_value(CASE WHEN c IS NOT NULL THEN rn END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY rn
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prn,
             |    first_value(c IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY rn
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
             |    first_value(CASE WHEN c IS NOT NULL THEN rn END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY rn
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nrn
             |  FROM j)
             |SELECT user_id, strftime(h, '%Y-%m-%d %H:%M') AS hour,
             |  c IS NULL AS is_filled,
             |  CASE WHEN c IS NOT NULL THEN CAST(c AS DOUBLE) / 100.0
             |    ELSE CAST(pc * (nrn - prn) + (nc - pc) * (rn - prn) AS DOUBLE)
             |      / CAST((nrn - prn) * 100 AS DOUBLE)
             |  END AS value
             |FROM w ORDER BY user_id, hour""".stripMargin)),

    // OHLC resampling: per (event_type, hour) the first/last/extreme
    // values — the downsampling shape every metrics store runs. Open
    // and close are picked by a total (ts, event_id) order via two
    // row_number windows folded into one conditional aggregate; min,
    // max, and count ride the same grouped pass. Values are PICKED
    // doubles (bit-identical in both engines), never summed, so no
    // rounding games are needed.
    Q("ts_resample_ohlc",
      (s, d) => {
        val wAsc = Window.partitionBy(col("event_type"), col("h"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val wDesc = Window.partitionBy(col("event_type"), col("h"))
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables.events(s, d)
          .withColumn("h", date_trunc("hour", col("ts")))
          .withColumn("ra", row_number().over(wAsc))
          .withColumn("rd", row_number().over(wDesc))
          .groupBy(col("event_type"), col("h"))
          .agg(max(when(col("ra") === 1, col("value"))).as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max(when(col("rd") === 1, col("value"))).as("close"),
            count(lit(1)).as("n_events"))
          .select(col("event_type"),
            date_format(col("h"), "yyyy-MM-dd HH:mm").as("hour"),
            col("open"), col("high"), col("low"), col("close"),
            col("n_events"))
          .orderBy("event_type", "hour")
      },
      Some("""WITH r AS (
             |  SELECT event_type, date_trunc('hour', ts) AS h, value,
             |    ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
             |      ORDER BY ts ASC, event_id ASC) AS ra,
             |    ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
             |      ORDER BY ts DESC, event_id DESC) AS rd
             |  FROM events)
             |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M') AS hour,
             |  MAX(CASE WHEN ra = 1 THEN value END) AS open,
             |  MAX(value) AS high, MIN(value) AS low,
             |  MAX(CASE WHEN rd = 1 THEN value END) AS close,
             |  COUNT(*) AS n_events
             |FROM r GROUP BY event_type, h
             |ORDER BY event_type, hour""".stripMargin)),

    // Rolling median over each user's trailing 21 events — the robust
    // smoother percentile windows can't express natively in either
    // engine, built as a sorted frame-list pick: collect the bounded
    // frame (≤21 values), sort, index. Median values are PICKED doubles
    // (odd frames) or one (a+b)/2.0 of picked doubles (even frames) —
    // no accumulation, so no rounding needed. The frame is bounded at
    // 21 rows regardless of history, the one shuffle is user-keyed; the
    // (ep, event_id) total order makes both engines build identical
    // frame sets.
    Q("ts_rolling_median",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy("ep", "event_id").rowsBetween(-20, 0)
        Tables.events(s, d)
          .withColumn("ep", expr("unix_micros(ts) div 1000000"))
          .withColumn("arr", sort_array(collect_list("value").over(w)))
          .withColumn("n", size(col("arr")))
          .select(col("event_id"), col("user_id"), col("value"),
            expr("""CASE WHEN n % 2 = 1 THEN element_at(arr, CAST((n + 1) div 2 AS INT))
              ELSE (element_at(arr, CAST(n div 2 AS INT))
                  + element_at(arr, CAST(n div 2 + 1 AS INT))) / 2.0
              END""").as("roll_median"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, value,
             |  CASE WHEN n % 2 = 1 THEN arr[CAST((n + 1) // 2 AS INT)]
             |    ELSE (arr[CAST(n // 2 AS INT)] + arr[CAST(n // 2 + 1 AS INT)]) / 2.0
             |  END AS roll_median
             |FROM (
             |  SELECT event_id, user_id, value,
             |    list_sort(list(value) OVER w) AS arr,
             |    CAST(COUNT(*) OVER w AS INT) AS n
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id
             |               ORDER BY epoch_us(ts) // 1000000, event_id
             |               ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)) t
             |ORDER BY event_id""".stripMargin)),

    // Seasonal-baseline decomposition: the hour-of-day profile per
    // event type (the naive seasonal model every metrics stack starts
    // with), subtracted from each sampled event to expose residuals.
    // The seasonal mean is EXACT-CENTS/(100·n) — one integer cast to
    // double and one division, so both engines derive identical
    // baselines and residuals with no rounding. The profile is
    // types×24 rows (model-sized → broadcast join onto the event
    // stream); one aggregate + one narrow join, no extra shuffle on
    // the fact side beyond the aggregate's.
    Q("ts_seasonal_baseline",
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("hod", hour(col("ts")).cast("long"))
        val seas = ev.groupBy("event_type", "hod")
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("long").as("cents"), count(lit(1)).as("n"))
          .select(col("event_type"), col("hod"),
            (col("cents").cast("double") /
              (col("n") * 100L).cast("double")).as("seasonal"))
        ev.filter(col("user_id") % 100 === 0)
          .join(broadcast(seas), Seq("event_type", "hod"))
          .select(col("event_id"), col("event_type"), col("hod"),
            col("value"), col("seasonal"),
            (col("value") - col("seasonal")).as("residual"))
          .orderBy("event_id")
      },
      Some("""WITH seas AS (
             |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE)
             |      / CAST(COUNT(*) * 100 AS DOUBLE) AS seasonal
             |  FROM events GROUP BY 1, 2)
             |SELECT e.event_id, e.event_type, CAST(hour(e.ts) AS BIGINT) AS hod,
             |  e.value, s.seasonal, e.value - s.seasonal AS residual
             |FROM events e JOIN seas s
             |  ON e.event_type = s.event_type AND CAST(hour(e.ts) AS BIGINT) = s.hod
             |WHERE e.user_id % 100 = 0
             |ORDER BY e.event_id""".stripMargin)),

    // Rolling z-score anomaly detection: each event scored against the
    // mean/stddev of its user's trailing 20 events — the standard
    // streaming-metrics outlier flag, expressed as one rows-frame
    // window (a single user_id shuffle; the frame is bounded at 21
    // rows regardless of history length). The frame needs a TOTAL
    // order (ep, event_id) so both engines accumulate the identical
    // row set in the identical sequence; z is rounded before the
    // threshold filter so the flagged set is cross-engine stable.
    Q("ts_anomaly_zscore",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy("ep", "event_id").rowsBetween(-20, 0)
        Tables.events(s, d)
          .withColumn("ep", expr("unix_micros(ts) div 1000000"))
          .withColumn("n_win", count(lit(1)).over(w))
          .withColumn("mean_v", avg("value").over(w))
          .withColumn("sd_v", stddev_samp(col("value")).over(w))
          .filter(col("n_win") >= 12 && col("sd_v") > 1e-9)
          .select(col("event_id"), col("user_id"),
            round((col("value") - col("mean_v")) / col("sd_v"), 4).as("z"))
          .filter(abs(col("z")) > 2.0)
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, z FROM (
             |  SELECT event_id, user_id,
             |    COUNT(*) OVER w AS n_win,
             |    ROUND((value - AVG(value) OVER w) / (STDDEV_SAMP(value) OVER w), 4) AS z,
             |    STDDEV_SAMP(value) OVER w AS sd_v
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id
             |               ORDER BY epoch_us(ts) // 1000000, event_id
             |               ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)) t
             |WHERE n_win >= 12 AND sd_v > 1e-9 AND abs(z) > 2.0
             |ORDER BY event_id""".stripMargin)),

    // Exponentially-weighted moving average per user (α=0.25, 8-term
    // lookback) — the time-series smoothing staple. The textbook
    // recursive form (ewma_t = α·x + (1−α)·ewma_{t−1}) is not
    // window-expressible, so this uses the FINITE-window expansion:
    // 8 lag() terms sharing ONE user-keyed window sort, weights
    // α(1−α)^j renormalized over the lags that exist at the head of
    // each series. Determinism device: every weight is an EXACTLY
    // representable double (3^j/2^(2+2j)) emitted as its shortest
    // round-trip decimal and CAST('…' AS DOUBLE) in the oracle, and
    // both engines sum the 8 products in the same written order —
    // identical IEEE arithmetic, no libm, round(4) on top.
    Q("ts_ewma", {
      val J = 8
      val weights: Seq[Double] =
        (0 until J).map(j => (1 to j).foldLeft(0.25)((a, _) => a * 0.75))
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ep", "event_id")
        def lagV(j: Int) =
          if (j == 0) col("value") else lag(col("value"), j).over(w)
        val num = (0 until J).map(j => coalesce(lagV(j), lit(0.0)) * weights(j))
          .reduce(_ + _)
        val den = (0 until J)
          .map(j => when(lagV(j).isNotNull, weights(j)).otherwise(0.0))
          .reduce(_ + _)
        Tables.events(s, d)
          .withColumn("ep", expr("unix_micros(ts) div 1000000"))
          .select(col("event_id"), col("user_id"), col("value"),
            round(num / den, 4).as("ewma"))
          .orderBy("event_id")
      }
    },
      Some {
        val J = 8
        val weights: Seq[Double] =
          (0 until J).map(j => (1 to j).foldLeft(0.25)((a, _) => a * 0.75))
        def wLit(j: Int) = s"CAST('${weights(j)}' AS DOUBLE)"
        def lagV(j: Int) = if (j == 0) "value" else s"LAG(value, $j) OVER w"
        val num = (0 until J)
          .map(j => s"COALESCE(${lagV(j)}, 0.0) * ${wLit(j)}").mkString(" + ")
        val den = (0 until J)
          .map(j => s"CASE WHEN ${lagV(j)} IS NOT NULL THEN ${wLit(j)} ELSE 0.0 END")
          .mkString(" + ")
        s"""SELECT event_id, user_id, value, ROUND(($num) / ($den), 4) AS ewma
           |FROM events
           |WINDOW w AS (PARTITION BY user_id
           |             ORDER BY epoch_us(ts) // 1000000, event_id)
           |ORDER BY event_id""".stripMargin
      }),

    // EWMA VOLATILITY (RiskMetrics λ=0.94) of the daily-revenue
    // log-return series — ts_ewma smooths the level; this smooths the
    // SQUARED RETURN, the risk/abnormality monitor. Same truncated-
    // J-lag device (the fold is a J-term closed form per row, so no
    // recursion crosses rows): returns are ln ratios of the exact
    // decimal daily sums rounded to 9dp, λ-weights are Scala-printed
    // shortest-roundtrip literals shared by both engines, and the
    // window partitions nothing because the series is calendar-
    // bounded after ONE linear rollup.
    Q("ts_ewma_volatility", {
      val J = 8
      val lam = 0.94
      val weights: Seq[Double] =
        (0 until J).map(j => (1 to j).foldLeft(1.0 - lam)((a, _) => a * lam))
      (s, d) => {
        val w = Window.orderBy("day")
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
          .withColumn("r", expr(
            """cast(round(ln(cast(v as double)
              |  / cast(lag(v, 1) over (order by day) as double)), 9)
              |  as decimal(18,9))""".stripMargin))
          .filter(col("r").isNotNull)
        def lagR(j: Int) =
          if (j == 0) col("r") else lag(col("r"), j).over(w)
        val num = (0 until J).map(j =>
          coalesce(lagR(j).cast("double") * lagR(j).cast("double"),
            lit(0.0)) * weights(j)).reduce(_ + _)
        val den = (0 until J)
          .map(j => when(lagR(j).isNotNull, weights(j)).otherwise(0.0))
          .reduce(_ + _)
        daily.select(col("day"), round(col("r").cast("double"), 6).as("ret"),
            round(sqrt(num / den), 6).as("ewma_vol"))
          .orderBy("day")
      }
    },
      Some {
        val J = 8
        val lam = 0.94
        val weights: Seq[Double] =
          (0 until J).map(j => (1 to j).foldLeft(1.0 - lam)((a, _) => a * lam))
        def wLit(j: Int) = s"CAST('${weights(j)}' AS DOUBLE)"
        def lagR(j: Int) = if (j == 0) "r" else s"LAG(r, $j) OVER w"
        val num = (0 until J).map(j =>
          s"COALESCE(CAST(${lagR(j)} AS DOUBLE) * CAST(${lagR(j)} " +
            s"AS DOUBLE), 0.0) * ${wLit(j)}").mkString(" + ")
        val den = (0 until J).map(j =>
          s"CASE WHEN ${lagR(j)} IS NOT NULL THEN ${wLit(j)} ELSE 0.0 END")
          .mkString(" + ")
        s"""WITH daily AS (
           |  SELECT CAST(ts AS DATE) AS day,
           |    SUM(CAST(value AS DECIMAL(18,2))) AS v
           |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
           |rets AS (
           |  SELECT day, CAST(ROUND(ln(CAST(v AS DOUBLE)
           |      / CAST(LAG(v, 1) OVER (ORDER BY day) AS DOUBLE)), 9)
           |    AS DECIMAL(18,9)) AS r
           |  FROM daily)
           |SELECT day, ROUND(CAST(r AS DOUBLE), 6) AS ret,
           |  ROUND(sqrt(($num) / ($den)), 6) AS ewma_vol
           |FROM rets WHERE r IS NOT NULL
           |WINDOW w AS (ORDER BY day)
           |ORDER BY day""".stripMargin
      }),

    // Seasonality STRENGTH — the forecastability score behind
    // ts_seasonal_baseline's model choice: η² (correlation ratio) of
    // value against the hour-of-day profile, i.e. 1 − SSE_within/SST
    // where SSE_within = Σ_cells (Σc² − (Σc)²/n_c) and
    // SST = Σc² − (Σc)²/N, all in the EXACT integer cents domain
    // (residuals are mean-zero within every cell by construction, so
    // the decomposition needs no residual materialization at all — two
    // moment aggregates, no join back to the fact). Strength ≈ 0: the
    // hourly profile explains nothing; ≈ 1: the series IS its profile.
    // The handful of double divisions per type sit behind ROUND(…,6).
    Q("ts_seasonality_strength",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), hour(col("ts")).as("hod"),
            cents(col("value")).as("c"))
        val cells = ev.groupBy("event_type", "hod")
          .agg(count(lit(1)).as("n_c"), sum("c").as("s_c"),
            sum(col("c") * col("c")).as("ss_c"))
        cells.groupBy("event_type")
          .agg(sum("n_c").as("n"), sum("s_c").as("s"), sum("ss_c").as("ss"),
            sum(col("ss_c").cast("double") -
              col("s_c").cast("double") * col("s_c").cast("double") /
                col("n_c").cast("double")).as("sse_within"))
          .select(col("event_type"), col("n"),
            round(lit(1.0) - col("sse_within") /
              (col("ss").cast("double") -
                col("s").cast("double") * col("s").cast("double") /
                  col("n").cast("double")), 6).as("seasonality_strength"))
          .orderBy("event_type")
      },
      Some(s"""WITH ev AS (
             |  SELECT event_type, hour(ts) AS hod,
             |    ${SQL_CENTS("value")} AS c
             |  FROM events),
             |cells AS (
             |  SELECT event_type, hod, COUNT(*) AS n_c,
             |    SUM(c) AS s_c, SUM(c * c) AS ss_c
             |  FROM ev GROUP BY event_type, hod)
             |SELECT event_type, CAST(SUM(n_c) AS BIGINT) AS n,
             |  ROUND(1.0 - SUM(CAST(ss_c AS DOUBLE)
             |      - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE))
             |    / (CAST(SUM(ss_c) AS DOUBLE)
             |      - CAST(SUM(s_c) AS DOUBLE) * CAST(SUM(s_c) AS DOUBLE)
             |        / CAST(SUM(n_c) AS DOUBLE)), 6) AS seasonality_strength
             |FROM cells GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Time-decay EWMA for IRREGULAR series — ts_ewma's fixed per-step
    // α assumes evenly spaced observations; real event streams aren't,
    // so each lag is weighted by 0.5^(Δt/1h) from its ACTUAL age
    // (half-life form). Δt is exact integer µs; the per-row pow/divide
    // chain is mirrored textually and the output sits behind
    // ROUND(…,4) (pow may differ in the last ulp across libm
    // implementations — 4 dp is 10 orders of magnitude above that).
    // Same single user-keyed window sort as ts_ewma, 8 lags.
    Q("ts_ewma_timedecay", {
      val J = 8
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ep", "event_id")
        def lagV(j: Int) =
          if (j == 0) col("value") else lag(col("value"), j).over(w)
        def lagT(j: Int) =
          if (j == 0) col("ep") else lag(col("ep"), j).over(w)
        def wt(j: Int) = pow(lit(0.5),
          (col("ep") - lagT(j)).cast("double") / lit(3600000000.0))
        val num = (0 until J)
          .map(j => coalesce(lagV(j) * wt(j), lit(0.0))).reduce(_ + _)
        val den = (0 until J)
          .map(j => when(lagV(j).isNotNull, wt(j)).otherwise(lit(0.0)))
          .reduce(_ + _)
        Tables.events(s, d)
          .withColumn("ep", expr("unix_micros(ts)"))
          .select(col("event_id"), col("user_id"), col("value"),
            round(num / den, 4).as("ewma_tw"))
          .orderBy("event_id")
      }
    },
      Some {
        val J = 8
        def lagV(j: Int) = if (j == 0) "value" else s"LAG(value, $j) OVER w"
        def lagT(j: Int) =
          if (j == 0) "epoch_us(ts)" else s"LAG(epoch_us(ts), $j) OVER w"
        def wt(j: Int) =
          s"pow(0.5, CAST(epoch_us(ts) - ${lagT(j)} AS DOUBLE) / 3600000000.0)"
        val num = (0 until J)
          .map(j => s"COALESCE(${lagV(j)} * ${wt(j)}, 0.0)").mkString(" + ")
        val den = (0 until J)
          .map(j => s"CASE WHEN ${lagV(j)} IS NOT NULL THEN ${wt(j)} ELSE 0.0 END")
          .mkString(" + ")
        s"""SELECT event_id, user_id, value,
           |  ROUND(($num) / ($den), 4) AS ewma_tw
           |FROM events
           |WINDOW w AS (PARTITION BY user_id
           |             ORDER BY epoch_us(ts), event_id)
           |ORDER BY event_id""".stripMargin
      }),

    // Holt's linear-trend smoothing (double exponential smoothing) in
    // its DISTRIBUTED truncated-lag form: the coupled (level, trend)
    // recurrence s_t = A·s_{t−1} + v·x_t is linear, so s_t is a lag
    // convolution with matrix-power weights A^k·v — the ts_ewma device
    // generalized to a 2-vector. The exact infinite recurrence is not
    // window-expressible; truncating at J=12 lags (residual weight
    // mass ~5% at α=0.5, β=0.3 — the weights decay by the spectral
    // radius of A) gives a per-row LINEAR expression over 12 lagged
    // hourly counts with shortest-round-trip literal weights, mirrored
    // textually term-by-term in identical fold order — bit-exact both
    // engines, no rounding device needed. Only full-frame positions
    // emit (the changepoint convention). One series-keyed window sort
    // shared by all 12 lags; state is 12 rows regardless of history.
    Q("ts_holt_linear", {
      val ALPHA = 0.5; val BETA = 0.3; val J = 12
      // weight pairs w_k = A^k·v for the (level, trend) state
      val (wl, wb) = {
        val a = Array(Array(1 - ALPHA, 1 - ALPHA),
          Array(-BETA * ALPHA, 1 - BETA * ALPHA))
        var cur = Array(ALPHA, BETA * ALPHA)
        val ls = Array.newBuilder[Double]; val bs = Array.newBuilder[Double]
        for (_ <- 0 until J) {
          ls += cur(0); bs += cur(1)
          cur = Array(a(0)(0) * cur(0) + a(0)(1) * cur(1),
            a(1)(0) * cur(0) + a(1)(1) * cur(1))
        }
        (ls.result(), bs.result())
      }
      (s, d) => {
        val w = Window.partitionBy("event_type").orderBy("h")
        def lagC(k: Int) =
          (if (k == 0) col("c") else lag(col("c"), k).over(w)).cast("double")
        def conv(ws: Array[Double]) = (0 until J)
          .map(k => lagC(k) * expr(s"CAST('${ws(k)}' AS DOUBLE)"))
          .reduce(_ + _)
        Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
          .withColumn("ln",
            count(lit(1)).over(w.rowsBetween(-(J - 1), 0)))
          .withColumn("level", conv(wl))
          .withColumn("trend", conv(wb))
          .filter(col("ln") === J)
          .select(col("event_type"), col("h"), col("c"),
            col("level"), col("trend"),
            (col("level") + col("trend")).as("forecast_next"))
          .orderBy("event_type", "h")
      }
    },
      Some {
        val ALPHA = 0.5; val BETA = 0.3; val J = 12
        val (wl, wb) = {
          val a = Array(Array(1 - ALPHA, 1 - ALPHA),
            Array(-BETA * ALPHA, 1 - BETA * ALPHA))
          var cur = Array(ALPHA, BETA * ALPHA)
          val ls = Array.newBuilder[Double]; val bs = Array.newBuilder[Double]
          for (_ <- 0 until J) {
            ls += cur(0); bs += cur(1)
            cur = Array(a(0)(0) * cur(0) + a(0)(1) * cur(1),
              a(1)(0) * cur(0) + a(1)(1) * cur(1))
          }
          (ls.result(), bs.result())
        }
        def lagC(k: Int) =
          if (k == 0) "CAST(c AS DOUBLE)" else s"CAST(LAG(c, $k) OVER w AS DOUBLE)"
        def conv(ws: Array[Double]) = (0 until J)
          .map(k => s"${lagC(k)} * CAST('${ws(k)}' AS DOUBLE)")
          .mkString(" + ")
        s"""SELECT event_type, h, c, level, trend,
           |  level + trend AS forecast_next
           |FROM (
           |  SELECT event_type, h, c,
           |    COUNT(*) OVER (PARTITION BY event_type ORDER BY h
           |      ROWS BETWEEN ${J - 1} PRECEDING AND CURRENT ROW) AS ln,
           |    ${conv(wl)} AS level,
           |    ${conv(wb)} AS trend
           |  FROM (
           |    SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
           |    FROM events GROUP BY 1, 2) hr
           |  WINDOW w AS (PARTITION BY event_type ORDER BY h)) t
           |WHERE ln = $J
           |ORDER BY event_type, h""".stripMargin
      }),

    // Gaps-and-islands: longest run of consecutive ACTIVE DAYS per
    // user — the engagement-streak metric. The island key is
    // day_index − dense_rank (constant within a run of consecutive
    // days), all integer arithmetic after a per-user day dedup; two
    // aggregates and one per-user window, every stage keyed on
    // user_id.
    Q("win_streak",
      (s, d) => {
        val days = Tables.events(s, d)
          .select(col("user_id"),
            datediff(col("ts").cast("date"), lit("2024-01-01")).as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        val runs = days
          .withColumn("island", col("day") - row_number().over(w))
          .groupBy("user_id", "island")
          .agg(count(lit(1)).as("len"), min("day").as("start_day"))
        val wBest = Window.partitionBy("user_id")
          .orderBy(col("len").desc, col("start_day"))
        runs
          .withColumn("rn", row_number().over(wBest))
          .withColumn("n_streaks",
            count(lit(1)).over(Window.partitionBy("user_id")))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("len").as("longest_streak"),
            col("start_day").cast("long").as("streak_start_day"),
            col("n_streaks"))
          .orderBy("user_id")
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id,
             |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
             |  FROM events),
             |islands AS (
             |  SELECT user_id, day - ROW_NUMBER() OVER (PARTITION BY user_id
             |    ORDER BY day) AS island, day
             |  FROM days),
             |runs AS (
             |  SELECT user_id, island, COUNT(*) AS len, MIN(day) AS start_day
             |  FROM islands GROUP BY user_id, island)
             |SELECT user_id, len AS longest_streak,
             |  CAST(start_day AS BIGINT) AS streak_start_day, n_streaks
             |FROM (
             |  SELECT user_id, len, start_day,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY len DESC, start_day) AS rn,
             |    COUNT(*) OVER (PARTITION BY user_id) AS n_streaks
             |  FROM runs) t
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Running DISTINCT count without distinct-state: "how many distinct
    // event types has this user seen so far" as a first-occurrence flag
    // (row_number over (user, type) == 1) running-summed over the
    // user's event order. Exact, two user-keyed windows sharing one
    // shuffle, O(1) state per row — the composable alternative to a
    // per-row distinct set that would grow with history.
    Q("win_running_distinct",
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("ep", expr("unix_micros(ts)"))
        val wFirst = Window.partitionBy("user_id", "event_type")
          .orderBy("ep", "event_id")
        val wRun = Window.partitionBy("user_id").orderBy("ep", "event_id")
        ev
          .withColumn("is_first",
            (row_number().over(wFirst) === 1).cast("long"))
          .withColumn("n_types_seen", sum("is_first").over(wRun))
          .select(col("event_id"), col("user_id"), col("n_types_seen"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, n_types_seen FROM (
             |  SELECT event_id, user_id,
             |    CAST(SUM(is_first) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS BIGINT) AS n_types_seen
             |  FROM (
             |    SELECT event_id, user_id, ts,
             |      CAST(ROW_NUMBER() OVER (PARTITION BY user_id, event_type
             |        ORDER BY epoch_us(ts), event_id) = 1 AS BIGINT) AS is_first
             |    FROM events) f) t
             |ORDER BY event_id""".stripMargin)),

    // Cohort retention: users grouped by first-active week, activity
    // counted at each whole-week offset — the standard growth-analytics
    // matrix. Two shuffles total, both on user_id-sized data: one tiny
    // aggregate for first-seen week (map-side combine over events),
    // one count-distinct per (cohort, offset). The events table itself
    // is never re-shuffled wider than its user_id grouping, so the
    // shape holds at any event volume.
    Q("ts_retention_cohorts",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
        val first = ev.groupBy("user_id").agg(min("w").as("cohort_w"))
        ev.join(first, "user_id")
          .withColumn("week_offset",
            datediff(col("w"), col("cohort_w")).cast("long") / 7)
          .groupBy(date_format(col("cohort_w"), "yyyy-MM-dd").as("cohort_week"),
            col("week_offset").cast("long").as("week_offset"))
          .agg(countDistinct("user_id").as("n_active_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, date_trunc('week', ts) AS w FROM events),
             |first AS (
             |  SELECT user_id, MIN(w) AS cohort_w FROM ev GROUP BY user_id)
             |SELECT strftime(f.cohort_w, '%Y-%m-%d') AS cohort_week,
             |  CAST(date_diff('day', f.cohort_w, e.w) / 7 AS BIGINT) AS week_offset,
             |  COUNT(DISTINCT e.user_id) AS n_active_users
             |FROM ev e JOIN first f USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)),

    // Burst dedup: collapse repeated (user, event_type) firings inside
    // the same hour to their earliest occurrence — the at-least-once
    // ingestion cleanup every event pipeline needs. Expressed as ONE
    // hash aggregate with min(struct(ts, event_id)) rather than a
    // row_number window: the aggregate combines map side (partial min
    // per input partition), so the shuffle carries one row per
    // (user, type, hour) key instead of every event — the difference
    // between shuffling keys and shuffling the corpus at 100 TB.
    Q("dedup_time_window",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"),
          date_trunc("hour", col("ts")).as("h"))
        .agg(min(struct(col("ts"), col("event_id"))).as("__first"),
          count(lit(1)).as("n_in_window"))
        .select(col("user_id"), col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm").as("hour"),
          col("__first.event_id").as("kept_event_id"),
          date_format(col("__first.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("first_ts"),
          col("n_in_window"))
        .orderBy("user_id", "event_type", "hour"),
      Some("""SELECT user_id, event_type,
             |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
             |  event_id AS kept_event_id,
             |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
             |  COUNT(*) OVER (PARTITION BY user_id, event_type,
             |    date_trunc('hour', ts)) AS n_in_window
             |FROM events
             |QUALIFY row_number() OVER (PARTITION BY user_id, event_type,
             |  date_trunc('hour', ts) ORDER BY ts, event_id) = 1
             |ORDER BY user_id, event_type, hour""".stripMargin)),

    // Sequence-pattern detection (the MATCH_RECOGNIZE family, composed
    // from lags): per user, count strictly-rising value triples in
    // event order — the "N consecutive increases" alert shape. Two lag
    // columns + one predicate share a single user_id shuffle/sort; the
    // per-user rollup is free on the same partitioning.
    Q("win_pattern_rise",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .withColumn("v1", lag("value", 1).over(w))
          .withColumn("v2", lag("value", 2).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("value") > col("v1") && col("v1") > col("v2"), 1L)
              .otherwise(0L)).as("n_rising_triples"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, COUNT(*) AS n_events,
             |  CAST(SUM(CASE WHEN value > v1 AND v1 > v2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_rising_triples
             |FROM (
             |  SELECT user_id, value,
             |    LAG(value, 1) OVER w AS v1,
             |    LAG(value, 2) OVER w AS v2
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Ordered-funnel analysis (view → click → purchase, strictly later
    // at each stage): the product-analytics staple over an event log.
    // Three stacked per-user window mins — each stage's first-hit time
    // conditions on the previous stage's — share ONE user_id shuffle
    // and sort; the per-user reduction and the 1-row summary are free.
    // No self-joins: at 100 TB this is a single pass over events. The
    // oracle mirrors the semantics with correlated min-joins (different
    // plan, same values — first click strictly after first view, etc.).
    Q("ts_funnel",
      (s, d) => {
        val wU = Window.partitionBy("user_id")
        val us = unix_micros(col("ts"))
        Tables.events(s, d)
          .withColumn("t_view",
            min(when(col("event_type") === "view", us)).over(wU))
          .withColumn("t_click",
            min(when(col("event_type") === "click" && us > col("t_view"), us)).over(wU))
          .withColumn("t_purch",
            min(when(col("event_type") === "purchase" && us > col("t_click"), us)).over(wU))
          .groupBy("user_id")
          .agg(max("t_view").as("t_view"), max("t_click").as("t_click"),
            max("t_purch").as("t_purch"))
          .agg(count(col("t_view")).as("n_view"),
            count(col("t_click")).as("n_click"),
            count(col("t_purch")).as("n_purchase"))
          .select(col("n_view"), col("n_click"), col("n_purchase"),
            round(col("n_click").cast("double") / col("n_view"), 4).as("r_click"),
            round(col("n_purchase").cast("double") / col("n_view"), 4).as("r_purchase"))
      },
      Some("""WITH v AS (
             |  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view
             |  FROM events GROUP BY user_id),
             |c AS (
             |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_click
             |  FROM events e JOIN v ON e.user_id = v.user_id
             |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
             |  GROUP BY e.user_id),
             |p AS (
             |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_purch
             |  FROM events e JOIN c ON e.user_id = c.user_id
             |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
             |  GROUP BY e.user_id),
             |f AS (
             |  SELECT COUNT(v.t_view) AS n_view, COUNT(c.t_click) AS n_click,
             |         COUNT(p.t_purch) AS n_purchase
             |  FROM v LEFT JOIN c ON v.user_id = c.user_id
             |         LEFT JOIN p ON v.user_id = p.user_id)
             |SELECT n_view, n_click, n_purchase,
             |  ROUND(CAST(n_click AS DOUBLE) / n_view, 4) AS r_click,
             |  ROUND(CAST(n_purchase AS DOUBLE) / n_view, 4) AS r_purchase
             |FROM f""".stripMargin)),

    Q("topk_per_group",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) t
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // ntile decile assignment + per-decile stats — the "score deciles"
    // analytics shape, computed SCALE-SAFE: graft.api.Ranking.ntileExact
    // replaces the global NTILE window (whose total order funnels every
    // row through ONE window partition) with a range-partitioned
    // two-pass global row number + the front-loaded-remainder tile rule.
    // Bit-identical to NTILE(10) (the oracle keeps the window form);
    // the only single-partition work is a prefix sum over the ≤32
    // per-range counts. Unique orderBy key keeps tiles deterministic.
    Q("win_ntile_buckets",
      (s, d) => {
        graft.api.Ranking
          .ntileExact(Tables.customer(s, d), 10,
            Seq(col("c_acctbal").desc, col("c_custkey")), tileCol = "decile",
            // descending first sort column → its negation is the
            // ascending-monotonic bucketing proxy Ranking requires
            bucketBy = -col("c_acctbal"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"),
            round(min("c_acctbal"), 2).as("min_bal"),
            round(max("c_acctbal"), 2).as("max_bal"))
          .orderBy("decile")
      },
      Some("""SELECT decile, COUNT(*) AS n,
             |  ROUND(MIN(c_acctbal), 2) AS min_bal,
             |  ROUND(MAX(c_acctbal), 2) AS max_bal
             |FROM (SELECT c_acctbal,
             |        CAST(NTILE(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS decile
             |      FROM customer) t
             |GROUP BY decile ORDER BY decile""".stripMargin)),

    // Change-point detection by the two-sample window-scan statistic:
    // per event_type over the hourly count series, score each hour by
    // |mean(next 12 hours incl. now) − mean(previous 12 hours)| — the
    // mean-shift detector (the O(n) sliding form of the CUSUM family;
    // the recursive CUSUM itself is not window-expressible). Only
    // full-frame positions score (12 rows on each side), top-3 per
    // series reported. Exact integer hour-count sums; the two /12
    // divisions and the difference are the only double ops, mirrored
    // textually — a deterministic total order (score DESC, h) ranks.
    // Scale shape: one (type, hour) count aggregate, ONE window sort
    // per series shared by all four frame aggregates, top-k via
    // row_number — no self-join, any series length.
    Q("ts_changepoint_scan",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
        val ord = Window.partitionBy("event_type").orderBy("h")
        val wl = ord.rowsBetween(-12, -1)
        val wr = ord.rowsBetween(0, 11)
        val scored = hourly
          .withColumn("ln", count(lit(1)).over(wl))
          .withColumn("rn", count(lit(1)).over(wr))
          .withColumn("ls", sum("c").over(wl))
          .withColumn("rs", sum("c").over(wr))
          .filter(col("ln") === 12 && col("rn") === 12)
          .withColumn("left_mean", col("ls").cast("double") / 12)
          .withColumn("right_mean", col("rs").cast("double") / 12)
          .withColumn("score", abs(col("right_mean") - col("left_mean")))
        val rk = Window.partitionBy("event_type")
          .orderBy(col("score").desc, col("h"))
        scored.withColumn("rk", row_number().over(rk).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("event_type"), col("h"), col("left_mean"),
            col("right_mean"), col("score"), col("rk"))
          .orderBy("event_type", "rk")
      },
      Some("""SELECT event_type, h, left_mean, right_mean, score, rk FROM (
             |  SELECT event_type, h, left_mean, right_mean, score,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY score DESC, h) AS BIGINT) AS rk
             |  FROM (
             |    SELECT event_type, h,
             |      CAST(ls AS DOUBLE) / 12 AS left_mean,
             |      CAST(rs AS DOUBLE) / 12 AS right_mean,
             |      abs(CAST(rs AS DOUBLE) / 12 - CAST(ls AS DOUBLE) / 12) AS score
             |    FROM (
             |      SELECT event_type, h,
             |        COUNT(*) OVER wl AS ln, COUNT(*) OVER wr AS rn,
             |        SUM(c) OVER wl AS ls, SUM(c) OVER wr AS rs
             |      FROM (
             |        SELECT event_type, date_trunc('hour', ts) AS h,
             |          COUNT(*) AS c
             |        FROM events GROUP BY 1, 2) hr
             |      WINDOW
             |        wl AS (PARTITION BY event_type ORDER BY h
             |               ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING),
             |        wr AS (PARTITION BY event_type ORDER BY h
             |               ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING)) f
             |    WHERE ln = 12 AND rn = 12) sc) r
             |WHERE rk <= 3
             |ORDER BY event_type, rk""".stripMargin)),

    // Sample autocorrelation (ACF, lags 1..6) of each event_type's
    // hourly count series — the first thing a forecaster computes and
    // the seasonality detector behind ts_seasonal_baseline's choice of
    // period. Pairs (x_t, x_{t−l}) come from 6 lag() columns sharing
    // ONE series-keyed window sort, stacked and aggregated per (type,
    // lag). Every moment (n, Σx, Σy, Σxy, Σx², Σy²) is an EXACT
    // integer sum over the hour counts, so r_l is pure double math on
    // exact inputs — the graph_assortativity device — with sqrt (IEEE
    // correctly-rounded, engine-identical) on each marginal variance.
    Q("ts_autocorrelation", {
      val LAGS = 1 to 6
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("event_type").orderBy("h")
        val lagged = LAGS.foldLeft(hourly) { (df, l) =>
          df.withColumn(s"x$l", lag(col("c"), l).over(w))
        }
        val stackExpr = LAGS.map(l => s"${l}L, x$l").mkString(", ")
        lagged
          .selectExpr("event_type", "c",
            s"stack(${LAGS.size}, $stackExpr) AS (lag, xl)")
          .filter(col("xl").isNotNull)
          .groupBy("event_type", "lag")
          .agg(count(lit(1)).as("n"), sum("c").as("sx"), sum("xl").as("sy"),
            sum(col("c") * col("xl")).as("sxy"),
            sum(col("c") * col("c")).as("sxx"),
            sum(col("xl") * col("xl")).as("syy"))
          .select(col("event_type"), col("lag"), col("n").as("n_pairs"),
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double")) *
               sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                 .cast("double")))).as("acf"))
          .orderBy("event_type", "lag")
      }
    }, Some {
      val LAGS = 1 to 6
      val lagCols = LAGS.map(l => s"LAG(c, $l) OVER w AS x$l").mkString(", ")
      val arms = LAGS.map(l =>
        s"SELECT event_type, CAST($l AS BIGINT) AS lag, c, x$l AS xl FROM lagged")
        .mkString("\n  UNION ALL ")
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
         |  FROM events GROUP BY 1, 2),
         |lagged AS (
         |  SELECT event_type, c, $lagCols
         |  FROM hourly
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h)),
         |pairs AS (
         |  $arms),
         |moments AS (
         |  SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(c) AS BIGINT) AS sx, CAST(SUM(xl) AS BIGINT) AS sy,
         |    CAST(SUM(c * xl) AS BIGINT) AS sxy,
         |    CAST(SUM(c * c) AS BIGINT) AS sxx,
         |    CAST(SUM(xl * xl) AS BIGINT) AS syy
         |  FROM pairs WHERE xl IS NOT NULL GROUP BY 1, 2)
         |SELECT event_type, lag, n AS n_pairs,
         |  CAST(n * sxy - sx * sy AS DOUBLE) /
         |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
         |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf
         |FROM moments ORDER BY event_type, lag""".stripMargin
    }),

    // Burstiness audit: the Fano factor (variance-to-mean ratio) of
    // each event_type's hourly arrival counts — ≈1 for a Poisson
    // process, ≫1 for bursty/bot traffic, the dispersion screen run
    // before alerting thresholds are set. n, Σc, Σc² are exact integer
    // sums (the assortativity device); sample variance, mean, and the
    // ratio are mirrored double math on those exact inputs.
    Q("ts_burstiness",
      (s, d) => {
        Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_hours"), sum("c").as("s1"),
            sum(col("c") * col("c")).as("s2"))
          .select(col("event_type"), col("n_hours"),
            (col("s1").cast("double") / col("n_hours")).as("mean_rate"),
            (((col("n_hours") * col("s2") - col("s1") * col("s1")).cast("double") /
              (col("n_hours") * (col("n_hours") - 1))) /
              (col("s1").cast("double") / col("n_hours"))).as("fano"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, n_hours,
             |  CAST(s1 AS DOUBLE) / n_hours AS mean_rate,
             |  (CAST(n_hours * s2 - s1 * s1 AS DOUBLE)
             |    / (n_hours * (n_hours - 1)))
             |    / (CAST(s1 AS DOUBLE) / n_hours) AS fano
             |FROM (
             |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
             |    CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2
             |  FROM (SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
             |        FROM events GROUP BY 1, 2) hr
             |  GROUP BY event_type) m
             |ORDER BY event_type""".stripMargin)),

    // Seasonal-naive forecast backtest: predict each hour's event
    // count by the count 24 hours earlier (the no-skill baseline every
    // real forecast must beat) and score MAE / WAPE / bias per series.
    // The seasonal shift is a TIME-keyed equi-join (h = h−24h), not a
    // row lag — robust to gap hours and it distributes as a plain
    // shuffle join on (type, hour). Error sums are exact integers;
    // WAPE = Σ|err|/Σactual replaces MAPE (whose per-row division sum
    // is float-order-sensitive — the kind of accumulation this repo
    // bans); the three ratios are the only double ops.
    Q("ts_backtest_snaive",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
        val fc = hourly.select(col("event_type"),
          (col("h") + expr("INTERVAL 24 HOURS")).as("h"), col("c").as("f"))
        hourly.join(fc, Seq("event_type", "h"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_scored"),
            sum(abs(col("c") - col("f"))).as("sad"),
            sum("c").as("sc"), sum(col("c") - col("f")).as("sdiff"))
          .select(col("event_type"), col("n_scored"),
            (col("sad").cast("double") / col("n_scored")).as("mae"),
            (col("sad").cast("double") / col("sc").cast("double")).as("wape"),
            (col("sdiff").cast("double") / col("n_scored")).as("bias"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (
             |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |scored AS (
             |  SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
             |    CAST(SUM(abs(a.c - f.c)) AS BIGINT) AS sad,
             |    CAST(SUM(a.c) AS BIGINT) AS sc,
             |    CAST(SUM(a.c - f.c) AS BIGINT) AS sdiff
             |  FROM hourly a
             |  JOIN hourly f ON a.event_type = f.event_type
             |    AND a.h = f.h + INTERVAL 24 HOURS
             |  GROUP BY a.event_type)
             |SELECT event_type, n_scored,
             |  CAST(sad AS DOUBLE) / n_scored AS mae,
             |  CAST(sad AS DOUBLE) / CAST(sc AS DOUBLE) AS wape,
             |  CAST(sdiff AS DOUBLE) / n_scored AS bias
             |FROM scored ORDER BY event_type""".stripMargin)),

    // Theil-Sen robust trend of each event_type's hourly arrival
    // counts: the median of pairwise slopes, immune to the outlier
    // hours that wreck OLS (stat_linreg is the fragile twin). The full
    // estimator is quadratic in series length, so this is the BOUNDED
    // form production systems use: only pairs within a 24-hour
    // horizon, making the pair stream a band self-join — series_len ×
    // 24 rows, linear in the series at any scale (the join_range
    // blocking idea applied to time). Each slope Δcount/Δhours is one
    // exact-integer ratio (bit-identical both engines); the median
    // interpolates two doubles at most (the agg_mode_median device),
    // deterministic behind ROUND(…,4).
    Q("ts_theil_sen", {
      val HORIZON = 24
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"),
            (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
              .cast("long").as("hr"))
          .agg(count(lit(1)).as("c"))
        val slopes = hourly.as("a").join(hourly.as("b"),
            col("a.event_type") === col("b.event_type") &&
              col("b.hr") > col("a.hr") &&
              col("b.hr") <= col("a.hr") + HORIZON)
          .select(col("a.event_type").as("event_type"),
            ((col("b.c") - col("a.c")).cast("double") /
              (col("b.hr") - col("a.hr")).cast("double")).as("slope"))
        slopes.groupBy("event_type")
          .agg(count(lit(1)).as("n_slopes"),
            round(expr("percentile(slope, 0.5)"), 4).as("theil_sen_slope"))
          .orderBy("event_type")
      }
    },
      Some("""WITH hourly AS (
             |  SELECT event_type,
             |    CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hr,
             |    COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |slopes AS (
             |  SELECT a.event_type,
             |    CAST(b.c - a.c AS DOUBLE) / CAST(b.hr - a.hr AS DOUBLE)
             |      AS slope
             |  FROM hourly a JOIN hourly b
             |    ON a.event_type = b.event_type
             |   AND b.hr > a.hr AND b.hr <= a.hr + 24)
             |SELECT event_type, COUNT(*) AS n_slopes,
             |  ROUND(quantile_cont(slope, 0.5), 4) AS theil_sen_slope
             |FROM slopes GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Single-frequency periodogram at the two calendar periods (24 h
    // daily, 168 h weekly): spectral power share = (Sc²+Ss²)/SS_tot
    // where Sc = Σ(c_t−c̄)·cos(2πt/P), the targeted version of an FFT a
    // distributed engine actually runs (project onto the few periods
    // that matter; never materialize the full spectrum). Cross-engine
    // float discipline: cos/sin weights are PRE-ROUNDED DECIMAL(14,12)
    // LITERALS generated once in Scala and embedded in BOTH the Spark
    // plan and the oracle SQL, so Σ c·w and Σ w accumulate as exact
    // decimals (counts are integers) — associative at any
    // partitioning; the mean-correction and the final ratio are a few
    // double ops on those exact sums, ROUND(…,4). Per period: one
    // phase-indexed projection inside the same hash aggregate — cost
    // identical to a plain group count at any scale.
    Q("ts_periodogram", {
      val PERIODS = Seq(24, 168)
      def w(f: Int => Double, p: Int): IndexedSeq[java.math.BigDecimal] =
        (0 until p).map(k => new java.math.BigDecimal(f(k))
          .setScale(12, java.math.RoundingMode.HALF_EVEN))
      def cosT(p: Int) = w(k => math.cos(2 * math.Pi * k / p), p)
      def sinT(p: Int) = w(k => math.sin(2 * math.Pi * k / p), p)
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"),
            (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
              .cast("long").as("hr"))
          .agg(count(lit(1)).as("c"))
        val perPeriod = PERIODS.map { p =>
          val ct = cosT(p).map(x => s"${x.toPlainString}BD").mkString(",")
          val st = sinT(p).map(x => s"${x.toPlainString}BD").mkString(",")
          hourly
            .withColumn("ph", pmod(col("hr"), lit(p.toLong)).cast("int"))
            .withColumn("cw", expr(s"element_at(array($ct), ph + 1)"))
            .withColumn("sw", expr(s"element_at(array($st), ph + 1)"))
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum("c").as("sc"),
              sum(col("c") * col("c")).as("sc2"),
              sum(col("c") * col("cw")).as("pc"),
              sum(col("c") * col("sw")).as("ps"),
              sum(col("cw")).as("wc"), sum(col("sw")).as("ws"))
            .select(col("event_type"), lit(p.toLong).as("period"),
              col("n"), col("sc").as("total_events"),
              round({
                val mean = col("sc").cast("double") / col("n").cast("double")
                val a = col("pc").cast("double") - mean * col("wc").cast("double")
                val b = col("ps").cast("double") - mean * col("ws").cast("double")
                val sst = col("sc2").cast("double") -
                  col("n").cast("double") * mean * mean
                (a * a + b * b) / (col("n").cast("double") * sst)
              }, 4).as("power_share"))
        }
        perPeriod.reduce(_ unionByName _).orderBy("event_type", "period")
      }
    },
      Some {
        val PERIODS = Seq(24, 168)
        def tab(f: Int => Double, p: Int): String =
          (0 until p).map(k =>
            s"CAST(${new java.math.BigDecimal(f(k))
              .setScale(12, java.math.RoundingMode.HALF_EVEN).toPlainString} AS DECIMAL(14,12))")
            .mkString("[", ", ", "]")
        val arms = PERIODS.map { p =>
          s"""SELECT event_type, CAST($p AS BIGINT) AS period,
             |    COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS total_events,
             |    SUM(c * c) AS sc2,
             |    SUM(c * cw) AS pc, SUM(c * sw) AS ps,
             |    SUM(cw) AS wc, SUM(sw) AS ws
             |  FROM (SELECT event_type, c,
             |      ${tab(k => math.cos(2 * math.Pi * k / p), p)}[(hr % $p) + 1] AS cw,
             |      ${tab(k => math.sin(2 * math.Pi * k / p), p)}[(hr % $p) + 1] AS sw
             |    FROM hourly)
             |  GROUP BY event_type""".stripMargin
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH hourly AS (
           |  SELECT event_type,
           |    CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hr,
           |    COUNT(*) AS c
           |  FROM events GROUP BY 1, 2),
           |m AS (
           |  $arms)
           |SELECT event_type, period, n, total_events,
           |  ROUND(((CAST(pc AS DOUBLE) - (CAST(total_events AS DOUBLE) / n) * CAST(wc AS DOUBLE))
           |      * (CAST(pc AS DOUBLE) - (CAST(total_events AS DOUBLE) / n) * CAST(wc AS DOUBLE))
           |    + (CAST(ps AS DOUBLE) - (CAST(total_events AS DOUBLE) / n) * CAST(ws AS DOUBLE))
           |      * (CAST(ps AS DOUBLE) - (CAST(total_events AS DOUBLE) / n) * CAST(ws AS DOUBLE)))
           |    / (n * (CAST(sc2 AS DOUBLE) - n * (CAST(total_events AS DOUBLE) / n)
           |      * (CAST(total_events AS DOUBLE) / n))), 4) AS power_share
           |FROM m ORDER BY event_type, period""".stripMargin
      }),

    // First-order Markov transition matrix over per-user event
    // sequences — the behavioral-model / next-event-prediction
    // primitive. One shuffle on user_id, one within-partition sort on
    // the unique (ts, event_id) order for the lead(), then a tiny
    // |types|² aggregate; the row-count probability only divides two
    // integer counts, so the matrix is exact at any partitioning.
    Q("ts_markov_transitions",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val trans = Tables.events(s, d)
          .withColumn("to_type", lead("event_type", 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        val fromTot = trans.groupBy("from_type").agg(sum("n").as("nf"))
        trans.join(broadcast(fromTot), "from_type")
          .select(col("from_type"), col("to_type"), col("n"),
            round(col("n").cast("double") / col("nf").cast("double"), 4)
              .as("p"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH t AS (
             |  SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |c AS (
             |  SELECT from_type, to_type, COUNT(*) AS n
             |  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
             |f AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS nf
             |  FROM c GROUP BY 1)
             |SELECT c.from_type, c.to_type, n,
             |  ROUND(CAST(n AS DOUBLE) / CAST(nf AS DOUBLE), 4) AS p
             |FROM c JOIN f USING (from_type)
             |ORDER BY from_type, to_type""".stripMargin)),

    // Gaps-and-islands interval coalescing: each event opens a 30-min
    // activity window; overlapping windows per user merge into islands
    // (running max-of-previous-ends detects island starts, a running
    // sum numbers them). All arithmetic is integer microseconds —
    // exact. One shuffle on user_id + one in-partition sort serves
    // BOTH window functions and the island groupBy; the per-user
    // rollup is a second tiny aggregate. The classic sessionize
    // generalization: unlike win_sessionize_batch's fixed gap since
    // the LAST event, islands merge on interval OVERLAP, so a burst
    // of overlapping half-open windows collapses exactly.
    Q("ts_interval_merge",
      (s, d) => {
        val spanUs = 1800L * 1000000L
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val iv = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("s_us", unix_micros(col("ts")))
          .withColumn("e_us", col("s_us") + spanUs)
        val islands = iv
          .withColumn("prev_max_e", max("e_us")
            .over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("new_island",
            when(col("prev_max_e").isNull ||
              col("s_us") > col("prev_max_e"), 1L).otherwise(0L))
          .withColumn("island", sum("new_island")
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "island")
          .agg(count(lit(1)).as("n_events"),
            min("s_us").as("i_start"), max("e_us").as("i_end"))
        islands.groupBy("user_id")
          .agg(sum("n_events").as("n_events"),
            count(lit(1)).as("n_islands"),
            (sum(col("i_end") - col("i_start")) / 1000000L)
              .cast("long").as("busy_secs"),
            (max(col("i_end") - col("i_start")) / 1000000L)
              .cast("long").as("max_island_secs"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
             |    epoch_us(ts) + 1800000000 AS e_us, ts
             |  FROM events),
             |mk AS (
             |  SELECT user_id, s_us, e_us,
             |    CASE WHEN max(e_us) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      IS NULL OR s_us > max(e_us) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      THEN 1 ELSE 0 END AS new_island, ts, event_id
             |  FROM iv),
             |num AS (
             |  SELECT user_id, s_us, e_us,
             |    SUM(new_island) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |  FROM mk),
             |isl AS (
             |  SELECT user_id, island, COUNT(*) AS n_events,
             |    MIN(s_us) AS i_start, MAX(e_us) AS i_end
             |  FROM num GROUP BY 1, 2)
             |SELECT user_id, CAST(SUM(n_events) AS BIGINT) AS n_events,
             |  COUNT(*) AS n_islands,
             |  CAST(SUM(i_end - i_start) // 1000000 AS BIGINT) AS busy_secs,
             |  CAST(MAX(i_end - i_start) // 1000000 AS BIGINT)
             |    AS max_island_secs
             |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // First-touch / last-touch attribution: every purchase is credited
    // to the user's earliest and latest click/view inside a 24 h
    // lookback; purchases with no touch surface as ('none','none')
    // instead of dropping out (LEFT join with the band predicate IN
    // the join condition — a post-filter would silently turn it
    // inner). Shuffle shape: one user-keyed join (per-user fan-in
    // bounded by the 24 h band), two row_number windows partitioned by
    // purchase id, then a ≤|types|² aggregate. Lookback stats are
    // exact integer µs sums until one final double division.
    Q("ts_attribution_touch",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"),
            col("ts").as("p_ts"))
        val touches = ev.filter(col("event_type").isin("click", "view"))
          .select(col("user_id").as("t_user"), col("event_id").as("t_id"),
            col("ts").as("t_ts"), col("event_type").as("t_type"))
        val cond = purchases("user_id") === touches("t_user") &&
          touches("t_ts") <= purchases("p_ts") &&
          unix_micros(purchases("p_ts")) - unix_micros(touches("t_ts")) <=
            86400000000L
        val base = purchases.join(touches, cond, "left")
          .select(col("p_id"), col("p_ts"), col("t_id"), col("t_ts"),
            col("t_type"))
        // ONE window spec (one per-purchase sort) serves both ends of
        // the touch sequence: first/last over the full frame replace
        // the original two opposite-order row_number windows + p_id
        // self-join (measured 3.1 s → the join and second sort were
        // half the cost).
        val wF = Window.partitionBy("p_id")
          .orderBy(col("t_ts").asc_nulls_first, col("t_id").asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val m = base
          .withColumn("first_type",
            coalesce(first("t_type").over(wF), lit("none")))
          .withColumn("last_type",
            coalesce(last("t_type").over(wF), lit("none")))
          .withColumn("lookback_us",
            unix_micros(col("p_ts")) -
              unix_micros(first("t_ts").over(wF)))
          .groupBy("p_id")
          .agg(max("first_type").as("first_type"),
            max("last_type").as("last_type"),
            max("lookback_us").as("lookback_us"))
        m.groupBy("first_type", "last_type")
          .agg(count(lit(1)).as("n"),
            round(sum("lookback_us").cast("double") /
              count(col("lookback_us")) / 60000000.0, 4)
              .as("avg_first_lookback_min"))
          .withColumn("share", round(col("n").cast("double") /
            sum("n").over(Window.partitionBy()), 4))
          .orderBy("first_type", "last_type")
      },
      Some("""WITH p AS (
             |  SELECT user_id, event_id AS p_id, ts AS p_ts FROM events
             |  WHERE event_type = 'purchase'),
             |t AS (
             |  SELECT user_id AS t_user, event_id AS t_id, ts AS t_ts,
             |    event_type AS t_type
             |  FROM events WHERE event_type IN ('click', 'view')),
             |base AS (
             |  SELECT p.p_id, p.p_ts, t.t_id, t.t_ts, t.t_type
             |  FROM p LEFT JOIN t ON p.user_id = t.t_user
             |    AND t.t_ts <= p.p_ts
             |    AND epoch_us(p.p_ts) - epoch_us(t.t_ts) <= 86400000000),
             |w AS (
             |  SELECT p_id,
             |    COALESCE(first_value(t_type) OVER win, 'none') AS first_type,
             |    COALESCE(last_value(t_type) OVER win, 'none') AS last_type,
             |    epoch_us(p_ts) - epoch_us(first_value(t_ts) OVER win)
             |      AS lookback_us
             |  FROM base
             |  WINDOW win AS (PARTITION BY p_id
             |    ORDER BY t_ts ASC NULLS FIRST, t_id ASC NULLS FIRST
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
             |m AS (
             |  SELECT p_id, MAX(first_type) AS first_type,
             |    MAX(last_type) AS last_type, MAX(lookback_us) AS lookback_us
             |  FROM w GROUP BY p_id),
             |g AS (
             |  SELECT first_type, last_type, COUNT(*) AS n,
             |    ROUND(CAST(SUM(lookback_us) AS DOUBLE)
             |      / COUNT(lookback_us) / 60000000.0, 4)
             |      AS avg_first_lookback_min
             |  FROM m GROUP BY 1, 2)
             |SELECT first_type, last_type, n, avg_first_lookback_min,
             |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 4) AS share
             |FROM g ORDER BY first_type, last_type""".stripMargin)),

    // Ljung–Box portmanteau test on the hourly arrival series — the
    // "is there ANY autocorrelation structure?" gate run before
    // trusting ts_autocorrelation's per-lag values. The textbook
    // fixed-mean ACF is computed as a ratio of EXACT integers by
    // scaling through n²: ρ_k = (n²Σxy − nS(Σhead+Σtail) + (n−k)S²)
    // / (n(nΣx² − S²)) — every term a BIGINT from two aggregate
    // passes (per-lag pair sums via the stack device + per-series
    // totals broadcast in), so each ρ is one identical IEEE division;
    // Q = n(n+2)Σρ²/(n−k) combines m=6 floats behind ROUND. Reject
    // decided on raw Q vs the χ²(6) 5% critical value.
    Q("ts_ljung_box", {
      val LAGS = 1 to 6
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(eager = false)
        val tot = hourly.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("c").as("sx"),
            sum(col("c") * col("c")).as("sxx"))
        val w = Window.partitionBy("event_type").orderBy("h")
        val lagged = LAGS.foldLeft(hourly) { (df, l) =>
          df.withColumn(s"x$l", lag(col("c"), l).over(w))
        }
        val stackExpr = LAGS.map(l => s"${l}L, x$l").mkString(", ")
        val perLag = lagged
          .selectExpr("event_type", "c",
            s"stack(${LAGS.size}, $stackExpr) AS (lag, xl)")
          .filter(col("xl").isNotNull)
          .groupBy("event_type", "lag")
          .agg(sum(col("c") * col("xl")).as("sxy"),
            sum("c").as("st"), sum("xl").as("sh"))
        val rho = perLag.join(broadcast(tot), "event_type")
          .withColumn("rho",
            (col("n") * col("n") * col("sxy") -
              col("n") * col("sx") * (col("st") + col("sh")) +
              (col("n") - col("lag")) * col("sx") * col("sx"))
              .cast("double") /
              (col("n") * (col("n") * col("sxx") -
                col("sx") * col("sx"))).cast("double"))
        rho.groupBy("event_type")
          .agg(max("n").as("n"),
            sum(col("rho") * col("rho") /
              (col("n") - col("lag")).cast("double")).as("ssum"))
          .withColumn("q_raw",
            col("n").cast("double") * (col("n") + 2).cast("double") *
              col("ssum"))
          .select(col("event_type"), col("n"),
            round(col("q_raw"), 4).as("q_stat"),
            (col("q_raw") > 12.592).as("reject_white_noise"))
          .orderBy("event_type")
      }
    }, Some {
      val LAGS = 1 to 6
      val lagCols = LAGS.map(l => s"LAG(c, $l) OVER w AS x$l").mkString(", ")
      val arms = LAGS.map(l =>
        s"SELECT event_type, CAST($l AS BIGINT) AS lag, c, x$l AS xl FROM lagged")
        .mkString("\n  UNION ALL ")
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
         |  FROM events GROUP BY 1, 2),
         |tot AS (
         |  SELECT event_type, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS sx,
         |    CAST(SUM(c * c) AS BIGINT) AS sxx
         |  FROM hourly GROUP BY 1),
         |lagged AS (
         |  SELECT event_type, c, $lagCols
         |  FROM hourly
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h)),
         |pairs AS (
         |  $arms),
         |perlag AS (
         |  SELECT event_type, lag, CAST(SUM(c * xl) AS BIGINT) AS sxy,
         |    CAST(SUM(c) AS BIGINT) AS st, CAST(SUM(xl) AS BIGINT) AS sh
         |  FROM pairs WHERE xl IS NOT NULL GROUP BY 1, 2),
         |rho AS (
         |  SELECT p.event_type, p.lag, t.n,
         |    CAST(t.n * t.n * p.sxy - t.n * t.sx * (p.st + p.sh)
         |        + (t.n - p.lag) * t.sx * t.sx AS DOUBLE)
         |      / CAST(t.n * (t.n * t.sxx - t.sx * t.sx) AS DOUBLE) AS rho
         |  FROM perlag p JOIN tot t USING (event_type)),
         |q AS (
         |  SELECT event_type, MAX(n) AS n,
         |    CAST(MAX(n) AS DOUBLE) * CAST(MAX(n) + 2 AS DOUBLE)
         |      * SUM(rho * rho / CAST(n - lag AS DOUBLE)) AS q_raw
         |  FROM rho GROUP BY event_type)
         |SELECT event_type, n, ROUND(q_raw, 4) AS q_stat,
         |  q_raw > 12.592 AS reject_white_noise
         |FROM q ORDER BY event_type""".stripMargin
    }),

    // Day-of-week × hour-of-day traffic profile — the capacity-
    // planning / anomaly-baseline matrix every ops dashboard carries.
    // One grouped count + a per-dow window total; the lift column
    // (observed vs the dow's uniform hourly rate) is one double ratio
    // of exact counts. Monday-based dow on BOTH engines (Spark
    // weekday() ↔ DuckDB isodow()−1 — the cross-engine calendar trap
    // is the operator's whole subtlety).
    Q("ts_dow_hod_profile",
      (s, d) => {
        val g = Tables.events(s, d)
          .groupBy(expr("weekday(ts)").cast("long").as("dow"),
            hour(col("ts")).cast("long").as("hod"))
          .agg(count(lit(1)).as("n"))
        val wD = Window.partitionBy("dow")
        g.withColumn("dow_total", sum("n").over(wD))
          .select(col("dow"), col("hod"), col("n"),
            round(col("n").cast("double") / col("dow_total").cast("double"),
              4).as("share_of_dow"),
            round(col("n").cast("double") /
              (col("dow_total").cast("double") / 24.0), 4).as("lift"))
          .orderBy("dow", "hod")
      },
      Some("""WITH g AS (
             |  SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow,
             |    CAST(hour(ts) AS BIGINT) AS hod, COUNT(*) AS n
             |  FROM events GROUP BY 1, 2)
             |SELECT dow, hod, n,
             |  ROUND(CAST(n AS DOUBLE)
             |    / CAST(SUM(n) OVER (PARTITION BY dow) AS DOUBLE), 4)
             |    AS share_of_dow,
             |  ROUND(CAST(n AS DOUBLE)
             |    / (CAST(SUM(n) OVER (PARTITION BY dow) AS DOUBLE) / 24.0), 4)
             |    AS lift
             |FROM g ORDER BY dow, hod""".stripMargin)),

    // Two-sided CUSUM drift detection on daily per-type totals — the
    // classic SPC change detector (Page 1954). The recursion
    // S⁺_t = max(0, S⁺_{t−1} + z_t − k) is not a window aggregate, but
    // its closed form IS: S⁺_t = Y_t − min(0, min_{j≤t} Y_j) with
    // Y_t = Σ_{i≤t}(z_i − k) — one running sum + one running min per
    // side. Determinism is INTEGER-DOMAIN end to end: daily totals are
    // exact cents (DECIMAL), the standardization uses the identity
    // n·Σ(c−μ)² = Σ(n·c − S)² so variance needs no float mean, and the
    // z-scores enter the running sums as ROUNDED MILLI-UNITS (BIGINT),
    // so the cumulative Y/min are order-proof integers — no reliance on
    // either engine's window-accumulation order (DuckDB segment-trees
    // sliding frames; a float fold there would not match Spark's
    // sequential accumulation). Scale: the only corpus-wide pass is the
    // (type, day) pre-aggregate; everything after runs on ~30 rows per
    // type, and a year×10⁶-series workload is still one shuffle plus
    // tiny per-key windows.
    Q("ts_cusum", {
      val K_MILLI = 2500L  // drift allowance k = 0.25 in z units
      val H_MILLI = 20000L // alarm threshold h = 2.0 in z units
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("decimal(20,0)").as("cents"))
        val wAll = Window.partitionBy("event_type")
        val wRun = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val dev = (col("n") * col("cents") - col("s")).cast("decimal(19,0)")
        val z = dev.cast("double") /
          sqrt((sum((dev * dev).cast("decimal(38,0)")).over(wAll))
            .cast("double") / (col("n") - 1).cast("double"))
        val scored = daily
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("s", sum("cents").over(wAll))
          .withColumn("zmilli",
            floor(z * 10000.0 + 0.5).cast("long"))
        val up = col("y_up") - least(lit(0L), min("y_up").over(wRun))
        val dn = col("y_dn") - least(lit(0L), min("y_dn").over(wRun))
        scored
          .withColumn("y_up", sum(col("zmilli") - K_MILLI).over(wRun))
          .withColumn("y_dn", sum(-col("zmilli") - K_MILLI).over(wRun))
          .select(col("event_type"), col("day").cast("string").as("day"),
            (col("zmilli").cast("double") / 10000.0).as("z"),
            (up.cast("double") / 10000.0).as("cusum_pos"),
            (dn.cast("double") / 10000.0).as("cusum_neg"),
            (up > H_MILLI || dn > H_MILLI).as("alarm"))
          .orderBy("event_type", "day")
      }
    },
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100
             |      AS DECIMAL(20,0)) AS cents
             |  FROM events GROUP BY 1, 2),
             |stats AS (
             |  SELECT event_type, day, cents,
             |    COUNT(*) OVER tw AS n, SUM(cents) OVER tw AS s
             |  FROM daily WINDOW tw AS (PARTITION BY event_type)),
             |devs AS (
             |  SELECT event_type, day, n,
             |    CAST(n * cents - s AS DECIMAL(19,0)) AS dev
             |  FROM stats),
             |sd AS (
             |  SELECT *, SUM(CAST(dev * dev AS DECIMAL(38,0)))
             |      OVER (PARTITION BY event_type) AS sd2
             |  FROM devs),
             |scored AS (
             |  SELECT event_type, day,
             |    CAST(floor(CAST(dev AS DOUBLE)
             |      / sqrt(CAST(sd2 AS DOUBLE) / CAST(n - 1 AS DOUBLE))
             |      * 10000.0 + 0.5) AS BIGINT) AS zmilli
             |  FROM sd),
             |ys AS (
             |  SELECT event_type, day, zmilli,
             |    SUM(zmilli - 2500) OVER rw AS y_up,
             |    SUM(-zmilli - 2500) OVER rw AS y_dn
             |  FROM scored
             |  WINDOW rw AS (PARTITION BY event_type ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |runs AS (
             |  SELECT event_type, day, zmilli, y_up, y_dn,
             |    MIN(y_up) OVER rw AS m_up, MIN(y_dn) OVER rw AS m_dn
             |  FROM ys
             |  WINDOW rw AS (PARTITION BY event_type ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT event_type, CAST(day AS VARCHAR) AS day,
             |  CAST(zmilli AS DOUBLE) / 10000.0 AS z,
             |  CAST(y_up - LEAST(0, m_up) AS DOUBLE) / 10000.0 AS cusum_pos,
             |  CAST(y_dn - LEAST(0, m_dn) AS DOUBLE) / 10000.0 AS cusum_neg,
             |  (y_up - LEAST(0, m_up) > 20000
             |    OR y_dn - LEAST(0, m_dn) > 20000) AS alarm
             |FROM runs ORDER BY event_type, day""".stripMargin)),

    // Hampel filter: the robust despiking pass a sensor/metrics
    // pipeline runs before modeling — each point compared to its
    // CENTERED ±3-row window median, flagged and repaired when it sits
    // more than 3·1.4826·MAD away (1.4826 ≈ the Gaussian MAD→σ
    // consistency constant). Both the median and the MAD are EXACT
    // within-row array math over ONE collected frame (sorted picks and
    // one (a+b)/2 for even frames, a transform for |x−med| — no
    // accumulation, so nothing to round): the same device as
    // ts_rolling_median, extended by a second in-row sort for the MAD.
    // One user-keyed shuffle; the frame is 7 rows regardless of
    // history; the threshold multiplier is emitted as the exact Scala
    // double so both engines compare identical products.
    Q("ts_hampel", {
      val THRESH = s"${3.0 * 1.4826}"
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy("ep", "event_id").rowsBetween(-3, 3)
        Tables.events(s, d)
          .withColumn("ep", expr("unix_micros(ts) div 1000000"))
          .withColumn("arr", sort_array(collect_list("value").over(w)))
          .withColumn("n", size(col("arr")))
          .withColumn("med",
            expr("""CASE WHEN n % 2 = 1 THEN element_at(arr, CAST((n + 1) div 2 AS INT))
              ELSE (element_at(arr, CAST(n div 2 AS INT))
                  + element_at(arr, CAST(n div 2 + 1 AS INT))) / 2.0
              END"""))
          .withColumn("devs",
            expr("array_sort(transform(arr, v -> abs(v - med)))"))
          .withColumn("mad",
            expr("""CASE WHEN n % 2 = 1 THEN element_at(devs, CAST((n + 1) div 2 AS INT))
              ELSE (element_at(devs, CAST(n div 2 AS INT))
                  + element_at(devs, CAST(n div 2 + 1 AS INT))) / 2.0
              END"""))
          .withColumn("is_outlier",
            abs(col("value") - col("med")) > expr(THRESH) * col("mad"))
          .select(col("event_id"), col("user_id"), col("value"),
            col("med"), col("mad"),
            when(col("is_outlier"), col("med")).otherwise(col("value"))
              .as("repaired"),
            col("is_outlier"))
          .orderBy("event_id")
      }
    },
      Some {
        val THRESH = s"${3.0 * 1.4826}"
        s"""SELECT event_id, user_id, value, med, mad,
           |  CASE WHEN abs(value - med) > $THRESH * mad
           |    THEN med ELSE value END AS repaired,
           |  abs(value - med) > $THRESH * mad AS is_outlier
           |FROM (
           |  SELECT event_id, user_id, value, med, n,
           |    CASE WHEN n % 2 = 1 THEN devs[CAST((n + 1) // 2 AS INT)]
           |      ELSE (devs[CAST(n // 2 AS INT)]
           |          + devs[CAST(n // 2 + 1 AS INT)]) / 2.0
           |    END AS mad
           |  FROM (
           |    SELECT event_id, user_id, value, med, n,
           |      list_sort(list_transform(arr, v -> abs(v - med))) AS devs
           |    FROM (
           |      SELECT event_id, user_id, value, arr, n,
           |        CASE WHEN n % 2 = 1 THEN arr[CAST((n + 1) // 2 AS INT)]
           |          ELSE (arr[CAST(n // 2 AS INT)]
           |              + arr[CAST(n // 2 + 1 AS INT)]) / 2.0
           |        END AS med
           |      FROM (
           |        SELECT event_id, user_id, value,
           |          list_sort(list(value) OVER w) AS arr,
           |          CAST(COUNT(*) OVER w AS INT) AS n
           |        FROM events
           |        WINDOW w AS (PARTITION BY user_id
           |                     ORDER BY epoch_us(ts) // 1000000, event_id
           |                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) t1
           |      ) t2) t3) t4
           |ORDER BY event_id""".stripMargin
      }),

    // Partial autocorrelation (lags 1–4) via the Durbin–Levinson
    // recursion — the AR-order diagnostic ts_autocorrelation's plain
    // ACF can't give (PACF removes the shorter-lag pass-through). The
    // autocovariances are ALL-INTEGER: with D_t = n·c_t − S (the
    // no-float-mean identity from ts_cusum), Σ D_t·D_{t+k} and Σ D²
    // are exact DECIMALs, so ρ_k is one division of exact integers and
    // the whole D-L triangle is scalar double arithmetic on a 5-row
    // frame. The recursion steps are generated ONCE as dialect-neutral
    // arithmetic strings and emitted verbatim into both engines
    // (withColumn chain ↔ chained CTEs), so the two sides cannot
    // drift. Corpus cost: one (type, day) aggregate + tiny per-type
    // lag windows; the recursion itself is per-group O(k²) scalars.
    Q("ts_pacf_durbin", {
      // (name, expr) pairs in dependency order; pure arithmetic on
      // rho1..rho4, legal verbatim in Spark SQL and DuckDB.
      val DL: Seq[(String, String)] = Seq(
        "phi11" -> "rho1",
        "den2" -> "1.0 - phi11 * rho1",
        "phi22" -> "(rho2 - phi11 * rho1) / den2",
        "phi21" -> "phi11 - phi22 * phi11",
        "den3" -> "1.0 - phi21 * rho1 - phi22 * rho2",
        "phi33" -> "(rho3 - phi21 * rho2 - phi22 * rho1) / den3",
        "phi31" -> "phi21 - phi33 * phi22",
        "phi32" -> "phi22 - phi33 * phi21",
        "den4" -> "1.0 - phi31 * rho1 - phi32 * rho2 - phi33 * rho3",
        "phi44" -> "(rho4 - phi31 * rho3 - phi32 * rho2 - phi33 * rho1) / den4")
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("decimal(20,0)").as("cents"))
        val wAll = Window.partitionBy("event_type")
        val wOrd = Window.partitionBy("event_type").orderBy("day")
        val devs = daily
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("s", sum("cents").over(wAll))
          .withColumn("dev",
            (col("n") * col("cents") - col("s")).cast("decimal(19,0)"))
        val lagged = (1 to 4).foldLeft(devs) { (df, k) =>
          df.withColumn(s"dev$k", lead("dev", k).over(wOrd))
        }
        val sumCols = sum((col("dev") * col("dev")).cast("decimal(38,0)"))
          .as("s0") +:
          (1 to 4).map(k =>
            sum((col("dev") * col(s"dev$k")).cast("decimal(38,0)"))
              .as(s"s$k")) :+ count(lit(1)).as("n_days")
        val rhos = lagged.groupBy("event_type")
          .agg(sumCols.head, sumCols.tail: _*)
        val withRho = (1 to 4).foldLeft(rhos) { (df, k) =>
          df.withColumn(s"rho$k",
            col(s"s$k").cast("double") / col("s0").cast("double"))
        }
        val solved = DL.foldLeft(withRho) { case (df, (name, e)) =>
          df.withColumn(name, expr(e))
        }
        solved.select(col("event_type"), col("n_days"),
          round(col("phi11"), 4).as("pacf1"),
          round(col("phi22"), 4).as("pacf2"),
          round(col("phi33"), 4).as("pacf3"),
          round(col("phi44"), 4).as("pacf4"))
          .orderBy("event_type")
      }
    },
      Some {
        val DL: Seq[(String, String)] = Seq(
          "phi11" -> "rho1",
          "den2" -> "1.0 - phi11 * rho1",
          "phi22" -> "(rho2 - phi11 * rho1) / den2",
          "phi21" -> "phi11 - phi22 * phi11",
          "den3" -> "1.0 - phi21 * rho1 - phi22 * rho2",
          "phi33" -> "(rho3 - phi21 * rho2 - phi22 * rho1) / den3",
          "phi31" -> "phi21 - phi33 * phi22",
          "phi32" -> "phi22 - phi33 * phi21",
          "den4" -> "1.0 - phi31 * rho1 - phi32 * rho2 - phi33 * rho3",
          "phi44" -> "(rho4 - phi31 * rho3 - phi32 * rho2 - phi33 * rho1) / den4")
        val (lastCte, ctes) = DL.zipWithIndex.foldLeft(("rhos",
          Seq.empty[String])) { case ((prev, acc), ((name, e), i)) =>
          val cte = s"dl$i"
          (cte, acc :+ s"$cte AS (SELECT *, $e AS $name FROM $prev)")
        }
        s"""WITH daily AS (
           |  SELECT event_type, CAST(ts AS DATE) AS day,
           |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100
           |      AS DECIMAL(20,0)) AS cents
           |  FROM events GROUP BY 1, 2),
           |devs AS (
           |  SELECT event_type, day,
           |    CAST(n * cents - s AS DECIMAL(19,0)) AS dev
           |  FROM (SELECT event_type, day, cents,
           |      COUNT(*) OVER tw AS n, SUM(cents) OVER tw AS s
           |    FROM daily WINDOW tw AS (PARTITION BY event_type)) t),
           |lagged AS (
           |  SELECT event_type, dev,
           |    ${(1 to 4).map(k =>
                  s"LEAD(dev, $k) OVER ow AS dev$k").mkString(",\n           |    ")}
           |  FROM devs
           |  WINDOW ow AS (PARTITION BY event_type ORDER BY day)),
           |sums AS (
           |  SELECT event_type,
           |    SUM(CAST(dev * dev AS DECIMAL(38,0))) AS s0,
           |    ${(1 to 4).map(k =>
                  s"SUM(CAST(dev * dev$k AS DECIMAL(38,0))) AS s$k")
                  .mkString(",\n           |    ")},
           |    COUNT(*) AS n_days
           |  FROM lagged GROUP BY event_type),
           |rhos AS (
           |  SELECT event_type, n_days,
           |    ${(1 to 4).map(k =>
                  s"CAST(s$k AS DOUBLE) / CAST(s0 AS DOUBLE) AS rho$k")
                  .mkString(",\n           |    ")}
           |  FROM sums),
           |${ctes.mkString(",\n")}
           |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           |  ROUND(phi11, 4) AS pacf1, ROUND(phi22, 4) AS pacf2,
           |  ROUND(phi33, 4) AS pacf3, ROUND(phi44, 4) AS pacf4
           |FROM $lastCte ORDER BY event_type""".stripMargin
      }),

    // Mann–Kendall trend test per event type — the nonparametric
    // "is this series drifting?" significance test that complements
    // ts_theil_sen's slope estimate (same S statistic family). S and
    // the tie-corrected variance are PURE INTEGERS: sign comparisons
    // on exact decimal daily cents, n(n−1)(2n+5) and Σ t(t−1)(2t+5)
    // in BIGINT, one /18.0 and one sqrt at the end; the z is rounded
    // before the trend-label comparison so the labels are cross-engine
    // stable. The pairwise term runs on the DAILY aggregate (days² per
    // type, never events²) — at 100 TB the corpus contributes one
    // (type, day) shuffle and the quadratic stays calendar-sized.
    Q("ts_mann_kendall",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("decimal(20,0)").as("cents"))
          .localCheckpoint(eager = false)
        val sStat = daily.as("a")
          .join(daily.as("b"), col("a.event_type") === col("b.event_type") &&
            col("a.day") < col("b.day"))
          .groupBy(col("a.event_type").as("event_type"))
          .agg(sum(when(col("b.cents") > col("a.cents"), 1L)
            .when(col("b.cents") < col("a.cents"), -1L)
            .otherwise(0L)).as("s_stat"))
        val ties = daily.groupBy("event_type", "cents")
          .agg(count(lit(1)).as("t"))
          .groupBy("event_type")
          .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
            .as("tie_term"), count(lit(1)).as("n_vals"))
        val ns = daily.groupBy("event_type").agg(count(lit(1)).as("n"))
        val varS = (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5)
          - col("tie_term")).cast("double") / lit(18.0)
        val z = when(col("s_stat") > 0,
          (col("s_stat") - 1).cast("double") / sqrt(varS))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") / sqrt(varS))
          .otherwise(lit(0.0))
        sStat.join(ties, "event_type").join(ns, "event_type")
          .select(col("event_type"), col("n"), col("s_stat"),
            round(varS, 4).as("var_s"), round(z, 4).as("z"))
          .withColumn("trend",
            when(col("z") > 1.96, "increasing")
              .when(col("z") < -1.96, "decreasing")
              .otherwise("no_trend"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100
             |      AS DECIMAL(20,0)) AS cents
             |  FROM events GROUP BY 1, 2),
             |s AS (
             |  SELECT a.event_type,
             |    CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
             |      WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT)
             |      AS s_stat
             |  FROM daily a JOIN daily b
             |    ON a.event_type = b.event_type AND a.day < b.day
             |  GROUP BY a.event_type),
             |ties AS (
             |  SELECT event_type,
             |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
             |  FROM (SELECT event_type, cents, COUNT(*) AS t
             |    FROM daily GROUP BY 1, 2) x
             |  GROUP BY event_type),
             |ns AS (SELECT event_type, COUNT(*) AS n
             |  FROM daily GROUP BY event_type),
             |j AS (
             |  SELECT s.event_type, n, s_stat,
             |    CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0
             |      AS var_s
             |  FROM s JOIN ties ON s.event_type = ties.event_type
             |  JOIN ns ON s.event_type = ns.event_type),
             |zz AS (
             |  SELECT event_type, n, s_stat, var_s,
             |    ROUND(CASE WHEN s_stat > 0
             |        THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
             |      WHEN s_stat < 0
             |        THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
             |      ELSE 0.0 END, 4) AS z
             |  FROM j)
             |SELECT event_type, n, s_stat, ROUND(var_s, 4) AS var_s, z,
             |  CASE WHEN z > 1.96 THEN 'increasing'
             |    WHEN z < -1.96 THEN 'decreasing'
             |    ELSE 'no_trend' END AS trend
             |FROM zz ORDER BY event_type""".stripMargin)),

    // Rolling OLS slope — the trailing-regression trend each metrics
    // dashboard overlays. Every frame moment is EXACT: x is the
    // sequence position (BIGINT via row_number, frame-invariant), y is
    // decimal cents, so Σx, Σx², Σy, Σxy are integer/decimal window
    // sums immune to either engine's frame-accumulation order (the
    // float hazard ts_cusum documents — DuckDB segment-trees its
    // frames). The textbook (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) never touches
    // a float until the LAST step: the 4-decimal rounding is done as
    // exact half-away-from-zero BIGINT-rational arithmetic
    // (k = (200·|num| + den) div (2·den), den > 0 for n ≥ 5), then one
    // identical IEEE division k/10⁴ in both engines — double-ROUND at
    // a .00005 boundary diverged across engines at sf0.01 (row 1800).
    // One user-keyed shuffle; the 21-row frame bounds state at any
    // history length.
    Q("win_slope_rolling",
      (s, d) => {
        val wOrd = Window.partitionBy("user_id").orderBy("ep", "event_id")
        val w = Window.partitionBy("user_id").orderBy("ep", "event_id")
          .rowsBetween(-20, 0)
        Tables.events(s, d)
          .withColumn("ep", expr("unix_micros(ts) div 1000000"))
          .withColumn("x", row_number().over(wOrd).cast("long"))
          .withColumn("cents",
            (col("value").cast("decimal(18,2)") * 100).cast("decimal(20,0)"))
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("sx", sum("x").over(w))
          .withColumn("sxx", sum(col("x") * col("x")).over(w))
          .withColumn("sy", sum("cents").over(w).cast("long"))
          .withColumn("sxy", sum((col("x").cast("decimal(20,0)") *
            col("cents")).cast("decimal(38,0)")).over(w).cast("long"))
          .filter(col("n") >= 5)
          .withColumn("num100",
            (col("n") * col("sxy") - col("sx") * col("sy")) * 100L)
          .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
          .withColumn("k", when(col("num100") >= 0,
              expr("(2 * num100 + den) div (2 * den)"))
            .otherwise(-expr("(2 * (-num100) + den) div (2 * den)")))
          .select(col("event_id"), col("user_id"), col("n"),
            (col("k").cast("double") / lit(10000.0)).as("slope_per_step"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, n,
             |  CAST(CASE WHEN num100 >= 0
             |      THEN (2 * num100 + den) // (2 * den)
             |      ELSE -((2 * (-num100) + den) // (2 * den)) END
             |    AS DOUBLE) / 10000.0 AS slope_per_step
             |FROM (
             |  SELECT event_id, user_id, n,
             |    (n * CAST(sxy AS BIGINT) - sx * CAST(sy AS BIGINT)) * 100
             |      AS num100,
             |    n * sxx - sx * sx AS den
             |  FROM (
             |    SELECT event_id, user_id,
             |      COUNT(*) OVER w AS n,
             |      SUM(x) OVER w AS sx,
             |      SUM(x * x) OVER w AS sxx,
             |      SUM(cents) OVER w AS sy,
             |      SUM(CAST(CAST(x AS DECIMAL(20,0)) * cents
             |        AS DECIMAL(38,0))) OVER w AS sxy
             |    FROM (
             |      SELECT event_id, user_id,
             |        ROW_NUMBER() OVER (PARTITION BY user_id
             |          ORDER BY epoch_us(ts) // 1000000, event_id) AS x,
             |        CAST(CAST(value AS DECIMAL(18,2)) * 100
             |          AS DECIMAL(20,0)) AS cents
             |      FROM events) b
             |    WINDOW w AS (PARTITION BY user_id
             |                 ORDER BY x
             |                 ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)) t
             |  WHERE n >= 5) m
             |ORDER BY event_id""".stripMargin)),

    // Gaps-and-islands — consecutive-active-day runs per user, the
    // classic streak/retention shape (login streaks, SLA uptime runs).
    // The island key is the constant-on-a-run `day_number − row_number`
    // difference: one distinct-project of the fact (map-side combine),
    // one user-keyed window rank, two bounded aggregates. All island
    // arithmetic is integer (date-diff days, BIGINT ranks); the
    // longest-island pick is an exact max_by on the composite
    // (len DESC, start ASC) order, so no float enters at all. Scale:
    // state per user is its distinct-day count — calendar-bounded, not
    // event-bounded — and every stage shuffles once on user_id.
    Q("win_islands_activity",
      (s, d) => {
        val wDay = Window.partitionBy("user_id").orderBy("day")
        val islands = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
          .withColumn("grp",
            datediff(col("day"), lit("1970-01-01")).cast("long") -
              row_number().over(wDay))
          .groupBy("user_id", "grp")
          .agg(min("day").as("island_start"), count(lit(1)).as("len"))
        islands.groupBy("user_id")
          .agg(sum("len").as("n_active_days"),
            count(lit(1)).as("n_islands"),
            max("len").as("longest_len"),
            expr("min_by(island_start, struct(-len, island_start))")
              .as("longest_start"))
          .orderBy("user_id")
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
             |isl AS (
             |  SELECT user_id, MIN(day) AS island_start,
             |    CAST(COUNT(*) AS BIGINT) AS len
             |  FROM (
             |    SELECT user_id, day,
             |      (day - DATE '1970-01-01')
             |        - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
             |        AS grp
             |    FROM days) t
             |  GROUP BY user_id, grp)
             |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
             |  CAST(COUNT(*) AS BIGINT) AS n_islands,
             |  MAX(len) AS longest_len,
             |  FIRST(island_start ORDER BY len DESC, island_start)
             |    AS longest_start
             |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Classical seasonal decomposition by moving averages (the
    // decompose() textbook method, STL's ancestor): hourly event
    // counts → TREND = centered 2×24 MA (even period, so the standard
    // half-weight endpoints: (c₋₁₂ + 2Σ₋₁₁..₊₁₁ + c₊₁₂)/48), SEASONAL
    // = per-hour-of-day mean of the detrended series, REMAINDER
    // variance per hod. The integer device: detrended×48 (d48 = 48c −
    // N) and remainder×48n_h (n_h·d48 − Σd48) stay EXACT BIGINTs, so
    // Σd48 and Σ(n_h·d48 − S)² are order-proof integer aggregates and
    // each output is one mirrored double division at the very end (at
    // petabyte counts the squared term would need doubles — the
    // integer form is the oracle-portability device, the plan shape is
    // what scales). Scale shape: the fact collapses to a
    // calendar-bounded hourly series FIRST (one map-side-combined agg);
    // the unpartitioned window then runs over ~720 rows, not the
    // corpus — "window over the tiny aggregate", never the raw fact.
    Q("ts_decompose_ma",
      (s, d) => {
        val wOrd = Window.orderBy("h")
        val wMa = Window.orderBy("h").rowsBetween(-11, 11)
        val hourly = Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
        val full = hourly
          .withColumn("idx", row_number().over(wOrd))
          .withColumn("n_tot", count(lit(1)).over(
            Window.orderBy("h").rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .withColumn("nma",
            lit(2L) * sum("c").over(wMa) +
              lag("c", 12).over(wOrd) + lead("c", 12).over(wOrd))
          .filter(col("idx") >= 13 && col("idx") <= col("n_tot") - 12)
          .withColumn("d48", lit(48L) * col("c") - col("nma"))
        val byHod = full
          .groupBy(hour(col("h")).cast("long").as("hod"))
          .agg(count(lit(1)).as("n"), sum("d48").as("s48"))
        full.join(byHod, hour(col("h")).cast("long") === byHod("hod"))
          .withColumn("remnum",
            col("n") * col("d48") - col("s48"))
          .groupBy(col("hod"), col("n"), col("s48"))
          .agg(sum(col("remnum") * col("remnum")).as("rss"))
          .select(col("hod"), col("n"),
            (col("s48").cast("double") /
              (lit(48L) * col("n")).cast("double")).as("seasonal"),
            (col("rss").cast("double") /
              ((lit(48L) * col("n")).cast("double") *
                (lit(48L) * col("n")).cast("double")) /
              col("n").cast("double")).as("remainder_ms"))
          .orderBy("hod")
      },
      Some("""WITH hourly AS (
             |  SELECT date_trunc('hour', ts) AS h,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1),
             |ma AS (
             |  SELECT h, c,
             |    ROW_NUMBER() OVER (ORDER BY h) AS idx,
             |    COUNT(*) OVER () AS n_tot,
             |    2 * SUM(c) OVER (ORDER BY h
             |      ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING)
             |      + LAG(c, 12) OVER (ORDER BY h)
             |      + LEAD(c, 12) OVER (ORDER BY h) AS nma
             |  FROM hourly),
             |full_ AS (
             |  SELECT h, c, 48 * c - nma AS d48
             |  FROM ma WHERE idx >= 13 AND idx <= n_tot - 12),
             |byhod AS (
             |  SELECT CAST(hour(h) AS BIGINT) AS hod,
             |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(d48) AS BIGINT) AS s48
             |  FROM full_ GROUP BY 1),
             |rem AS (
             |  SELECT b.hod, b.n, b.s48,
             |    CAST(SUM((b.n * f.d48 - b.s48) * (b.n * f.d48 - b.s48))
             |      AS BIGINT) AS rss
             |  FROM full_ f JOIN byhod b ON CAST(hour(f.h) AS BIGINT) = b.hod
             |  GROUP BY b.hod, b.n, b.s48)
             |SELECT hod, n,
             |  CAST(s48 AS DOUBLE) / CAST(48 * n AS DOUBLE) AS seasonal,
             |  CAST(rss AS DOUBLE)
             |    / (CAST(48 * n AS DOUBLE) * CAST(48 * n AS DOUBLE))
             |    / CAST(n AS DOUBLE) AS remainder_ms
             |FROM rem ORDER BY hod""".stripMargin)),

    // Sweep-line interval concurrency — "how many orders are open on
    // each day": every interval drops a +1 at its start and a −1 one
    // past its end, one running sum over the DAY-level delta series
    // reconstructs the exact active count everywhere — the classic
    // O(n log n) alternative to the quadratic day×interval stabbing
    // join, and the shape behind concurrent-sessions, license-seat, and
    // inventory-level analytics. All integer; the unpartitioned window
    // runs over the calendar-bounded day aggregate (the fact is
    // collapsed FIRST with map-side combine), so the single-task stage
    // is a few-thousand-row prefix sum at any corpus size.
    Q("ts_concurrency_sweep",
      (s, d) => {
        val orders = Tables.orders(s, d)
          .select(to_date(col("o_orderdate")).as("od"))
        val deltas = orders
          .select(col("od").as("day"), lit(1L).as("delta"))
          .union(orders.select(date_add(col("od"), 7).as("day"),
            lit(-1L).as("delta")))
        deltas.groupBy("day")
          .agg(sum(when(col("delta") === 1L, 1L).otherwise(0L))
            .as("n_opened"),
            sum(when(col("delta") === -1L, 1L).otherwise(0L))
              .as("n_closed"),
            sum("delta").as("net"))
          .withColumn("active", sum("net").over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("day"), col("n_opened"), col("n_closed"),
            col("active"))
          .orderBy("day")
      },
      Some("""WITH deltas AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day, 1 AS delta
             |  FROM orders
             |  UNION ALL
             |  SELECT CAST(o_orderdate AS DATE) + 7 AS day, -1 AS delta
             |  FROM orders),
             |byday AS (
             |  SELECT day,
             |    CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_opened,
             |    CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_closed,
             |    CAST(SUM(delta) AS BIGINT) AS net
             |  FROM deltas GROUP BY day)
             |SELECT day, n_opened, n_closed,
             |  CAST(SUM(net) OVER (ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS active
             |FROM byday ORDER BY day""".stripMargin)),

    // Dynamic time warping between the daily click and purchase count
    // series — the elastic-alignment distance (phase-shifted seasonal
    // patterns, speed-varying user journeys) a plain Euclidean
    // comparison can't express. Scale split follows the k-means
    // codebook precedent: the CORPUS-proportional work (two day-level
    // aggregates) is distributed; the O(n·m) DP then runs on the
    // calendar-bounded series as a driver-side model computation —
    // all-integer costs (|Δcount|), so the table is exactly
    // reproducible anywhere. The oracle runs the SAME DP inside
    // DuckDB as a single-self-reference recursive CTE: each step
    // carries diagonal s forward and emits min-folded contributions to
    // diagonal s+1 through a 3-row (δi,δj) fan-out, so the standard
    // one-reference restriction on recursive CTEs is respected while
    // three predecessors still reach every cell.
    Q("ts_dtw_distance",
      (s, d) => {
        import s.implicits._
        def series(t: String): Array[Long] = Tables.events(s, d)
          .filter(col("event_type") === t)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
          .orderBy("day").select("c").collect().map(_.getLong(0))
        val a = series("click"); val b = series("purchase")
        val n = a.length; val m = b.length
        val big = Long.MaxValue / 4
        val dp = Array.fill(n + 1, m + 1)(big)
        for (i <- 1 to n; j <- 1 to m) {
          val c = math.abs(a(i - 1) - b(j - 1))
          val best =
            if (i == 1 && j == 1) 0L
            else math.min(dp(i - 1)(j), math.min(dp(i)(j - 1), dp(i - 1)(j - 1)))
          dp(i)(j) = c + best
        }
        Seq((n.toLong, m.toLong, dp(n)(m),
          dp(n)(m).toDouble / (n + m).toDouble))
          .toDF("n_a", "n_b", "dtw_cost", "dtw_per_step")
      },
      Some("""WITH RECURSIVE
             |sa AS (
             |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS i,
             |    CAST(c AS BIGINT) AS c
             |  FROM (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
             |        FROM events WHERE event_type = 'click' GROUP BY 1) t),
             |sb AS (
             |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS j,
             |    CAST(c AS BIGINT) AS c
             |  FROM (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
             |        FROM events WHERE event_type = 'purchase' GROUP BY 1) t),
             |nn AS (SELECT (SELECT MAX(i) FROM sa) AS n,
             |              (SELECT MAX(j) FROM sb) AS m),
             |dp AS (
             |  SELECT 2 AS s, CAST(1 AS BIGINT) AS i, CAST(1 AS BIGINT) AS j,
             |    abs(sa.c - sb.c) AS cost
             |  FROM sa, sb WHERE sa.i = 1 AND sb.j = 1
             |  UNION ALL
             |  SELECT s, i, j, MIN(cost) AS cost FROM (
             |    SELECT p.s + 1 AS s, p.i + f.di AS i, p.j + f.dj AS j,
             |      CASE WHEN f.di = 0 AND f.dj = 0 THEN p.cost
             |           ELSE p.cost + abs(sa.c - sb.c) END AS cost
             |    FROM dp p
             |    CROSS JOIN (VALUES (0, 0), (1, 0), (0, 1), (1, 1))
             |      f(di, dj)
             |    JOIN nn ON TRUE
             |    LEFT JOIN sa ON sa.i = p.i + f.di
             |    LEFT JOIN sb ON sb.j = p.j + f.dj
             |    WHERE p.s < nn.n + nn.m
             |      AND p.i + f.di <= nn.n AND p.j + f.dj <= nn.m
             |      AND ((f.di = 0 AND f.dj = 0 AND p.i + p.j = p.s)
             |        OR (NOT (f.di = 0 AND f.dj = 0)
             |            AND p.i + f.di + p.j + f.dj = p.s + 1))) g
             |  GROUP BY s, i, j)
             |SELECT nn.n AS n_a, nn.m AS n_b, dp.cost AS dtw_cost,
             |  CAST(dp.cost AS DOUBLE) / CAST(nn.n + nn.m AS DOUBLE)
             |    AS dtw_per_step
             |FROM dp, nn
             |WHERE dp.i = nn.n AND dp.j = nn.m AND dp.s = nn.n + nn.m
             |""".stripMargin)),

    // Skyline / Pareto frontier — the multi-objective dominance
    // operator (classic SKYLINE queries): which days are undominated
    // on (maximize purchases, minimize errors)? A day falls iff some
    // other day is at least as good on BOTH axes and strictly better
    // on one — an anti-join against the dominance self-join, all
    // integer comparisons, bounded by the calendar-sized day table
    // (at corpus scale the same shape runs after the day rollup; the
    // classic block-nested-loop refinements only matter when the
    // FRONTIER table itself is data-sized). Ties on both axes don't
    // dominate, so duplicate profiles co-survive — stated contract.
    Q("ts_pareto_days",
      (s, d) => {
        val byDay = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("purchases"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L))
              .as("errors"))
        val dominated = byDay.as("a").join(byDay.as("b"),
            col("b.purchases") >= col("a.purchases") &&
              col("b.errors") <= col("a.errors") &&
              (col("b.purchases") > col("a.purchases") ||
                col("b.errors") < col("a.errors")))
          .select(col("a.day").as("day")).distinct()
        byDay.join(dominated, Seq("day"), "left_anti")
          .orderBy("day")
      },
      Some("""WITH byday AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(SUM(CASE WHEN event_type = 'purchase'
             |      THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
             |    CAST(SUM(CASE WHEN event_type = 'error'
             |      THEN 1 ELSE 0 END) AS BIGINT) AS errors
             |  FROM events GROUP BY 1)
             |SELECT day, purchases, errors FROM byday a
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM byday b
             |  WHERE b.purchases >= a.purchases AND b.errors <= a.errors
             |    AND (b.purchases > a.purchases OR b.errors < a.errors))
             |ORDER BY day""".stripMargin)),

    // Sequential probability ratio test (Wald SPRT) — the
    // always-valid sequential monitor that decides AS DATA ARRIVES
    // ("is the purchase share 21% rather than 19%?"), the streaming
    // alternative to fixed-horizon stat_ab_test. Per-day binomial
    // log-likelihood ratios use ln factors computed ONCE and spliced
    // as identical literals (the Viterbi device); each day's LLR is
    // then rounded to MICRO-unit BIGINTs (the ts_cusum device) so the
    // running sum is an exact integer cumsum — order-proof — and the
    // ±ln(19) (α=β=0.05) decision boundaries compare integers.
    Q("ts_sprt_trace",
      (s, d) => {
        val p0 = 0.19; val p1 = 0.21
        val l1 = math.log(p1 / p0)
        val l2 = math.log((1.0 - p1) / (1.0 - p0))
        val thr6 = math.round(math.log(19.0) * 1e6)
        val byDay = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("c"), count(lit(1)).as("n"))
        byDay
          .withColumn("t6", round(
            (col("c").cast("double") * lit(l1) +
              (col("n") - col("c")).cast("double") * lit(l2)) * 1e6)
            .cast("long"))
          .withColumn("cum6", sum("t6").over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("day"), col("c"), col("n"),
            (col("cum6").cast("double") / 1e6).as("cum_llr"),
            when(col("cum6") >= thr6, "accept_h1")
              .when(col("cum6") <= -thr6, "accept_h0")
              .otherwise("continue").as("state"))
          .orderBy("day")
      }, {
        val p0 = 0.19; val p1 = 0.21
        val l1 = math.log(p1 / p0)
        val l2 = math.log((1.0 - p1) / (1.0 - p0))
        val thr6 = math.round(math.log(19.0) * 1e6)
        Some(s"""WITH byday AS (
                |  SELECT CAST(ts AS DATE) AS day,
                |    CAST(SUM(CASE WHEN event_type = 'purchase'
                |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
                |    CAST(COUNT(*) AS BIGINT) AS n
                |  FROM events GROUP BY 1),
                |t AS (
                |  SELECT day, c, n,
                |    CAST(round((CAST(c AS DOUBLE)
                |        * CAST('$l1' AS DOUBLE)
                |      + CAST(n - c AS DOUBLE) * CAST('$l2' AS DOUBLE))
                |      * 1000000.0) AS BIGINT) AS t6
                |  FROM byday),
                |cum AS (
                |  SELECT day, c, n,
                |    CAST(SUM(t6) OVER (ORDER BY day
                |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                |      AS BIGINT) AS cum6
                |  FROM t)
                |SELECT day, c, n,
                |  CAST(cum6 AS DOUBLE) / 1000000.0 AS cum_llr,
                |  CASE WHEN cum6 >= $thr6 THEN 'accept_h1'
                |       WHEN cum6 <= -$thr6 THEN 'accept_h0'
                |       ELSE 'continue' END AS state
                |FROM cum ORDER BY day""".stripMargin)
      }),

    // Difference-in-differences — the workhorse causal estimator when
    // only one arm gets treated mid-stream: DiD = (Ā_post − Ā_pre) −
    // (B̄_post − B̄_pre) nets out both the arm baseline and the shared
    // time shock. Arms are the user-id parity, the "intervention" is
    // the fixture mid-month; the four cell means come from ONE pass of
    // exact cents/count integers, the estimate and its pooled SE
    // (4-cell variance sum, each from exact n·Σx²−(Σx)² forms) are
    // mirrored doubles. Scale: O(1) state after one map-side-combined
    // aggregate.
    Q("ts_diff_in_diff",
      (s, d) => {
        val cells = Tables.events(s, d)
          .withColumn("cents", cents(col("value")))
          .withColumn("arm_a", (col("user_id") % 2 === 0).cast("long"))
          .withColumn("post", (dayofmonth(col("ts")) > 15).cast("long"))
          .groupBy("arm_a", "post")
          .agg(count(lit(1)).as("n"), sum("cents").as("s"),
            sum(col("cents") * col("cents")).as("q"))
        def cell(a: Int, p: Int, c: String) =
          max(when(col("arm_a") === a && col("post") === p, col(c)))
        val wide = cells.agg(
          cell(1, 0, "n").as("n_a0"), cell(1, 0, "s").as("s_a0"),
          cell(1, 0, "q").as("q_a0"),
          cell(1, 1, "n").as("n_a1"), cell(1, 1, "s").as("s_a1"),
          cell(1, 1, "q").as("q_a1"),
          cell(0, 0, "n").as("n_b0"), cell(0, 0, "s").as("s_b0"),
          cell(0, 0, "q").as("q_b0"),
          cell(0, 1, "n").as("n_b1"), cell(0, 1, "s").as("s_b1"),
          cell(0, 1, "q").as("q_b1"))
        def mean(nc: String, sc: String) =
          col(sc).cast("double") / col(nc) / 100.0
        def varOverN(nc: String, sc: String, qc: String) =
          (col(nc).cast("double") * col(qc).cast("double") -
            col(sc).cast("double") * col(sc).cast("double")) /
            (col(nc).cast("double") * (col(nc) - 1).cast("double")) /
            col(nc).cast("double") / 10000.0
        wide.select(
          (mean("n_a1", "s_a1") - mean("n_a0", "s_a0")).as("delta_a"),
          (mean("n_b1", "s_b1") - mean("n_b0", "s_b0")).as("delta_b"),
          ((mean("n_a1", "s_a1") - mean("n_a0", "s_a0")) -
            (mean("n_b1", "s_b1") - mean("n_b0", "s_b0"))).as("did"),
          sqrt(varOverN("n_a1", "s_a1", "q_a1") +
            varOverN("n_a0", "s_a0", "q_a0") +
            varOverN("n_b1", "s_b1", "q_b1") +
            varOverN("n_b0", "s_b0", "q_b0")).as("se"))
      },
      Some(s"""WITH cells AS (
             |  SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS arm_a,
             |    CASE WHEN dayofmonth(ts) > 15 THEN 1 ELSE 0 END AS post,
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(cents) AS BIGINT) AS s,
             |    CAST(SUM(cents * cents) AS BIGINT) AS q
             |  FROM (SELECT user_id, ts,
             |      ${SQL_CENTS("value")}
             |        AS cents FROM events) x
             |  GROUP BY 1, 2),
             |w AS (
             |  SELECT
             |    MAX(CASE WHEN arm_a = 1 AND post = 0 THEN n END) AS n_a0,
             |    MAX(CASE WHEN arm_a = 1 AND post = 0 THEN s END) AS s_a0,
             |    MAX(CASE WHEN arm_a = 1 AND post = 0 THEN q END) AS q_a0,
             |    MAX(CASE WHEN arm_a = 1 AND post = 1 THEN n END) AS n_a1,
             |    MAX(CASE WHEN arm_a = 1 AND post = 1 THEN s END) AS s_a1,
             |    MAX(CASE WHEN arm_a = 1 AND post = 1 THEN q END) AS q_a1,
             |    MAX(CASE WHEN arm_a = 0 AND post = 0 THEN n END) AS n_b0,
             |    MAX(CASE WHEN arm_a = 0 AND post = 0 THEN s END) AS s_b0,
             |    MAX(CASE WHEN arm_a = 0 AND post = 0 THEN q END) AS q_b0,
             |    MAX(CASE WHEN arm_a = 0 AND post = 1 THEN n END) AS n_b1,
             |    MAX(CASE WHEN arm_a = 0 AND post = 1 THEN s END) AS s_b1,
             |    MAX(CASE WHEN arm_a = 0 AND post = 1 THEN q END) AS q_b1
             |  FROM cells)
             |SELECT
             |  (CAST(s_a1 AS DOUBLE) / n_a1 / 100.0
             |    - CAST(s_a0 AS DOUBLE) / n_a0 / 100.0) AS delta_a,
             |  (CAST(s_b1 AS DOUBLE) / n_b1 / 100.0
             |    - CAST(s_b0 AS DOUBLE) / n_b0 / 100.0) AS delta_b,
             |  ((CAST(s_a1 AS DOUBLE) / n_a1 / 100.0
             |    - CAST(s_a0 AS DOUBLE) / n_a0 / 100.0)
             |   - (CAST(s_b1 AS DOUBLE) / n_b1 / 100.0
             |    - CAST(s_b0 AS DOUBLE) / n_b0 / 100.0)) AS did,
             |  sqrt(
             |    (CAST(n_a1 AS DOUBLE) * CAST(q_a1 AS DOUBLE)
             |      - CAST(s_a1 AS DOUBLE) * CAST(s_a1 AS DOUBLE))
             |      / (CAST(n_a1 AS DOUBLE) * CAST(n_a1 - 1 AS DOUBLE))
             |      / CAST(n_a1 AS DOUBLE) / 10000.0
             |  + (CAST(n_a0 AS DOUBLE) * CAST(q_a0 AS DOUBLE)
             |      - CAST(s_a0 AS DOUBLE) * CAST(s_a0 AS DOUBLE))
             |      / (CAST(n_a0 AS DOUBLE) * CAST(n_a0 - 1 AS DOUBLE))
             |      / CAST(n_a0 AS DOUBLE) / 10000.0
             |  + (CAST(n_b1 AS DOUBLE) * CAST(q_b1 AS DOUBLE)
             |      - CAST(s_b1 AS DOUBLE) * CAST(s_b1 AS DOUBLE))
             |      / (CAST(n_b1 AS DOUBLE) * CAST(n_b1 - 1 AS DOUBLE))
             |      / CAST(n_b1 AS DOUBLE) / 10000.0
             |  + (CAST(n_b0 AS DOUBLE) * CAST(q_b0 AS DOUBLE)
             |      - CAST(s_b0 AS DOUBLE) * CAST(s_b0 AS DOUBLE))
             |      / (CAST(n_b0 AS DOUBLE) * CAST(n_b0 - 1 AS DOUBLE))
             |      / CAST(n_b0 AS DOUBLE) / 10000.0) AS se
             |FROM w""".stripMargin)),

    // DAU growth accounting — the new/retained/resurrected/churned
    // decomposition every product dashboard leads with, and the
    // audit identity that keeps it honest: DAU(d) = new + retained +
    // resurrected, and DAU(d) − DAU(d−1) = new + resurrected −
    // churned. Built from ONE distinct (user, day) activity table:
    // per-user day lags classify each active day (first-ever, seen
    // yesterday, gap-return), churn comes from the same lag read
    // one day forward — two window passes on the user-keyed shuffle,
    // then a calendar-bounded day rollup. All exact integers.
    // Churn attaches via FULL OUTER join (r10, ADVICE): a day can
    // carry churn but zero DAU (e.g. the day after the last active
    // day), and a left join silently dropped those rows — breaking
    // the dDAU = new + resurrected − churned audit identity across
    // gap days. Zero-DAU churn days now emit explicit dau=0 rows.
    Q("ts_growth_accounting",
      (s, d) => {
        val wU = Window.partitionBy("user_id").orderBy("day")
        val act = Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
          .withColumn("prev_day", lag("day", 1).over(wU))
          .withColumn("next_day", lead("day", 1).over(wU))
        val states = act.select(col("day"),
          when(col("prev_day").isNull, 1L).otherwise(0L).as("is_new"),
          when(col("prev_day") === date_sub(col("day"), 1), 1L)
            .otherwise(0L).as("is_retained"),
          when(col("prev_day").isNotNull &&
            col("prev_day") < date_sub(col("day"), 1), 1L)
            .otherwise(0L).as("is_resurrected"))
        val churn = act
          .filter(col("next_day").isNull ||
            col("next_day") > date_add(col("day"), 1))
          .groupBy(date_add(col("day"), 1).as("day"))
          .agg(count(lit(1)).as("churned"))
        val daily = states.groupBy("day")
          .agg(count(lit(1)).as("dau"), sum("is_new").as("new_users"),
            sum("is_retained").as("retained"),
            sum("is_resurrected").as("resurrected"))
        daily.join(churn, Seq("day"), "full_outer")
          .select(col("day"),
            coalesce(col("dau"), lit(0L)).as("dau"),
            coalesce(col("new_users"), lit(0L)).as("new_users"),
            coalesce(col("retained"), lit(0L)).as("retained"),
            coalesce(col("resurrected"), lit(0L)).as("resurrected"),
            coalesce(col("churned"), lit(0L)).as("churned"))
          .orderBy("day")
      },
      Some("""WITH act AS (
             |  SELECT user_id, day,
             |    LAG(day, 1) OVER w AS prev_day,
             |    LEAD(day, 1) OVER w AS next_day
             |  FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |        FROM events) x
             |  WINDOW w AS (PARTITION BY user_id ORDER BY day)),
             |states AS (
             |  SELECT day,
             |    CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END AS is_new,
             |    CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END
             |      AS is_retained,
             |    CASE WHEN prev_day IS NOT NULL AND prev_day < day - 1
             |      THEN 1 ELSE 0 END AS is_resurrected
             |  FROM act),
             |churn AS (
             |  SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS churned
             |  FROM act
             |  WHERE next_day IS NULL OR next_day > day + 1
             |  GROUP BY day + 1),
             |daily AS (
             |  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau,
             |    CAST(SUM(is_new) AS BIGINT) AS new_users,
             |    CAST(SUM(is_retained) AS BIGINT) AS retained,
             |    CAST(SUM(is_resurrected) AS BIGINT) AS resurrected
             |  FROM states GROUP BY day)
             |SELECT COALESCE(d.day, c.day) AS day,
             |  COALESCE(d.dau, 0) AS dau,
             |  COALESCE(d.new_users, 0) AS new_users,
             |  COALESCE(d.retained, 0) AS retained,
             |  COALESCE(d.resurrected, 0) AS resurrected,
             |  COALESCE(c.churned, 0) AS churned
             |FROM daily d FULL JOIN churn c ON c.day = d.day
             |ORDER BY 1""".stripMargin)),

    // Cross-correlation function — "does click volume LEAD purchase
    // volume, and by how many hours?": the lead/lag discovery step
    // before any transfer-function model, and ts_autocorrelation's
    // two-series sibling. For each lag in −6..+6, the overlapping
    // hourly pairs (self-join of the calendar-bounded series on
    // h = h + lag) produce exact BIGINT moments (n, Σx, Σy, Σxy, Σx²,
    // Σy²), and Pearson r per lag is one mirrored double expression
    // over them — no float accumulates anywhere. Output also flags the
    // argmax |r| lag via an exact window rank.
    Q("ts_cross_correlation",
      (s, d) => {
        def hourly(t: String) = Tables.events(s, d)
          .filter(col("event_type") === t)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
        val a = hourly("click").select(col("h"), col("c").as("x"))
        val b = hourly("purchase").select(col("h").as("hb"),
          col("c").as("y"))
        val lags = (-6 to 6).map(l => a
          .join(b, expr(s"hb = h + INTERVAL $l HOURS"))
          .agg(lit(l.toLong).as("lag"), count(lit(1)).as("n"),
            sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy")))
        val r = lags.reduce(_.unionByName(_))
          .withColumn("ccf",
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double")))
        val w = Window.orderBy(abs(col("ccf")).desc, col("lag"))
        r.withColumn("is_peak_lag", (row_number().over(w) === 1))
          .select(col("lag"), col("n"), col("ccf"), col("is_peak_lag"))
          .orderBy("lag")
      },
      Some("""WITH ha AS (
             |  SELECT date_trunc('hour', ts) AS h,
             |    CAST(COUNT(*) AS BIGINT) AS x
             |  FROM events WHERE event_type = 'click' GROUP BY 1),
             |hb AS (
             |  SELECT date_trunc('hour', ts) AS h,
             |    CAST(COUNT(*) AS BIGINT) AS y
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |lags AS (SELECT CAST(l AS BIGINT) AS lag
             |  FROM unnest(generate_series(-6, 6)) t(l)),
             |m AS (
             |  SELECT lg.lag, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(a.x) AS BIGINT) AS sx,
             |    CAST(SUM(b.y) AS BIGINT) AS sy,
             |    CAST(SUM(a.x * b.y) AS BIGINT) AS sxy,
             |    CAST(SUM(a.x * a.x) AS BIGINT) AS sxx,
             |    CAST(SUM(b.y * b.y) AS BIGINT) AS syy
             |  FROM lags lg JOIN ha a ON TRUE
             |  JOIN hb b ON b.h = a.h + to_hours(lg.lag)
             |  GROUP BY lg.lag),
             |r AS (
             |  SELECT lag, n,
             |    CAST(n * sxy - sx * sy AS DOUBLE)
             |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
             |        * CAST(n * syy - sy * sy AS DOUBLE)) AS ccf
             |  FROM m)
             |SELECT lag, n, ccf,
             |  ROW_NUMBER() OVER (ORDER BY abs(ccf) DESC, lag) = 1
             |    AS is_peak_lag
             |FROM r ORDER BY lag""".stripMargin)),

    // Peak detection over the hourly event-count series: a peak is a
    // STRICT local maximum (beats both neighbors) that also clears the
    // exact 75th-percentile load (type-1 discrete quantile on BIGINTs —
    // percentile_disc / quantile_disc agree, the stat_runs_test
    // device), the alert-worthy-spike definition of every traffic
    // monitor. All integer comparisons, two lag/lead kernels over the
    // calendar-bounded hourly aggregate (fact collapsed first), plus
    // each peak's prominence-lite context (rise from the lower
    // neighbor). Zero float anywhere.
    Q("ts_peak_detection",
      (s, d) => {
        val wOrd = Window.orderBy("h")
        val hourly = Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
        val q75 = hourly.agg(
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY c)")
            .cast("long").as("q"))
        hourly.crossJoin(q75)
          .withColumn("prev", lag("c", 1).over(wOrd))
          .withColumn("next", lead("c", 1).over(wOrd))
          .filter(col("prev").isNotNull && col("next").isNotNull &&
            col("c") > col("prev") && col("c") > col("next") &&
            col("c") >= col("q"))
          .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("c"), col("prev"), col("next"), col("q").as("q75"),
            (col("c") - greatest(col("prev"), col("next"))).as("rise"))
          .orderBy("hour")
      },
      Some("""WITH hourly AS (
             |  SELECT date_trunc('hour', ts) AS h,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1),
             |q AS (SELECT CAST(quantile_disc(c, 0.75) AS BIGINT) AS q75
             |      FROM hourly),
             |k AS (
             |  SELECT h, c,
             |    LAG(c, 1) OVER (ORDER BY h) AS prev,
             |    LEAD(c, 1) OVER (ORDER BY h) AS next
             |  FROM hourly)
             |SELECT strftime(k.h, '%Y-%m-%d %H:%M:%S') AS hour,
             |  k.c, k.prev, k.next, q.q75,
             |  k.c - GREATEST(k.prev, k.next) AS rise
             |FROM k, q
             |WHERE k.prev IS NOT NULL AND k.next IS NOT NULL
             |  AND k.c > k.prev AND k.c > k.next AND k.c >= q.q75
             |ORDER BY hour""".stripMargin)),

    // Kaplan–Meier time-to-first-error survival: per user, the event
    // is the FIRST error day after their first activity; users who
    // never error are right-CENSORED at their last observed day — a
    // genuine mixed-censoring population at every fixture scale (a
    // last-active-day variant censored 100% of users and returned an
    // empty — hence vacuous — result). The survival product is kept
    // EXACT-INTEGER: S is carried in nano-units and each death time
    // applies S ← (S·(n−d)) div n — a deterministic BIGINT recursion
    // with no ln/exp and no float product, so both engines agree to
    // the bit (the win_slope_rolling rational-rounding family). The
    // sequential fold runs over the CALENDAR-BOUNDED lifetime table:
    // distributed user aggregation first, ≤|days| fold as a model
    // computation (codebook split); the oracle replays it as a
    // row-by-row recursive CTE.
    Q("ts_kaplan_meier",
      (s, d) => {
        import s.implicits._
        val users = Tables.events(s, d)
          .select(col("user_id"),
            datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
              .as("dn"),
            col("event_type"))
          .groupBy("user_id")
          .agg(min("dn").as("f"), max("dn").as("l"),
            min(when(col("event_type") === "error", col("dn"))).as("e"))
        val byT = users
          .withColumn("cens", col("e").isNull.cast("long"))
          .withColumn("lt",
            when(col("e").isNull, col("l") - col("f"))
              .otherwise(col("e") - col("f")))
          .groupBy("lt")
          .agg(sum(lit(1L) - col("cens")).as("d"), sum("cens").as("c"),
            count(lit(1)).as("leaving"))
          .orderBy("lt")
          .collect()
        var risk = byT.map(_.getLong(3)).sum
        var surv = 1000000000L
        val out = byT.flatMap { r =>
          val (lt, dd, cc, leaving) =
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
          val row = if (dd > 0) {
            surv = surv * (risk - dd) / risk
            Some((lt, risk, dd, cc, surv.toDouble / 1e9))
          } else None
          risk -= leaving
          row
        }
        out.toSeq.toDF("t", "n_risk", "n_deaths", "n_censored", "survival")
          .orderBy("t")
      },
      Some("""WITH RECURSIVE
             |ud AS (
             |  SELECT user_id, MIN(dn) AS f, MAX(dn) AS l,
             |    MIN(CASE WHEN event_type = 'error' THEN dn END) AS e
             |  FROM (SELECT user_id, event_type,
             |          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
             |            AS dn
             |        FROM events) x GROUP BY user_id),
             |u2 AS (SELECT
             |    CASE WHEN e IS NULL THEN l - f ELSE e - f END AS lt,
             |    CASE WHEN e IS NULL THEN 1 ELSE 0 END AS cens
             |  FROM ud),
             |byt AS (
             |  SELECT lt, CAST(SUM(1 - cens) AS BIGINT) AS d,
             |    CAST(SUM(cens) AS BIGINT) AS c,
             |    CAST(COUNT(*) AS BIGINT) AS leaving
             |  FROM u2 GROUP BY lt),
             |ord AS (
             |  SELECT lt, d, c,
             |    ROW_NUMBER() OVER (ORDER BY lt) AS r,
             |    CAST((SELECT COUNT(*) FROM u2) AS BIGINT)
             |      - CAST(COALESCE(SUM(leaving) OVER (ORDER BY lt
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |        0) AS BIGINT) AS n_risk
             |  FROM byt),
             |km AS (
             |  SELECT r, lt, d, c, n_risk,
             |    CASE WHEN d > 0
             |      THEN (1000000000 * (n_risk - d)) // n_risk
             |      ELSE CAST(1000000000 AS BIGINT) END AS surv
             |  FROM ord WHERE r = 1
             |  UNION ALL
             |  SELECT o.r, o.lt, o.d, o.c, o.n_risk,
             |    CASE WHEN o.d > 0
             |      THEN (p.surv * (o.n_risk - o.d)) // o.n_risk
             |      ELSE p.surv END AS surv
             |  FROM km p JOIN ord o ON o.r = p.r + 1)
             |SELECT lt AS t, n_risk, d AS n_deaths, c AS n_censored,
             |  CAST(surv AS DOUBLE) / 1e9 AS survival
             |FROM km WHERE d > 0 ORDER BY t""".stripMargin)),

    // Viterbi decoding of a 2-state HMM (quiet/busy regimes) over the
    // daily purchase-volume sign sequence — probabilistic sequence
    // models are the step past ts_markov_transitions' raw counts, and
    // Viterbi is THE decoder (regime detection, session labeling).
    // Model parameters are fixed literals; their LOGS are computed
    // ONCE in Scala and the same shortest-roundtrip double literals
    // are spliced into both engines, so no cross-engine libm ln() is
    // ever called — every DP value is then identical IEEE adds/compares
    // (ties break to state 0, explicitly). The oracle's forward pass
    // is a recursive CTE carrying the WHOLE 2-state frontier as one
    // row (v0,v1 + per-step backpointers), which sidesteps both the
    // single-reference rule and any argmax-tie ambiguity; the
    // backtrace is a second recursion walking the stored pointers.
    // Scale split: day aggregation distributed; the O(T·S²) DP is a
    // calendar-bounded driver-side model computation (codebook
    // precedent).
    ViterbiQ.q,
    HoltWintersQ.q,

    // ---- round-10 TS wave ----

    // RFM segmentation — the classic customer-value quintile grid
    // (recency / frequency / monetary), served through the SCALE-SAFE
    // ntile: each of the three scores is Ranking.ntileExact (the
    // range-bucketed two-pass NTILE, bit-identical to the window
    // function — RankingSpec), NOT a global NTILE window that funnels
    // every user through one sort task. Descending scores pass the
    // negated bucketBy (the win_ntile_buckets precedent). Recency is
    // measured against the corpus max day, so the query is
    // reference-date-free; monetary stays exact cents until the final
    // dollar division. Output is the 5×5×5 segment grid (≤125 rows at
    // any scale).
    Q("ts_rfm_segmentation",
      (s, d) => {
        val ev = Tables.events(s, d)
        val maxDay = ev.agg(max(to_date(col("ts"))).as("mx"))
        val users = ev
          .withColumn("cents",
            when(col("event_type") === "purchase",
              cents(col("value")))
              .otherwise(0L))
          .groupBy("user_id")
          .agg(max(to_date(col("ts"))).as("last_day"),
            count(lit(1)).as("freq"), sum("cents").as("cents"))
          .crossJoin(broadcast(maxDay))
          .withColumn("recency", datediff(col("mx"), col("last_day")).cast("long"))
          // lineage cut before the ntile chain: each ntileExact
          // references its input in three subtrees, so three chained
          // calls over the raw aggregate would rebuild the events
          // aggregation up to 3³ times (the stat_spearman lesson);
          // checkpointing the user-sized table between links keeps
          // every rebuild a cached-table scan.
          .localCheckpoint(eager = false)
        val r = graft.api.Ranking.ntileExact(users, 5,
          Seq(col("recency"), col("user_id")), tileCol = "r_score")
          .localCheckpoint(eager = false)
        val rf = graft.api.Ranking.ntileExact(r, 5,
          Seq(col("freq").desc, col("user_id")), tileCol = "f_score",
          bucketBy = -col("freq"))
          .localCheckpoint(eager = false)
        val rfm = graft.api.Ranking.ntileExact(rf, 5,
          Seq(col("cents").desc, col("user_id")), tileCol = "m_score",
          bucketBy = -col("cents"))
        rfm.groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).as("n_users"),
            (sum("cents").cast("double") / 100.0).as("revenue"))
          .orderBy("r_score", "f_score", "m_score")
      },
      Some(s"""WITH mx AS (
             |  SELECT MAX(CAST(ts AS DATE)) AS mx FROM events),
             |u AS (
             |  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day,
             |    CAST(COUNT(*) AS BIGINT) AS freq,
             |    CAST(SUM(CASE WHEN event_type = 'purchase'
             |      THEN ${SQL_CENTS("value")}
             |      ELSE 0 END) AS BIGINT) AS cents
             |  FROM events GROUP BY user_id),
             |scored AS (
             |  SELECT user_id, cents,
             |    CAST(NTILE(5) OVER (ORDER BY datediff('day', last_day,
             |      (SELECT mx FROM mx)), user_id) AS BIGINT) AS r_score,
             |    CAST(NTILE(5) OVER (ORDER BY freq DESC, user_id)
             |      AS BIGINT) AS f_score,
             |    CAST(NTILE(5) OVER (ORDER BY cents DESC, user_id)
             |      AS BIGINT) AS m_score
             |  FROM u)
             |SELECT r_score, f_score, m_score,
             |  CAST(COUNT(*) AS BIGINT) AS n_users,
             |  CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue
             |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Cohort LTV triangle — cumulative revenue per acquisition cohort
    // by age: the "week-N value of a week-W user" table every growth
    // model calibrates on. Cohort = ISO week of the user's FIRST
    // purchase; ages in whole weeks; revenue exact cents until the
    // final per-user division. Two user-keyed aggregates + one window
    // over the cohorts×ages grid (calendar-bounded — never
    // input-sized). LTV divides by the FIXED cohort size, so the
    // curve is monotone non-decreasing by construction.
    Q("ts_cohort_ltv",
      (s, d) => {
        val p = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), to_date(col("ts")).as("day"),
            cents(col("value"))
              .as("cents"))
        val firstp = p.groupBy("user_id")
          .agg(date_trunc("week", min(col("day"))).cast("date").as("cohort"))
        val sizes = firstp.groupBy("cohort").agg(count(lit(1)).as("cohort_users"))
        val rev = p.join(firstp, "user_id")
          .withColumn("age_weeks",
            floor(datediff(col("day"), col("cohort")) / 7).cast("long"))
          .groupBy("cohort", "age_weeks").agg(sum("cents").as("cents"))
        val w = Window.partitionBy("cohort").orderBy("age_weeks")
          .rowsBetween(Window.unboundedPreceding, 0)
        rev.withColumn("cum_cents", sum("cents").over(w))
          .join(broadcast(sizes), "cohort")
          .select(col("cohort"), col("age_weeks"), col("cohort_users"),
            (col("cum_cents").cast("double") / 100.0).as("cum_revenue"),
            round(col("cum_cents").cast("double") / 100.0 /
              col("cohort_users"), 4).as("ltv_per_user"))
          .orderBy("cohort", "age_weeks")
      },
      Some(s"""WITH p AS (
             |  SELECT user_id, CAST(ts AS DATE) AS day,
             |    ${SQL_CENTS("value")} AS cents
             |  FROM events WHERE event_type = 'purchase'),
             |firstp AS (
             |  SELECT user_id,
             |    CAST(date_trunc('week', MIN(day)) AS DATE) AS cohort
             |  FROM p GROUP BY user_id),
             |sizes AS (
             |  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users
             |  FROM firstp GROUP BY cohort),
             |rev AS (
             |  SELECT cohort,
             |    CAST(floor(datediff('day', cohort, day) / 7) AS BIGINT)
             |      AS age_weeks,
             |    CAST(SUM(cents) AS BIGINT) AS cents
             |  FROM p JOIN firstp USING (user_id)
             |  GROUP BY 1, 2),
             |cum AS (
             |  SELECT cohort, age_weeks,
             |    SUM(cents) OVER (PARTITION BY cohort ORDER BY age_weeks
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum_cents
             |  FROM rev)
             |SELECT c.cohort, c.age_weeks, s.cohort_users,
             |  CAST(c.cum_cents AS DOUBLE) / 100.0 AS cum_revenue,
             |  ROUND(CAST(c.cum_cents AS DOUBLE) / 100.0 / s.cohort_users, 4)
             |    AS ltv_per_user
             |FROM cum c JOIN sizes s USING (cohort)
             |ORDER BY c.cohort, c.age_weeks""".stripMargin)),

    // Point-in-time trailing features — the feature-store shape: for
    // every purchase event, the user's trailing 1-hour activity count
    // and trailing 24-hour spend, AS OF that event (no leakage — the
    // window ends at the row). RANGE frames over epoch MICROSECONDS
    // on both engines (casting to seconds would silently move
    // sub-second neighbors across the boundary); counts and cents are
    // exact integers. One user-keyed shuffle carries both frames; at
    // 100 TB this is the standard sessionized-features pass — state
    // per user bounded by the 24 h horizon.
    Q("ts_trailing_features",
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("cents", cents(col("value")))
        val w1 = Window.partitionBy("user_id").orderBy("us")
          .rangeBetween(-3600000000L, 0)
        val w24 = Window.partitionBy("user_id").orderBy("us")
          .rangeBetween(-86400000000L, 0)
        ev.withColumn("n_events_1h", count(lit(1)).over(w1))
          .withColumn("cents_24h", sum("cents").over(w24))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("n_events_1h"),
            (col("cents_24h").cast("double") / 100.0).as("spend_24h"))
          .orderBy("event_id")
      },
      Some(s"""WITH ev AS (
             |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
             |    ${SQL_CENTS("value")} AS cents
             |  FROM events),
             |f AS (
             |  SELECT event_id, user_id, event_type,
             |    CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY us
             |      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS n_events_1h,
             |    CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY us
             |      RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cents_24h
             |  FROM ev)
             |SELECT event_id, user_id, n_events_1h,
             |  CAST(cents_24h AS DOUBLE) / 100.0 AS spend_24h
             |FROM f WHERE event_type = 'purchase'
             |ORDER BY event_id""".stripMargin)),

    // Maximum drawdown per event_type over the cumulative daily value
    // series — the classic "how far below the running peak did we
    // fall" risk statistic. Everything stays in exact integer CENTS:
    // cumulative sum, running peak (window max), drawdown = peak −
    // cum; the per-type answer is the max drawdown with its FIRST day
    // (min-day tie-break, pinned in both engines via the (dd DESC,
    // day) struct-max). Windows partition by event_type over the
    // DAILY aggregate — date-cardinality rows per partition at any
    // scale (the calendar-bounded window class, not the per-row one).
    Q("ts_drawdown",
      (s, d) => {
        val wRun = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("decimal(20,0)").as("cents"))
        daily
          .withColumn("cum", sum("cents").over(wRun))
          .withColumn("peak", max(col("cum")).over(wRun))
          .withColumn("dd", col("peak") - col("cum"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("days"),
            max(struct(col("dd"), col("day").cast("string").as("day")))
              .as("m"))
          .select(col("event_type"), col("days"),
            (col("m.dd").cast("double") / 100.0).as("max_drawdown"),
            col("m.day").as("trough_day"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100
             |      AS DECIMAL(20,0)) AS cents
             |  FROM events GROUP BY 1, 2),
             |runs AS (
             |  SELECT event_type, day,
             |    MAX(cum) OVER rw - cum AS dd
             |  FROM (SELECT event_type, day,
             |          SUM(cents) OVER rw AS cum
             |        FROM daily
             |        WINDOW rw AS (PARTITION BY event_type ORDER BY day
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |  WINDOW rw AS (PARTITION BY event_type ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |mx AS (
             |  SELECT event_type, COUNT(*) AS days,
             |    MAX({'dd': dd, 'day': CAST(day AS VARCHAR)}) AS m
             |  FROM runs GROUP BY event_type)
             |SELECT event_type, days,
             |  CAST(m.dd AS DOUBLE) / 100.0 AS max_drawdown,
             |  m.day AS trough_day
             |FROM mx ORDER BY event_type""".stripMargin)),

    // Bollinger bands: 7-day rolling mean ± 2σ envelope on daily
    // value per event_type, with breakout flags — the volatility-
    // normalized envelope a metrics monitor draws. Rolling Σ and Σ²
    // accumulate in exact CENTS decimals over ROWS BETWEEN 6
    // PRECEDING (full windows only, rn ≥ 7); mean and the population
    // σ = √((Σx² − (Σx)²/7)/7) materialize once per row in double
    // with the identical expression in both engines. Date-cardinality
    // windows per type; one daily aggregate shuffle at any scale.
    Q("ts_bollinger",
      (s, d) => {
        val wSeq = Window.partitionBy("event_type").orderBy("day")
        val w7 = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-6, Window.currentRow)
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("decimal(20,0)").as("cents"))
        val mid = col("s7").cast("double") / 7.0
        val sd = sqrt((col("s72").cast("double") -
          col("s7").cast("double") * col("s7").cast("double") / 7.0) / 7.0)
        daily
          .withColumn("rn", row_number().over(wSeq))
          .withColumn("s7", sum("cents").over(w7))
          .withColumn("s72",
            sum((col("cents") * col("cents")).cast("decimal(38,0)"))
              .over(w7))
          .filter(col("rn") >= 7)
          .select(col("event_type"), col("day").cast("string").as("day"),
            (col("cents").cast("double") / 100.0).as("value"),
            round(mid / 100.0, 4).as("mid"),
            round((mid + lit(2.0) * sd) / 100.0, 4).as("upper"),
            round((mid - lit(2.0) * sd) / 100.0, 4).as("lower"),
            (col("cents").cast("double") > mid + lit(2.0) * sd).as("break_up"),
            (col("cents").cast("double") < mid - lit(2.0) * sd).as("break_dn"))
          .orderBy("event_type", "day")
      },
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100
             |      AS DECIMAL(20,0)) AS cents
             |  FROM events GROUP BY 1, 2),
             |roll AS (
             |  SELECT event_type, day, cents,
             |    ROW_NUMBER() OVER sw AS rn,
             |    SUM(cents) OVER w7 AS s7,
             |    SUM(CAST(cents * cents AS DECIMAL(38,0))) OVER w7 AS s72
             |  FROM daily
             |  WINDOW sw AS (PARTITION BY event_type ORDER BY day),
             |    w7 AS (PARTITION BY event_type ORDER BY day
             |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
             |SELECT event_type, CAST(day AS VARCHAR) AS day,
             |  CAST(cents AS DOUBLE) / 100.0 AS value,
             |  ROUND((CAST(s7 AS DOUBLE) / 7.0) / 100.0, 4) AS mid,
             |  ROUND((CAST(s7 AS DOUBLE) / 7.0
             |    + 2.0 * sqrt((CAST(s72 AS DOUBLE) - CAST(s7 AS DOUBLE)
             |        * CAST(s7 AS DOUBLE) / 7.0) / 7.0)) / 100.0, 4)
             |    AS upper,
             |  ROUND((CAST(s7 AS DOUBLE) / 7.0
             |    - 2.0 * sqrt((CAST(s72 AS DOUBLE) - CAST(s7 AS DOUBLE)
             |        * CAST(s7 AS DOUBLE) / 7.0) / 7.0)) / 100.0, 4)
             |    AS lower,
             |  CAST(cents AS DOUBLE) > CAST(s7 AS DOUBLE) / 7.0
             |    + 2.0 * sqrt((CAST(s72 AS DOUBLE) - CAST(s7 AS DOUBLE)
             |        * CAST(s7 AS DOUBLE) / 7.0) / 7.0) AS break_up,
             |  CAST(cents AS DOUBLE) < CAST(s7 AS DOUBLE) / 7.0
             |    - 2.0 * sqrt((CAST(s72 AS DOUBLE) - CAST(s7 AS DOUBLE)
             |        * CAST(s7 AS DOUBLE) / 7.0) / 7.0) AS break_dn
             |FROM roll WHERE rn >= 7
             |ORDER BY event_type, day""".stripMargin)),

    // Granger causality (lag-1): do yesterday's PURCHASE totals help
    // predict today's ERROR count beyond errors' own lag? Restricted
    // model y_t ~ 1 + y_{t−1}; unrestricted adds x_{t−1}. Both R²
    // come from the Frisch–Waugh two-regressor closed form R²_u =
    // (r₁² + r₂² − 2r₁r₂r₁₂)/(1 − r₁₂²), R²_r = r₁², with every
    // correlation built from EXACT integer moment sums (cents / event
    // counts) over the lag-aligned day series; F = (R²_u − R²_r)·
    // (T−3)/(1 − R²_u). The series is a DATE-CARDINALITY aggregate
    // (zero-filled full-outer day join), so the single lag window
    // rides a calendar-bounded table — never the event stream.
    Q("ts_granger",
      (s, d) => {
        val ev = Tables.events(s, d)
        val px = ev.filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("decimal(20,0)").as("x"))
        val ey = ev.filter(col("event_type") === "error")
          .groupBy(to_date(col("ts")).as("dayy"))
          .agg(count(lit(1)).cast("decimal(20,0)").as("y"))
        val w = Window.orderBy("day")
        val ser = px.join(ey, col("day") === col("dayy"), "full_outer")
          .select(coalesce(col("day"), col("dayy")).as("day"),
            coalesce(col("x"), lit(0)).cast("decimal(20,0)").as("x"),
            coalesce(col("y"), lit(0)).cast("decimal(20,0)").as("y"))
          .withColumn("y1", lag("y", 1).over(w))
          .withColumn("x1", lag("x", 1).over(w))
          .filter(col("y1").isNotNull && col("x1").isNotNull)
        def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val m = ser.agg(count(lit(1)).as("t"),
          sum("y").as("sy"), sum(d38(col("y") * col("y"))).as("syy"),
          sum("y1").as("sy1"), sum(d38(col("y1") * col("y1"))).as("sy1y1"),
          sum("x1").as("sx1"), sum(d38(col("x1") * col("x1"))).as("sx1x1"),
          sum(d38(col("y") * col("y1"))).as("syy1"),
          sum(d38(col("y") * col("x1"))).as("syx1"),
          sum(d38(col("y1") * col("x1"))).as("sy1x1"))
        def corr(sab: org.apache.spark.sql.Column,
            sa: org.apache.spark.sql.Column, sb: org.apache.spark.sql.Column,
            saa: org.apache.spark.sql.Column,
            sbb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
          val t = col("t").cast("double")
          (sab.cast("double") - sa.cast("double") * sb.cast("double") / t) /
            (sqrt(saa.cast("double") -
              sa.cast("double") * sa.cast("double") / t) *
             sqrt(sbb.cast("double") -
              sb.cast("double") * sb.cast("double") / t))
        }
        val r1 = corr(col("syy1"), col("sy"), col("sy1"),
          col("syy"), col("sy1y1"))
        val r2 = corr(col("syx1"), col("sy"), col("sx1"),
          col("syy"), col("sx1x1"))
        val r12 = corr(col("sy1x1"), col("sy1"), col("sx1"),
          col("sy1y1"), col("sx1x1"))
        val r2u = (r1 * r1 + r2 * r2 - lit(2.0) * r1 * r2 * r12) /
          (lit(1.0) - r12 * r12)
        m.select(col("t").cast("long").as("t_obs"),
          round(r1 * r1, 6).as("r2_restricted"),
          round(r2u, 6).as("r2_unrestricted"),
          round((r2u - r1 * r1) * (col("t").cast("double") - 3.0) /
            (lit(1.0) - r2u), 4).as("f_stat"))
      },
      Some("""WITH px AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100
             |      AS DECIMAL(20,0)) AS x
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |ey AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(COUNT(*) AS DECIMAL(20,0)) AS y
             |  FROM events WHERE event_type = 'error' GROUP BY 1),
             |ser AS (
             |  SELECT COALESCE(px.day, ey.day) AS day,
             |    COALESCE(x, 0) AS x, COALESCE(y, 0) AS y
             |  FROM px FULL OUTER JOIN ey USING (day)),
             |lagd AS (
             |  SELECT y,
             |    LAG(y) OVER (ORDER BY day) AS y1,
             |    LAG(x) OVER (ORDER BY day) AS x1
             |  FROM ser),
             |m AS (
             |  SELECT COUNT(*) AS t,
             |    SUM(y) AS sy, SUM(CAST(y * y AS DECIMAL(38,0))) AS syy,
             |    SUM(y1) AS sy1,
             |    SUM(CAST(y1 * y1 AS DECIMAL(38,0))) AS sy1y1,
             |    SUM(x1) AS sx1,
             |    SUM(CAST(x1 * x1 AS DECIMAL(38,0))) AS sx1x1,
             |    SUM(CAST(y * y1 AS DECIMAL(38,0))) AS syy1,
             |    SUM(CAST(y * x1 AS DECIMAL(38,0))) AS syx1,
             |    SUM(CAST(y1 * x1 AS DECIMAL(38,0))) AS sy1x1
             |  FROM lagd WHERE y1 IS NOT NULL AND x1 IS NOT NULL),
             |rr AS (
             |  SELECT t,
             |    (CAST(syy1 AS DOUBLE) - CAST(sy AS DOUBLE)
             |        * CAST(sy1 AS DOUBLE) / t)
             |      / (sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
             |          * CAST(sy AS DOUBLE) / t)
             |        * sqrt(CAST(sy1y1 AS DOUBLE) - CAST(sy1 AS DOUBLE)
             |          * CAST(sy1 AS DOUBLE) / t)) AS r1,
             |    (CAST(syx1 AS DOUBLE) - CAST(sy AS DOUBLE)
             |        * CAST(sx1 AS DOUBLE) / t)
             |      / (sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
             |          * CAST(sy AS DOUBLE) / t)
             |        * sqrt(CAST(sx1x1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
             |          * CAST(sx1 AS DOUBLE) / t)) AS r2,
             |    (CAST(sy1x1 AS DOUBLE) - CAST(sy1 AS DOUBLE)
             |        * CAST(sx1 AS DOUBLE) / t)
             |      / (sqrt(CAST(sy1y1 AS DOUBLE) - CAST(sy1 AS DOUBLE)
             |          * CAST(sy1 AS DOUBLE) / t)
             |        * sqrt(CAST(sx1x1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
             |          * CAST(sx1 AS DOUBLE) / t)) AS r12
             |  FROM m),
             |ru AS (
             |  SELECT t, r1,
             |    (r1 * r1 + r2 * r2 - 2.0 * r1 * r2 * r12)
             |      / (1.0 - r12 * r12) AS r2u
             |  FROM rr)
             |SELECT CAST(t AS BIGINT) AS t_obs,
             |  ROUND(r1 * r1, 6) AS r2_restricted,
             |  ROUND(r2u, 6) AS r2_unrestricted,
             |  ROUND((r2u - r1 * r1) * (t - 3.0) / (1.0 - r2u), 4)
             |    AS f_stat
             |FROM ru""".stripMargin)),

    // Markov entropy rate of the per-user event-type chain: H = −Σ_i
    // π_i Σ_j p_ij·log2 p_ij with π the empirical from-state share —
    // how predictable is the next action given the current one, in
    // bits, against the log2(k) i.i.d. ceiling. Transition counts
    // come from ts_markov_transitions' per-user lead window (millions
    // of small partitions — parallel-safe); the float sum spans only
    // the ≤ k² transition cells behind ROUND(…,4), the stat_entropy
    // precedent. One row out.
    Q("ts_entropy_rate",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val trans = Tables.events(s, d)
          .withColumn("to_type", lead("event_type", 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("f"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        val fromTot = trans.groupBy("f").agg(sum("n").as("nf"))
        val tot = trans.agg(sum("n").as("nt"),
          countDistinct(col("f")).as("k"))
        trans.join(broadcast(fromTot), "f").crossJoin(tot)
          .select(col("k"), col("nt"),
            ((col("nf").cast("double") / col("nt").cast("double")) *
              (col("n").cast("double") / col("nf").cast("double")) *
              log2(col("n").cast("double") / col("nf").cast("double")))
              .as("term"))
          .groupBy("k", "nt")
          .agg(round(-sum(col("term")), 4).as("entropy_rate_bits"))
          .select(col("k").as("n_states"),
            col("nt").cast("long").as("n_transitions"),
            col("entropy_rate_bits"),
            round(col("entropy_rate_bits") /
              log2(col("k").cast("double")), 4).as("vs_iid_ceiling"))
      },
      Some("""WITH t AS (
             |  SELECT event_type AS f,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |tr AS (
             |  SELECT f, to_type, COUNT(*) AS n FROM t
             |  WHERE to_type IS NOT NULL GROUP BY f, to_type),
             |ft AS (SELECT f, SUM(n) AS nf FROM tr GROUP BY f),
             |tot AS (SELECT SUM(n) AS nt, COUNT(DISTINCT f) AS k FROM tr)
             |SELECT CAST(k AS BIGINT) AS n_states,
             |  CAST(nt AS BIGINT) AS n_transitions,
             |  ROUND(-SUM((CAST(nf AS DOUBLE) / nt)
             |    * (CAST(n AS DOUBLE) / nf)
             |    * log2(CAST(n AS DOUBLE) / nf)), 4) AS entropy_rate_bits,
             |  ROUND(ROUND(-SUM((CAST(nf AS DOUBLE) / nt)
             |      * (CAST(n AS DOUBLE) / nf)
             |      * log2(CAST(n AS DOUBLE) / nf)), 4)
             |    / log2(CAST(k AS DOUBLE)), 4) AS vs_iid_ceiling
             |FROM tr JOIN ft USING (f), tot
             |GROUP BY k, nt""".stripMargin)),

    // Western Electric control-chart rules on the daily purchase
    // series — the four classic SPC run rules a metrics monitor fires
    // pages on: R1 one point beyond 3σ; R2 two of three consecutive
    // beyond 2σ on the SAME side; R3 four of five beyond 1σ same
    // side; R4 eight consecutive on one side of center. Center and σ
    // come from EXACT cents moments over the whole series; each day's
    // z is one mirrored double form, and every rule is a fixed-width
    // ROWS window of integer counts over the z-threshold booleans
    // (identical IEEE compares both engines ⇒ identical flags). The
    // day series is calendar-bounded, so the unpartitioned sequence
    // windows are model-sized at any SF (ts_cusum doctrine); the only
    // corpus-scale stage is the one daily aggregate.
    Q("ts_spc_rules",
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("decimal(20,0)").as("cents"))
        val m = daily.agg(count(lit(1)).as("n"),
          sum(col("cents").cast("decimal(38,0)")).as("sc"),
          sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("qc"))
        val wSeq = Window.orderBy("day")
        def wLast(k: Int) = Window.orderBy("day")
          .rowsBetween(-(k - 1), Window.currentRow)
        val z = (col("cents").cast("double") -
          col("sc").cast("double") / col("n").cast("double")) /
          sqrt((col("qc").cast("double") -
            col("sc").cast("double") * col("sc").cast("double") /
              col("n").cast("double")) / col("n").cast("double"))
        daily.crossJoin(broadcast(m))
          .withColumn("z", z)
          .withColumn("rn", row_number().over(wSeq))
          .withColumn("sgn",
            when(col("z") > 0, 1L).when(col("z") < 0, -1L).otherwise(0L))
          .withColumn("r1", abs(col("z")) > 3.0)
          .withColumn("r2", col("rn") >= 3 &&
            (sum(when(col("z") > 2.0, 1L).otherwise(0L)).over(wLast(3)) >= 2 ||
              sum(when(col("z") < -2.0, 1L).otherwise(0L))
                .over(wLast(3)) >= 2))
          .withColumn("r3", col("rn") >= 5 &&
            (sum(when(col("z") > 1.0, 1L).otherwise(0L)).over(wLast(5)) >= 4 ||
              sum(when(col("z") < -1.0, 1L).otherwise(0L))
                .over(wLast(5)) >= 4))
          .withColumn("r4", col("rn") >= 8 &&
            abs(sum(col("sgn")).over(wLast(8))) === 8)
          .select(col("day").cast("string").as("day"),
            (col("cents").cast("double") / 100.0).as("value"),
            round(col("z"), 4).as("z"),
            col("r1"), col("r2"), col("r3"), col("r4"))
          .orderBy("day")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100
             |      AS DECIMAL(20,0)) AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    SUM(CAST(cents AS DECIMAL(38,0))) AS sc,
             |    SUM(CAST(cents * cents AS DECIMAL(38,0))) AS qc
             |  FROM daily),
             |zz AS (
             |  SELECT day, cents,
             |    (CAST(cents AS DOUBLE) - CAST(sc AS DOUBLE)
             |      / CAST(n AS DOUBLE))
             |    / sqrt((CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE)
             |      * CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
             |      / CAST(n AS DOUBLE)) AS z,
             |    ROW_NUMBER() OVER (ORDER BY day) AS rn
             |  FROM daily, m),
             |r AS (
             |  SELECT day, cents, z, rn,
             |    CASE WHEN z > 0 THEN 1 WHEN z < 0 THEN -1 ELSE 0 END AS sgn,
             |    SUM(CASE WHEN z > 2.0 THEN 1 ELSE 0 END) OVER w3 AS hi2,
             |    SUM(CASE WHEN z < -2.0 THEN 1 ELSE 0 END) OVER w3 AS lo2,
             |    SUM(CASE WHEN z > 1.0 THEN 1 ELSE 0 END) OVER w5 AS hi1,
             |    SUM(CASE WHEN z < -1.0 THEN 1 ELSE 0 END) OVER w5 AS lo1
             |  FROM zz
             |  WINDOW w3 AS (ORDER BY day ROWS BETWEEN 2 PRECEDING
             |      AND CURRENT ROW),
             |    w5 AS (ORDER BY day ROWS BETWEEN 4 PRECEDING
             |      AND CURRENT ROW)),
             |r2 AS (
             |  SELECT *, SUM(sgn) OVER (ORDER BY day ROWS BETWEEN 7
             |    PRECEDING AND CURRENT ROW) AS s8
             |  FROM r)
             |SELECT CAST(day AS VARCHAR) AS day,
             |  CAST(cents AS DOUBLE) / 100.0 AS value, ROUND(z, 4) AS z,
             |  abs(z) > 3.0 AS r1,
             |  rn >= 3 AND (hi2 >= 2 OR lo2 >= 2) AS r2,
             |  rn >= 5 AND (hi1 >= 4 OR lo1 >= 4) AS r3,
             |  rn >= 8 AND abs(s8) = 8 AS r4
             |FROM r2 ORDER BY day""".stripMargin)),

    // SAX symbolization — each event type's daily-count series
    // z-normalized, PAA-compressed into 4-day segments, and mapped to
    // a 4-letter Gaussian-breakpoint alphabet (a<−0.6745≤b<0≤c<
    // 0.6745≤d): the classic symbolic encoding behind motif discovery
    // and cheap series indexing. The z-transform is affine, so each
    // segment's PAA-z comes DIRECTLY from exact integer sums —
    // (seg_sum/4 − μ)/σ with μ, σ from exact per-type Σ/Σ² — one
    // mirrored double form per segment, no intermediate double means.
    // Trailing partial segments drop (len = 4 only). The SAX word
    // assembles segment symbols IN SEGMENT ORDER (sorted-struct
    // array-join / string_agg ORDER BY — the index-order device on
    // strings). Calendar-bounded series per type ⇒ model-sized
    // windows; one daily aggregate at corpus scale.
    Q("ts_sax_symbols",
      (s, d) => {
        val wSeq = Window.partitionBy("event_type").orderBy("day")
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
        val segs = daily
          .withColumn("rn", row_number().over(wSeq))
          .withColumn("seg", ((col("rn") - 1) / 4).cast("long"))
          .groupBy("event_type", "seg")
          .agg(count(lit(1)).as("len"), sum("c").as("sc"))
          .filter(col("len") === 4)
        val m = daily.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("c").as("s"),
            sum(col("c") * col("c")).as("q"))
        val paa = (col("sc").cast("double") / 4.0 -
          col("s").cast("double") / col("n").cast("double")) /
          sqrt((col("q").cast("double") -
            col("s").cast("double") * col("s").cast("double") /
              col("n").cast("double")) / col("n").cast("double"))
        val sym = segs.join(m, "event_type")
          .withColumn("paa", paa)
          .withColumn("sym",
            when(col("paa") < -0.6745, "a").when(col("paa") < 0.0, "b")
              .when(col("paa") < 0.6745, "c").otherwise("d"))
        sym.groupBy("event_type")
          .agg(max(col("n")).as("n_days"), count(lit(1)).as("n_segs"),
            expr("""array_join(transform(sort_array(collect_list(
                 |  struct(seg, sym))), x -> x.sym), '')""".stripMargin)
              .as("sax"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1, 2),
             |seq AS (
             |  SELECT event_type, day, c,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
             |      AS rn
             |  FROM daily),
             |segs AS (
             |  SELECT event_type, CAST((rn - 1) // 4 AS BIGINT) AS seg,
             |    CAST(COUNT(*) AS BIGINT) AS len,
             |    CAST(SUM(c) AS BIGINT) AS sc
             |  FROM seq GROUP BY 1, 2 HAVING COUNT(*) = 4),
             |m AS (
             |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(c) AS BIGINT) AS s,
             |    CAST(SUM(c * c) AS BIGINT) AS q
             |  FROM daily GROUP BY 1),
             |sym AS (
             |  SELECT event_type, seg, n,
             |    CASE WHEN p < -0.6745 THEN 'a' WHEN p < 0.0 THEN 'b'
             |      WHEN p < 0.6745 THEN 'c' ELSE 'd' END AS sym
             |  FROM (
             |    SELECT s.event_type, s.seg, m.n,
             |      (CAST(s.sc AS DOUBLE) / 4.0 - CAST(m.s AS DOUBLE)
             |        / CAST(m.n AS DOUBLE))
             |      / sqrt((CAST(m.q AS DOUBLE) - CAST(m.s AS DOUBLE)
             |        * CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE))
             |        / CAST(m.n AS DOUBLE)) AS p
             |    FROM segs s JOIN m ON s.event_type = m.event_type) x)
             |SELECT event_type, MAX(n) AS n_days,
             |  CAST(COUNT(*) AS BIGINT) AS n_segs,
             |  string_agg(sym, '' ORDER BY seg) AS sax
             |FROM sym GROUP BY event_type ORDER BY event_type""".stripMargin)),

    HurstQ.q,
    CrostonQ.q,
    DurbinWatsonQ.q,
    CooksDistanceQ.q,
    BreuschPaganQ.q,
    VolumeAnomalyQ.q,
    Wave17Q.adf,
    Wave17Q.yuleWalker,
    Wave17Q.neweyWest,
    Wave17Q.turningPoints,
    Wave17Q.haarEnergy,
    Wave19Q.kalmanLevel,
    Wave19Q.seasonalMk,
    Wave19Q.retentionHalflife,
    Wave19Q.rollingWau,
    Wave19Q.circularHour,
    Wave30Q.eventStudy,
    Wave30Q.piecewiseTrend
  )
}

/** Round-10 wave 30 (Windows leg): event-study uplift. */
private object Wave30Q {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.expressions.Window

  /** Event-study uplift around purchases — for every purchase, the
    * user's click spend in the hour BEFORE vs the hour AFTER (the
    * before/after contrast marketing and causal teams run around any
    * intervention). RANGE frames over epoch MICROSECONDS exclude the
    * event instant itself ([-1h,-1µs] and [+1µs,+1h]), so a click at
    * the purchase timestamp never leaks into either side. All window
    * state is exact integers (counts + cents); the one float op — the
    * per-purchase post−pre mean difference — is round9'd and
    * DECIMAL-summed, so the cross-purchase mean is order-free. Scale:
    * one user-keyed shuffle carries both frames, per-user state
    * bounded by the 1 h horizon; divisors are CASE-guarded so a
    * fixture with no two-sided purchase yields NULLs, not engine-
    * dependent x/0.
    */
  val eventStudy: Q = Q("ts_event_study",
    (s, d) => {
      val ev = graft.Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("cents", cents(col("value")))
      val H = 3600000000L
      val wPre = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-H, -1)
      val wPost = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(1, H)
      val click = when(col("event_type") === "click", col("cents"))
      val p = ev
        .withColumn("pre_c", count(click).over(wPre))
        .withColumn("pre_s", sum(click).over(wPre))
        .withColumn("post_c", count(click).over(wPost))
        .withColumn("post_s", sum(click).over(wPost))
        .filter(col("event_type") === "purchase")
      val both = col("pre_c") > 0 && col("post_c") > 0
      p.agg(
        count(lit(1)).as("n_purchases"),
        sum(when(both, 1L).otherwise(0L)).as("n_with_both"),
        sum(coalesce(col("pre_s"), lit(0L))).as("ps"),
        sum(col("pre_c")).as("pc"),
        sum(coalesce(col("post_s"), lit(0L))).as("qs"),
        sum(col("post_c")).as("qc"),
        sum(when(both,
          round(col("post_s").cast("double") / col("post_c") -
            col("pre_s").cast("double") / col("pre_c"), 9)
            .cast("decimal(28,9)"))).as("usum"))
        .select(col("n_purchases"), col("n_with_both"),
          round(col("ps").cast("double") /
            when(col("pc") > 0, col("pc")) / 100.0, 4)
            .as("mean_pre_click"),
          round(col("qs").cast("double") /
            when(col("qc") > 0, col("qc")) / 100.0, 4)
            .as("mean_post_click"),
          round(col("usum").cast("double") /
            when(col("n_with_both") > 0, col("n_with_both"))
              .cast("double") / 100.0, 6).as("mean_uplift"))
    },
    Some(s"""WITH ev AS (
           |  SELECT user_id, event_type, epoch_us(ts) AS us,
           |    ${SQL_CENTS("value")} AS cents
           |  FROM events),
           |w AS (
           |  SELECT user_id, event_type,
           |    COUNT(CASE WHEN event_type = 'click' THEN cents END)
           |      OVER pre AS pre_c,
           |    SUM(CASE WHEN event_type = 'click' THEN cents END)
           |      OVER pre AS pre_s,
           |    COUNT(CASE WHEN event_type = 'click' THEN cents END)
           |      OVER post AS post_c,
           |    SUM(CASE WHEN event_type = 'click' THEN cents END)
           |      OVER post AS post_s
           |  FROM ev
           |  WINDOW pre AS (PARTITION BY user_id ORDER BY us
           |      RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING),
           |    post AS (PARTITION BY user_id ORDER BY us
           |      RANGE BETWEEN 1 FOLLOWING AND 3600000000 FOLLOWING)),
           |p AS (SELECT * FROM w WHERE event_type = 'purchase')
           |SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases,
           |  CAST(SUM(CASE WHEN pre_c > 0 AND post_c > 0 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_with_both,
           |  ROUND(CAST(SUM(COALESCE(pre_s, 0)) AS DOUBLE)
           |    / (CASE WHEN SUM(pre_c) > 0 THEN SUM(pre_c) END)
           |    / 100.0, 4) AS mean_pre_click,
           |  ROUND(CAST(SUM(COALESCE(post_s, 0)) AS DOUBLE)
           |    / (CASE WHEN SUM(post_c) > 0 THEN SUM(post_c) END)
           |    / 100.0, 4) AS mean_post_click,
           |  ROUND(CAST(SUM(CASE WHEN pre_c > 0 AND post_c > 0 THEN
           |      CAST(ROUND(CAST(post_s AS DOUBLE) / post_c
           |        - CAST(pre_s AS DOUBLE) / pre_c, 9) AS DECIMAL(28,9))
           |      END) AS DOUBLE)
           |    / CAST((CASE WHEN SUM(CASE WHEN pre_c > 0 AND post_c > 0
           |        THEN 1 ELSE 0 END) > 0
           |      THEN SUM(CASE WHEN pre_c > 0 AND post_c > 0 THEN 1
           |        ELSE 0 END) END) AS DOUBLE)
           |    / 100.0, 6) AS mean_uplift
           |FROM p""".stripMargin))

  /** Piecewise-linear trend with data-chosen breakpoint — the
    * changepoint-aware generalization of a single OLS trend line: fit
    * two independent segments split at candidate knot day c (grid
    * 5..24 over the 30-day fixture window), pick the knot minimizing
    * total SSE, and report both slopes plus the R²-style improvement
    * over the no-knot linear fit. Scale shape: the daily series is
    * calendar-bounded, the knot grid multiplies it by a CONSTANT
    * (20×), and every fit reduces to the six OLS moments
    * (n, Σt, Σy, Σt², Σty, Σy²) as exact integer sums per
    * (knot, side) — SSE/slopes are closed-form doubles of those
    * integers, so cross-engine equality holds without any float
    * accumulation. The argmin runs as a struct-min over the 20-row
    * knot table (ORDER BY … LIMIT 1 on the oracle side), tie-broken
    * by the smaller knot.
    */
  val piecewiseTrend: Q = Q("ts_piecewise_trend",
    (s, d) => {
      val daily = graft.Tables.events(s, d)
        .groupBy(datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).as("t"))
        .agg(count(lit(1)).as("y"))
      def d_(c: org.apache.spark.sql.Column) = c.cast("double")
      def moments(df: org.apache.spark.sql.DataFrame,
          keys: Seq[String]) = {
        val g = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.head,
          keys.tail: _*)
        g.agg(count(lit(1)).as("n"), sum("t").as("sti"),
          sum("y").as("sy"), sum(col("t") * col("t")).as("stt"),
          sum(col("t") * col("y")).as("sty"),
          sum(col("y") * col("y")).as("syy"))
      }
      val sxx = d_(col("n")) * d_(col("stt")) - d_(col("sti")) * d_(col("sti"))
      val sxy = d_(col("n")) * d_(col("sty")) - d_(col("sti")) * d_(col("sy"))
      val syc = d_(col("n")) * d_(col("syy")) - d_(col("sy")) * d_(col("sy"))
      val sse = (syc - sxy * sxy / when(sxx > 0, sxx)) / d_(col("n"))
      val slope = sxy / when(sxx > 0, sxx)
      val cand = daily.select(col("t"), col("y"),
          explode(sequence(lit(5), lit(24))).as("c"))
        .withColumn("side",
          when(col("t") < col("c"), lit("L")).otherwise(lit("R")))
      val segs = moments(cand, Seq("c", "side"))
        .select(col("c"), col("side"), col("n"), sse.as("sse"),
          slope.as("slope"))
      val perKnot = segs.groupBy("c").agg(
          sum(round(col("sse"), 6).cast("decimal(28,6)")).as("sse_tot"),
          sum(when(col("side") === "L", round(col("slope"), 6)))
            .as("slope_l"),
          sum(when(col("side") === "R", round(col("slope"), 6)))
            .as("slope_r"),
          min("n").as("min_n"))
        .filter(col("min_n") >= 2)
      val best = perKnot.agg(min(struct(col("sse_tot"), col("c"),
        col("slope_l"), col("slope_r"))).as("b"))
      val lin = moments(daily, Seq.empty)
        .select(round(sse, 6).as("sse_linear"))
      best.crossJoin(broadcast(lin))
        .select(col("b.c").as("knot_day"),
          col("b.slope_l").as("slope_left"),
          col("b.slope_r").as("slope_right"),
          round(col("b.sse_tot").cast("double"), 4).as("sse_best"),
          round(col("sse_linear"), 4).as("sse_linear"),
          round(lit(1.0) - col("b.sse_tot").cast("double") /
            when(col("sse_linear") > 0, col("sse_linear")), 6)
            .as("improvement"))
    },
    Some("""WITH daily AS (
           |  SELECT CAST(date_diff('day', DATE '2024-01-01',
           |      CAST(ts AS DATE)) AS INT) AS t,
           |    CAST(COUNT(*) AS BIGINT) AS y
           |  FROM events GROUP BY 1),
           |cand AS (
           |  SELECT t, y, c,
           |    CASE WHEN t < c THEN 'L' ELSE 'R' END AS side
           |  FROM daily, unnest(generate_series(5, 24)) k(c)),
           |segm AS (
           |  SELECT c, side, CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(t) AS BIGINT) AS sti,
           |    CAST(SUM(y) AS BIGINT) AS sy,
           |    CAST(SUM(t * t) AS BIGINT) AS stt,
           |    CAST(SUM(t * y) AS BIGINT) AS sty,
           |    CAST(SUM(y * y) AS BIGINT) AS syy
           |  FROM cand GROUP BY c, side),
           |fits AS (
           |  SELECT c, side, n,
           |    ((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
           |      - (CAST(n AS DOUBLE) * sty - CAST(sti AS DOUBLE) * sy)
           |        * (CAST(n AS DOUBLE) * sty - CAST(sti AS DOUBLE) * sy)
           |        / (CASE WHEN (CAST(n AS DOUBLE) * stt
           |            - CAST(sti AS DOUBLE) * sti) > 0
           |          THEN CAST(n AS DOUBLE) * stt
           |            - CAST(sti AS DOUBLE) * sti END))
           |      / CAST(n AS DOUBLE) AS sse,
           |    (CAST(n AS DOUBLE) * sty - CAST(sti AS DOUBLE) * sy)
           |      / (CASE WHEN (CAST(n AS DOUBLE) * stt
           |          - CAST(sti AS DOUBLE) * sti) > 0
           |        THEN CAST(n AS DOUBLE) * stt
           |          - CAST(sti AS DOUBLE) * sti END) AS slope
           |  FROM segm),
           |perknot AS (
           |  SELECT c,
           |    SUM(CAST(ROUND(sse, 6) AS DECIMAL(28,6))) AS sse_tot,
           |    SUM(CASE WHEN side = 'L' THEN ROUND(slope, 6) END)
           |      AS slope_l,
           |    SUM(CASE WHEN side = 'R' THEN ROUND(slope, 6) END)
           |      AS slope_r,
           |    MIN(n) AS min_n
           |  FROM fits GROUP BY c
           |  HAVING MIN(n) >= 2),
           |best AS (
           |  SELECT * FROM perknot ORDER BY sse_tot, c LIMIT 1),
           |lin AS (
           |  SELECT ROUND(((CAST(n AS DOUBLE) * syy
           |      - CAST(sy AS DOUBLE) * sy)
           |      - (CAST(n AS DOUBLE) * sty - CAST(sti AS DOUBLE) * sy)
           |        * (CAST(n AS DOUBLE) * sty - CAST(sti AS DOUBLE) * sy)
           |        / (CASE WHEN (CAST(n AS DOUBLE) * stt
           |            - CAST(sti AS DOUBLE) * sti) > 0
           |          THEN CAST(n AS DOUBLE) * stt
           |            - CAST(sti AS DOUBLE) * sti END))
           |      / CAST(n AS DOUBLE), 6) AS sse_linear
           |  FROM (
           |    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |      CAST(SUM(t) AS BIGINT) AS sti,
           |      CAST(SUM(y) AS BIGINT) AS sy,
           |      CAST(SUM(t * t) AS BIGINT) AS stt,
           |      CAST(SUM(t * y) AS BIGINT) AS sty,
           |      CAST(SUM(y * y) AS BIGINT) AS syy
           |    FROM daily) m)
           |SELECT CAST(b.c AS INT) AS knot_day, b.slope_l AS slope_left,
           |  b.slope_r AS slope_right,
           |  ROUND(CAST(b.sse_tot AS DOUBLE), 4) AS sse_best,
           |  ROUND(l.sse_linear, 4) AS sse_linear,
           |  ROUND(1.0 - CAST(b.sse_tot AS DOUBLE)
           |    / (CASE WHEN l.sse_linear > 0 THEN l.sse_linear END), 6)
           |    AS improvement
           |FROM best b, lin l""".stripMargin))
}

private object BreuschPaganQ {
  import org.apache.spark.sql.functions._

  /** Breusch-Pagan heteroscedasticity test on the daily trend line —
    * the third leg of the regression-diagnostics family (stat_durbin_
    * watson: serial correlation; stat_cooks_distance: influence; this:
    * non-constant variance, the condition that silently breaks OLS
    * standard errors). LM = n·R²aux of the auxiliary regression of
    * squared residuals on t. Residuals are the SAME per-row closed
    * forms over exact moments; the aux moments Σu, Σtu, Σu² (u = e²)
    * are double sums folded over the day-ordered array (index-order-
    * fold device, calendar-bounded ≤ n_days terms). One fact
    * aggregate; 1-row output with the χ²(1) 5% verdict at 3.8415.
    */
  val q: Q = Q("stat_breusch_pagan",
    (s, d) => {
      val wSeq = org.apache.spark.sql.expressions.Window.orderBy("day")
      val byday = graft.Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg((sum(col("value").cast("decimal(18,2)")) * 100)
          .cast("decimal(20,0)").as("y"))
        .withColumn("t", row_number().over(wSeq).cast("long"))
      val m = byday.agg(count(lit(1)).as("n"), sum("t").as("st"),
        sum(col("t") * col("t")).as("stt"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("y") * col("t")).cast("decimal(38,0)")).as("sty"))
      def dd(c: String) = col(c).cast("double")
      val b = (dd("n") * dd("sty") - dd("st") * dd("sy")) /
        (dd("n") * dd("stt") - dd("st") * dd("st"))
      val a = (dd("sy") - b * dd("st")) / dd("n")
      def fold(body: String) =
        expr(s"""aggregate(transform(sort_array(collect_list(
             |    struct(t, e))), x -> $body),
             |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
      byday.crossJoin(broadcast(m))
        .withColumn("e", dd("y") - a - b * col("t").cast("double"))
        .agg(max("n").as("nn"), max("st").as("sst"), max("stt").as("sstt"),
          fold("x.e * x.e").as("su"),
          fold("x.t * x.e * x.e").as("stu"),
          fold("x.e * x.e * x.e * x.e").as("suu"))
        .withColumn("sttc", col("sstt").cast("double") -
          col("sst").cast("double") * col("sst").cast("double") /
            col("nn").cast("double"))
        .withColumn("stuc", col("stu") -
          col("sst").cast("double") * col("su") / col("nn").cast("double"))
        .withColumn("suuc", col("suu") -
          col("su") * col("su") / col("nn").cast("double"))
        .withColumn("r2", col("stuc") * col("stuc") /
          (col("sttc") * col("suuc")))
        .select(col("nn").as("n_days"),
          round(col("r2"), 6).as("r2_aux"),
          round(col("nn").cast("double") * col("r2"), 4).as("bp_lm"),
          (col("nn").cast("double") * col("r2") > 3.8415)
            .as("heteroscedastic"))
    },
    Some("""WITH byday AS (
           |  SELECT day, y, ROW_NUMBER() OVER (ORDER BY day) AS t
           |  FROM (SELECT CAST(ts AS DATE) AS day,
           |          CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100
           |            AS DECIMAL(20,0)) AS y
           |        FROM events WHERE event_type = 'purchase'
           |        GROUP BY 1) x),
           |m AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(t) AS BIGINT) AS st,
           |    CAST(SUM(t * t) AS BIGINT) AS stt,
           |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
           |    SUM(CAST(y * t AS DECIMAL(38,0))) AS sty
           |  FROM byday),
           |res AS (
           |  SELECT t,
           |    CAST(y AS DOUBLE)
           |      - (CAST(sy AS DOUBLE)
           |         - ((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
           |             - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
           |            / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
           |               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)))
           |           * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE)
           |      - ((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
           |          - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
           |         / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
           |            - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)))
           |        * CAST(t AS DOUBLE) AS e
           |  FROM byday, m),
           |arr AS (
           |  SELECT (SELECT MAX(n) FROM m) AS nn,
           |    (SELECT MAX(st) FROM m) AS sst,
           |    (SELECT MAX(stt) FROM m) AS sstt,
           |    list_sum(list(e * e ORDER BY t)) AS su,
           |    list_sum(list(t * e * e ORDER BY t)) AS stu,
           |    list_sum(list(e * e * e * e ORDER BY t)) AS suu
           |  FROM res),
           |c AS (
           |  SELECT nn,
           |    (stu - CAST(sst AS DOUBLE) * su / nn)
           |      * (stu - CAST(sst AS DOUBLE) * su / nn)
           |      / ((CAST(sstt AS DOUBLE) - CAST(sst AS DOUBLE)
           |          * CAST(sst AS DOUBLE) / nn)
           |         * (suu - su * su / nn)) AS r2
           |  FROM arr)
           |SELECT nn AS n_days, ROUND(r2, 6) AS r2_aux,
           |  ROUND(nn * r2, 4) AS bp_lm,
           |  nn * r2 > 3.8415 AS heteroscedastic
           |FROM c""".stripMargin))
}

private object VolumeAnomalyQ {
  import org.apache.spark.sql.functions._

  /** Robust daily-volume anomaly audit per event type — the DQ pager
    * rule for "did yesterday's feed half-arrive": modified z-score
    * 0.6745·(c − med)/MAD (Iglewicz-Hoaglin, |z| > 3.5 flags) with
    * med and MAD as LOWER MEDIANS picked by index from the day-
    * ordered count arrays — exact integer selection, no interpolation
    * ambiguity, engine-identical (the 30-element per-type array is
    * calendar-bounded; the corpus-scale work is one daily count
    * aggregate). MAD degenerate (0) guards to NULL z on both engines.
    */
  val q: Q = Q("dq_volume_anomaly",
    (s, d) => {
      val daily = graft.Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val med = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          expr("""element_at(array_sort(collect_list(c)),
               |  cast((count(1) + 1) div 2 as int))""".stripMargin)
            .as("med"))
      val mad = daily.join(med, "event_type")
        .withColumn("ad", abs(col("c") - col("med")))
        .groupBy("event_type")
        .agg(expr("""element_at(array_sort(collect_list(ad)),
               |  cast((count(1) + 1) div 2 as int))""".stripMargin)
          .as("mad"))
      daily.join(med, "event_type").join(mad, "event_type")
        .withColumn("z", when(col("mad") > 0,
          round(lit(0.6745) * (col("c") - col("med")).cast("double") /
            col("mad").cast("double"), 4)))
        .select(col("event_type"), col("day").cast("string").as("day"),
          col("c").as("n_rows"), col("med").as("median_rows"),
          col("mad"), col("z"),
          coalesce(abs(col("z")) > 3.5, lit(false)).as("anomalous"))
        .orderBy("event_type", "day")
    },
    Some("""WITH daily AS (
           |  SELECT event_type, CAST(ts AS DATE) AS day,
           |    CAST(COUNT(*) AS BIGINT) AS c
           |  FROM events GROUP BY 1, 2),
           |med AS (
           |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           |    (list_sort(list(c)))[CAST((COUNT(*) + 1) // 2 AS INT)]
           |      AS med
           |  FROM daily GROUP BY 1),
           |mad AS (
           |  SELECT d.event_type,
           |    (list_sort(list(abs(d.c - m.med))))
           |      [CAST((COUNT(*) + 1) // 2 AS INT)] AS mad
           |  FROM daily d JOIN med m USING (event_type)
           |  GROUP BY d.event_type),
           |z AS (
           |  SELECT d.event_type, d.day, d.c, m.med, a.mad,
           |    CASE WHEN a.mad > 0 THEN
           |      ROUND(0.6745 * CAST(d.c - m.med AS DOUBLE)
           |        / CAST(a.mad AS DOUBLE), 4) END AS z
           |  FROM daily d JOIN med m USING (event_type)
           |    JOIN mad a ON a.event_type = d.event_type)
           |SELECT event_type, CAST(day AS VARCHAR) AS day, c AS n_rows,
           |  med AS median_rows, mad, z,
           |  COALESCE(abs(z) > 3.5, false) AS anomalous
           |FROM z ORDER BY event_type, day""".stripMargin))
}

private object CrostonQ {
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  /** Croston's method — the intermittent-demand forecaster (spare
    * parts, rare-event capacity): separate exponential smoothing of
    * nonzero demand SIZES and of the INTER-ARRIVAL gaps between
    * demand days, forecast rate = z/p. Demand is the hash-coin-thinned
    * error-event series (~1/20 kept — sparse at small SF, the
    * regime the method exists for). Both smoothers are the ts_ewma
    * truncated-memory device (J=6, α=0.3, fixed double-literal
    * weights spliced into BOTH engines) evaluated at the LAST demand
    * day over the lag window of the nonzero subsequence — no
    * recursion, no cross-engine pow(). Day spine is zero-filled so
    * gap days are real. Calendar-bounded everything after the one
    * fact aggregate; 1-row output.
    */
  private val J = 6
  private val weights: Seq[Double] =
    (0 until J).map(j => (1 to j).foldLeft(0.3)((a, _) => a * 0.7))

  val q: Q = Q("ts_croston",
    (s, d) => {
      val ev = graft.Tables.events(s, d)
        .filter(col("event_type") === "error" &&
          conv(substring(md5(concat(lit("croston:"),
            col("event_id").cast("string"))), 1, 15), 16, 10)
            .cast("long") % 20 === 0)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("dm"))
      val spine = graft.Tables.events(s, d)
        .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val daily = spine.join(ev, Seq("day"), "left")
        .withColumn("dm", coalesce(col("dm"), lit(0L)))
      val wSeq = Window.orderBy("day")
      val nz = daily.filter(col("dm") > 0)
        .withColumn("rn", row_number().over(wSeq))
        .withColumn("gap",
          datediff(col("day"), lag(col("day"), 1).over(wSeq)).cast("long"))
      def lagV(c: String, j: Int) =
        if (j == 0) col(c) else lag(col(c), j).over(Window.orderBy("day"))
      def ewma(c: String) = {
        val num = (0 until J).map(j =>
          coalesce(lagV(c, j).cast("double"), lit(0.0)) * weights(j))
          .reduce(_ + _)
        val den = (0 until J).map(j =>
          when(lagV(c, j).isNotNull, weights(j)).otherwise(0.0))
          .reduce(_ + _)
        // the first nonzero row has NO gap lags at all (den = 0) —
        // guard so ANSI mode doesn't fault on rows the final
        // rn = nnz filter discards anyway
        when(den > 0.0, num / den)
      }
      val last = nz
        .withColumn("z", ewma("dm"))
        .withColumn("p", ewma("gap"))
        .withColumn("nnz", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .filter(col("rn") === col("nnz"))
      val tot = daily.agg(count(lit(1)).as("n_days"),
        sum(col("dm")).as("demand_total"))
      tot.crossJoin(last.select(col("nnz").as("n_demand_days"),
          col("z"), col("p")))
        .select(col("n_days"), col("n_demand_days"), col("demand_total"),
          round(col("z"), 4).as("z_size"),
          when(col("n_demand_days") >= 2, round(col("p"), 4))
            .otherwise(lit(null).cast("double")).as("p_interval"),
          when(col("n_demand_days") >= 2, round(col("z") / col("p"), 4))
            .otherwise(lit(null).cast("double")).as("croston_rate"),
          round(col("demand_total").cast("double") /
            col("n_days").cast("double"), 4).as("naive_rate"))
    },
    Some {
      def wLit(j: Int) = s"CAST('${weights(j)}' AS DOUBLE)"
      def ewma(c: String) = {
        def lagV(j: Int) = if (j == 0) c else s"LAG($c, $j) OVER w"
        val num = (0 until J)
          .map(j => s"COALESCE(CAST(${lagV(j)} AS DOUBLE), 0.0) * ${wLit(j)}")
          .mkString(" + ")
        val den = (0 until J)
          .map(j =>
            s"CASE WHEN ${lagV(j)} IS NOT NULL THEN ${wLit(j)} ELSE 0.0 END")
          .mkString(" + ")
        s"($num) / ($den)"
      }
      s"""WITH ev AS (
         |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS dm
         |  FROM events
         |  WHERE event_type = 'error'
         |    AND ${SQL_HEX15("md5('croston:' || CAST(event_id AS VARCHAR))")}
         |      % 20 = 0
         |  GROUP BY 1),
         |spine AS (
         |  SELECT unnest(generate_series(
         |    (SELECT MIN(CAST(ts AS DATE)) FROM events),
         |    (SELECT MAX(CAST(ts AS DATE)) FROM events),
         |    INTERVAL 1 DAY)) AS day),
         |daily AS (
         |  SELECT CAST(s.day AS DATE) AS day, COALESCE(e.dm, 0) AS dm
         |  FROM spine s LEFT JOIN ev e ON CAST(s.day AS DATE) = e.day),
         |nz AS (
         |  SELECT day, dm,
         |    ROW_NUMBER() OVER (ORDER BY day) AS rn,
         |    CAST(day - LAG(day, 1) OVER (ORDER BY day) AS BIGINT) AS gap
         |  FROM daily WHERE dm > 0),
         |last AS (
         |  SELECT rn AS n_demand_days,
         |    ${ewma("dm")} AS z, ${ewma("gap")} AS p
         |  FROM nz
         |  WINDOW w AS (ORDER BY day)
         |  QUALIFY rn = (SELECT COUNT(*) FROM nz)),
         |tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(dm) AS BIGINT) AS demand_total FROM daily)
         |SELECT n_days, n_demand_days, demand_total,
         |  ROUND(z, 4) AS z_size,
         |  CASE WHEN n_demand_days >= 2 THEN ROUND(p, 4) END AS p_interval,
         |  CASE WHEN n_demand_days >= 2 THEN ROUND(z / p, 4) END
         |    AS croston_rate,
         |  ROUND(CAST(demand_total AS DOUBLE) / n_days, 4) AS naive_rate
         |FROM tot, last""".stripMargin
    })
}

private object DurbinWatsonQ {
  import org.apache.spark.sql.functions._

  /** Durbin-Watson autocorrelation test on the residuals of the
    * daily-revenue-vs-time OLS line — the standard "is the trend
    * model leaving serial structure behind" check run before trusting
    * regression standard errors. The line fits CLOSED-FORM from exact
    * BIGINT/DECIMAL moments (t = day rank, y = purchase cents);
    * residuals are per-row mirrored doubles, and both DW sums — Σ(eₜ
    * − eₜ₋₁)² and Σeₜ² — fold over the day-ordered residual ARRAY in
    * index order (the index-order-fold device, calendar-bounded).
    * DW ≈ 2(1−ρ̂). One fact aggregate; 1-row output.
    */
  val q: Q = Q("stat_durbin_watson",
    (s, d) => {
      val wSeq = org.apache.spark.sql.expressions.Window.orderBy("day")
      val byday = graft.Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg((sum(col("value").cast("decimal(18,2)")) * 100)
          .cast("decimal(20,0)").as("y"))
        .withColumn("t", row_number().over(wSeq).cast("long"))
      val m = byday.agg(count(lit(1)).as("n"), sum("t").as("st"),
        sum(col("t") * col("t")).as("stt"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("y") * col("t")).cast("decimal(38,0)")).as("sty"))
      def dd(c: String) = col(c).cast("double")
      val b = (dd("n") * dd("sty") - dd("st") * dd("sy")) /
        (dd("n") * dd("stt") - dd("st") * dd("st"))
      val a = (dd("sy") - b * dd("st")) / dd("n")
      byday.crossJoin(broadcast(m))
        .withColumn("e", dd("y") - a - b * col("t").cast("double"))
        .agg(max("n").as("n_days"),
          expr("""aggregate(transform(sort_array(collect_list(
               |    struct(t, e))), x -> x.e * x.e),
               |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
            .as("den"),
          expr("""aggregate(transform(sequence(2, cast(max(n) as int)),
               |    i -> (element_at(transform(sort_array(collect_list(
               |           struct(t, e))), x -> x.e), i)
               |        - element_at(transform(sort_array(collect_list(
               |           struct(t, e))), x -> x.e), i - 1))),
               |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v)""".stripMargin)
            .as("num"))
        .select(col("n_days"),
          round(col("num") / col("den"), 4).as("dw"),
          round(lit(1.0) - col("num") / col("den") / 2.0, 4).as("rho_hat"))
    },
    Some("""WITH byday AS (
           |  SELECT day, y, ROW_NUMBER() OVER (ORDER BY day) AS t
           |  FROM (SELECT CAST(ts AS DATE) AS day,
           |          CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100
           |            AS DECIMAL(20,0)) AS y
           |        FROM events WHERE event_type = 'purchase'
           |        GROUP BY 1) x),
           |m AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(t) AS BIGINT) AS st,
           |    CAST(SUM(t * t) AS BIGINT) AS stt,
           |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
           |    SUM(CAST(y * t AS DECIMAL(38,0))) AS sty
           |  FROM byday),
           |res AS (
           |  SELECT t,
           |    CAST(y AS DOUBLE)
           |      - (CAST(sy AS DOUBLE)
           |         - ((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
           |             - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
           |            / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
           |               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)))
           |           * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE)
           |      - ((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
           |          - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
           |         / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
           |            - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)))
           |        * CAST(t AS DOUBLE) AS e
           |  FROM byday, m),
           |arr AS (
           |  SELECT (SELECT MAX(n) FROM m) AS n_days,
           |    list(e ORDER BY t) AS l
           |  FROM res)
           |SELECT n_days,
           |  ROUND(list_sum(list_transform(generate_series(2,
           |      CAST(n_days AS INT)),
           |      i -> (l[i] - l[i - 1]) * (l[i] - l[i - 1])))
           |    / list_sum(list_transform(l, x -> x * x)), 4) AS dw,
           |  ROUND(1.0 - list_sum(list_transform(generate_series(2,
           |      CAST(n_days AS INT)),
           |      i -> (l[i] - l[i - 1]) * (l[i] - l[i - 1])))
           |    / list_sum(list_transform(l, x -> x * x)) / 2.0, 4)
           |    AS rho_hat
           |FROM arr""".stripMargin))
}

private object CooksDistanceQ {
  import org.apache.spark.sql.functions._

  /** Cook's distance influence audit of the same daily regression —
    * which single days, if dropped, would move the fitted trend most.
    * Everything is per-row closed form over the exact moment summary
    * (leverage hₜ = 1/n + (t−t̄)²/Sₜₜᶜ, residual eₜ, s² from the
    * SSE identity Syyᶜ − b·Sxyᶜ — one more exact Σy² moment), so
    * there are NO double folds at all; the influential flag compares
    * Dₜ to the 4/n rule. Calendar-bounded; one fact aggregate.
    */
  val q: Q = Q("stat_cooks_distance",
    (s, d) => {
      val wSeq = org.apache.spark.sql.expressions.Window.orderBy("day")
      val byday = graft.Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg((sum(col("value").cast("decimal(18,2)")) * 100)
          .cast("decimal(20,0)").as("y"))
        .withColumn("t", row_number().over(wSeq).cast("long"))
      val m = byday.agg(count(lit(1)).as("n"), sum("t").as("st"),
        sum(col("t") * col("t")).as("stt"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("y") * col("t")).cast("decimal(38,0)")).as("sty"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      def dd(c: String) = col(c).cast("double")
      val sttC = dd("stt") - dd("st") * dd("st") / dd("n")
      val styC = dd("sty") - dd("st") * dd("sy") / dd("n")
      val syyC = dd("syy") - dd("sy") * dd("sy") / dd("n")
      val b = styC / sttC
      val a = (dd("sy") - b * dd("st")) / dd("n")
      val s2 = (syyC - b * styC) / (dd("n") - 2.0)
      byday.crossJoin(broadcast(m))
        .withColumn("e", dd("y") - a - b * col("t").cast("double"))
        .withColumn("h", lit(1.0) / dd("n") +
          (col("t").cast("double") - dd("st") / dd("n")) *
            (col("t").cast("double") - dd("st") / dd("n")) / sttC)
        .withColumn("cooks_d", col("e") * col("e") * col("h") /
          (lit(2.0) * s2 * (lit(1.0) - col("h")) * (lit(1.0) - col("h"))))
        .select(col("day").cast("string").as("day"),
          (dd("y") / 100.0).as("revenue"),
          round(col("e") / 100.0, 4).as("residual_dollars"),
          round(col("h"), 6).as("leverage"),
          round(col("cooks_d"), 6).as("cooks_d"),
          (col("cooks_d") > lit(4.0) / dd("n")).as("influential"))
        .orderBy("day")
    },
    Some("""WITH byday AS (
           |  SELECT day, y, ROW_NUMBER() OVER (ORDER BY day) AS t
           |  FROM (SELECT CAST(ts AS DATE) AS day,
           |          CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100
           |            AS DECIMAL(20,0)) AS y
           |        FROM events WHERE event_type = 'purchase'
           |        GROUP BY 1) x),
           |m AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(t) AS BIGINT) AS st,
           |    CAST(SUM(t * t) AS BIGINT) AS stt,
           |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
           |    SUM(CAST(y * t AS DECIMAL(38,0))) AS sty,
           |    SUM(CAST(y * y AS DECIMAL(38,0))) AS syy
           |  FROM byday),
           |c AS (
           |  SELECT n, st, sy,
           |    CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
           |      / CAST(n AS DOUBLE) AS sttc,
           |    CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE)
           |      / CAST(n AS DOUBLE) AS styc,
           |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
           |      / CAST(n AS DOUBLE) AS syyc
           |  FROM m),
           |f AS (
           |  SELECT n, st, sy, sttc, styc / sttc AS b,
           |    (CAST(sy AS DOUBLE) - (styc / sttc) * CAST(st AS DOUBLE))
           |      / CAST(n AS DOUBLE) AS a,
           |    (syyc - (styc / sttc) * styc) / (CAST(n AS DOUBLE) - 2.0)
           |      AS s2
           |  FROM c),
           |r AS (
           |  SELECT day, y, t,
           |    CAST(y AS DOUBLE) - a - b * CAST(t AS DOUBLE) AS e,
           |    1.0 / CAST(n AS DOUBLE)
           |      + (CAST(t AS DOUBLE) - CAST(st AS DOUBLE)
           |         / CAST(n AS DOUBLE))
           |      * (CAST(t AS DOUBLE) - CAST(st AS DOUBLE)
             |       / CAST(n AS DOUBLE)) / sttc AS h,
           |    s2, n
           |  FROM byday, f)
           |SELECT CAST(day AS VARCHAR) AS day,
           |  CAST(y AS DOUBLE) / 100.0 AS revenue,
           |  ROUND(e / 100.0, 4) AS residual_dollars,
           |  ROUND(h, 6) AS leverage,
           |  ROUND(e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 6)
           |    AS cooks_d,
           |  e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h))
           |    > 4.0 / CAST(n AS DOUBLE) AS influential
           |FROM r ORDER BY day""".stripMargin))
}

private object HurstQ {
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  /** Rescaled-range Hurst exponent of the daily purchase-count series
    * — the long-memory probe (H≈0.5 random walk, H>0.5 trending,
    * H<0.5 mean-reverting) capacity planners run before trusting a
    * seasonal forecast. R/S per segment stays EXACT until one final
    * sqrt: the k-scaled cumulative deviation k·cumⱼ − j·S is a pure
    * BIGINT (cum from a within-segment window over the calendar-
    * bounded day series), so R/S = (max−min)/√(k·Σc²−S²) is one
    * mirrored double form per segment. Segment log₂(R/S) means fold
    * IN SEGMENT ORDER (index-order-fold device, ≤ n_days/8 terms);
    * Ĥ = mean₁₆ − mean₈ (the two-point slope over log₂ window sizes
    * one apart). Zero-variance or partial segments drop on both
    * engines. Scale: one daily aggregate; everything after is
    * calendar-bounded.
    */
  private val SIZES = Seq(8, 16)

  val q: Q = Q("ts_hurst_rs",
    (s, d) => {
      val daily = graft.Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(Window.orderBy("day")))
      def meanLogRs(k: Int) = {
        val seg = daily
          .withColumn("seg", ((col("rn") - 1) / k).cast("long"))
          .withColumn("j", ((col("rn") - 1) % k + 1).cast("long"))
        val tot = seg.groupBy("seg")
          .agg(count(lit(1)).as("len"), sum("c").as("ss"),
            sum(col("c") * col("c")).as("q2"))
          .filter(col("len") === k &&
            lit(k) * col("q2") - col("ss") * col("ss") > 0)
        val dev = seg.join(tot, "seg")
          .withColumn("cum", sum("c").over(
            Window.partitionBy("seg").orderBy("day")))
          .withColumn("dev", lit(k) * col("cum") - col("j") * col("ss"))
        val rs = dev.groupBy("seg")
          .agg(max(col("q2")).as("q2"), max(col("ss")).as("ss"),
            (max("dev") - min("dev")).as("rlen"))
          .withColumn("rs", col("rlen").cast("double") /
            sqrt((lit(k) * col("q2") - col("ss") * col("ss"))
              .cast("double")))
        rs.agg(count(lit(1)).as(s"n_seg$k"),
          expr(s"""aggregate(transform(sort_array(collect_list(struct(seg,
               |    log2(rs) AS t))), x -> x.t),
               |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
               |  / count(1)""".stripMargin).as(s"m$k"))
      }
      daily.agg(count(lit(1)).as("n_days"))
        .crossJoin(meanLogRs(8)).crossJoin(meanLogRs(16))
        .select(col("n_days"), col("n_seg8"), col("n_seg16"),
          round(col("m8"), 6).as("mean_log2_rs8"),
          round(col("m16"), 6).as("mean_log2_rs16"),
          round(col("m16") - col("m8"), 6).as("hurst"))
    },
    Some {
      def block(k: Int) =
        s"""seq$k AS (
           |  SELECT day, c, CAST((rn - 1) // $k AS BIGINT) AS seg,
           |    CAST((rn - 1) % $k + 1 AS BIGINT) AS j
           |  FROM seq),
           |tot$k AS (
           |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS len,
           |    CAST(SUM(c) AS BIGINT) AS ss,
           |    CAST(SUM(c * c) AS BIGINT) AS q2
           |  FROM seq$k GROUP BY seg
           |  HAVING COUNT(*) = $k
           |    AND $k * SUM(c * c) - SUM(c) * SUM(c) > 0),
           |dev$k AS (
           |  SELECT s.seg, t.q2, t.ss,
           |    $k * SUM(s.c) OVER (PARTITION BY s.seg ORDER BY s.day
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      - s.j * t.ss AS dev
           |  FROM seq$k s JOIN tot$k t USING (seg)),
           |rs$k AS (
           |  SELECT seg,
           |    CAST(MAX(dev) - MIN(dev) AS DOUBLE)
           |      / sqrt(CAST($k * MAX(q2) - MAX(ss) * MAX(ss) AS DOUBLE))
           |      AS rs
           |  FROM dev$k GROUP BY seg),
           |m$k AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_seg$k,
           |    list_sum(list(log2(rs) ORDER BY seg)) / COUNT(*) AS m$k
           |  FROM rs$k)""".stripMargin
      s"""WITH daily AS (
         |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |seq AS (
         |  SELECT day, c, ROW_NUMBER() OVER (ORDER BY day) AS rn
         |  FROM daily),
         |${SIZES.map(block).mkString(",\n")}
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
         |  n_seg8, n_seg16,
         |  ROUND(m8, 6) AS mean_log2_rs8,
         |  ROUND(m16, 6) AS mean_log2_rs16,
         |  ROUND(m16 - m8, 6) AS hurst
         |FROM m8, m16""".stripMargin
    })
}

private object ViterbiQ {
  import org.apache.spark.sql.functions._
  // ln-parameters shared verbatim by both engines (2 states: 0=quiet,
  // 1=busy; obs: 1 = day above the mean daily purchase count)
  private val lt = Array(Array(math.log(0.8), math.log(0.2)),
    Array(math.log(0.3), math.log(0.7)))
  private val le = Array(Array(math.log(0.7), math.log(0.3)),
    Array(math.log(0.2), math.log(0.8)))
  private val lp0 = math.log(0.5)

  /** DOUBLE-typed SQL literal: DuckDB binds bare decimal literals as
    * DECIMAL (which overflowed on the first log-prob addition); the
    * string-cast round-trips the shortest repr to the identical bits.
    */
  private def L(x: Double) = s"CAST('$x' AS DOUBLE)"

  val q: Q = Q("ts_hmm_viterbi",
    (s, d) => {
      import s.implicits._
      val counts = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .orderBy("day").select("c").collect().map(_.getLong(0))
      val n = counts.length
      // obs vs the exact mean: c * n > sum * 1 keeps it integer
      val total = counts.sum
      val obs = counts.map(c => if (c * n > total) 1 else 0)
      val v = Array.fill(n, 2)(0.0)
      val bp = Array.fill(n, 2)(0)
      for (st <- 0 to 1) v(0)(st) = lp0 + le(st)(obs(0))
      for (t <- 1 until n; st <- 0 to 1) {
        val c0 = v(t - 1)(0) + lt(0)(st)
        val c1 = v(t - 1)(1) + lt(1)(st)
        if (c0 >= c1) { v(t)(st) = c0 + le(st)(obs(t)); bp(t)(st) = 0 }
        else { v(t)(st) = c1 + le(st)(obs(t)); bp(t)(st) = 1 }
      }
      val path = new Array[Int](n)
      path(n - 1) = if (v(n - 1)(0) >= v(n - 1)(1)) 0 else 1
      for (t <- n - 2 to 0 by -1) path(t) = bp(t + 1)(path(t + 1))
      (1 to n).map(t => (t.toLong, obs(t - 1).toLong, path(t - 1).toLong))
        .toDF("t", "obs_hi", "state_busy")
        .orderBy("t")
    },
    Some(s"""WITH RECURSIVE
            |byday AS (
            |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS t,
            |    CAST(c AS BIGINT) AS c
            |  FROM (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
            |        FROM events WHERE event_type = 'purchase'
            |        GROUP BY 1) x),
            |nn AS (SELECT MAX(t) AS n, CAST(SUM(c) AS BIGINT) AS total
            |       FROM byday),
            |obs AS (SELECT t, CASE WHEN c * (SELECT n FROM nn)
            |    > (SELECT total FROM nn) THEN 1 ELSE 0 END AS o
            |  FROM byday),
            |fwd AS (
            |  SELECT CAST(1 AS BIGINT) AS t,
            |    ${L(lp0)} + CASE WHEN o = 1 THEN ${L(le(0)(1))} ELSE ${L(le(0)(0))} END
            |      AS v0,
            |    ${L(lp0)} + CASE WHEN o = 1 THEN ${L(le(1)(1))} ELSE ${L(le(1)(0))} END
            |      AS v1,
            |    0 AS bp0, 0 AS bp1
            |  FROM obs WHERE t = 1
            |  UNION ALL
            |  SELECT o.t,
            |    CASE WHEN p.v0 + ${L(lt(0)(0))} >= p.v1 + ${L(lt(1)(0))}
            |         THEN p.v0 + ${L(lt(0)(0))} ELSE p.v1 + ${L(lt(1)(0))} END
            |      + CASE WHEN o.o = 1 THEN ${L(le(0)(1))} ELSE ${L(le(0)(0))} END
            |      AS v0,
            |    CASE WHEN p.v0 + ${L(lt(0)(1))} >= p.v1 + ${L(lt(1)(1))}
            |         THEN p.v0 + ${L(lt(0)(1))} ELSE p.v1 + ${L(lt(1)(1))} END
            |      + CASE WHEN o.o = 1 THEN ${L(le(1)(1))} ELSE ${L(le(1)(0))} END
            |      AS v1,
            |    CASE WHEN p.v0 + ${L(lt(0)(0))} >= p.v1 + ${L(lt(1)(0))}
            |         THEN 0 ELSE 1 END AS bp0,
            |    CASE WHEN p.v0 + ${L(lt(0)(1))} >= p.v1 + ${L(lt(1)(1))}
            |         THEN 0 ELSE 1 END AS bp1
            |  FROM fwd p JOIN obs o ON o.t = p.t + 1),
            |back AS (
            |  SELECT f.t, CASE WHEN f.v0 >= f.v1 THEN 0 ELSE 1 END AS st
            |  FROM fwd f, nn WHERE f.t = nn.n
            |  UNION ALL
            |  SELECT b.t - 1,
            |    CASE WHEN b.st = 0 THEN f.bp0 ELSE f.bp1 END AS st
            |  FROM back b JOIN fwd f ON f.t = b.t WHERE b.t > 1)
            |SELECT o.t, CAST(o.o AS BIGINT) AS obs_hi,
            |  CAST(b.st AS BIGINT) AS state_busy
            |FROM obs o JOIN back b ON o.t = b.t
            |ORDER BY o.t""".stripMargin))
}

/** Holt–Winters additive triple exponential smoothing (weekly season,
  * m=7) over the daily purchase-count series — the seasonal upgrade of
  * `ts_holt_linear` (level+trend only) and the classical forecasting
  * staple. Standard init: level = mean of week 1, trend = (mean of
  * week 2 − mean of week 1)/7, seasonals = week-1 deviations; then the
  * textbook recurrence at α=.3 β=.1 γ=.2 (literals spliced through the
  * ViterbiQ L() double-cast device so both engines fold the identical
  * IEEE constants in the identical op order). Output: the 7-day-ahead
  * forecast fan (h=1..7) plus final level/trend.
  *
  * Scale split (the ts_hmm_viterbi precedent): the day aggregation is
  * distributed; the O(T) recurrence runs on the collected
  * calendar-bounded series (≤ a few thousand doubles at ANY corpus
  * size — model-parameter work, like the k-means codebooks). The
  * oracle replays the same recurrence as a DuckDB recursive CTE whose
  * state row carries the rolling 7-seasonal window as a LIST column.
  */
private object HoltWintersQ {
  import org.apache.spark.sql.functions._
  private val A = 0.3; private val B = 0.1; private val G = 0.2
  private val NA = 1.0 - A; private val NB = 1.0 - B; private val NG = 1.0 - G
  private def L(x: Double) = s"CAST('$x' AS DOUBLE)"

  val q: Q = Q("ts_holt_winters",
    (s, d) => {
      import s.implicits._
      val counts = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .orderBy("day").select("c").collect().map(_.getLong(0))
      val n = counts.length
      require(n >= 15, s"holt-winters needs >= 2 weeks + 1 day, got $n")
      var l = counts.take(7).sum / 7.0
      var b = (counts.slice(7, 14).sum / 7.0 - counts.take(7).sum / 7.0) / 7.0
      // rolling seasonal window, oldest first: sl(0) is S_{t-6}.. sl(6)=S_t
      var sl = counts.take(7).map(c => c - counts.take(7).sum / 7.0)
      var t = 7
      while (t < n) {
        val c = counts(t).toDouble
        val sUsed = sl(0)
        val lNew = A * (c - sUsed) + NA * (l + b)
        val bNew = B * (lNew - l) + NB * b
        val sNew = G * (c - lNew) + NG * sUsed
        l = lNew; b = bNew
        sl = sl.drop(1) :+ sNew
        t += 1
      }
      (1 to 7).map(h => (h.toLong, l + h * b + sl(h - 1), l, b))
        .toDF("h", "fraw", "lraw", "braw")
        .select(col("h"), round(col("fraw"), 6).as("forecast"),
          round(col("lraw"), 6).as("level"), round(col("braw"), 6).as("trend"))
        .orderBy("h")
    },
    Some(s"""WITH RECURSIVE
            |byday AS (
            |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS t,
            |    CAST(c AS BIGINT) AS c
            |  FROM (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
            |        FROM events WHERE event_type = 'purchase'
            |        GROUP BY 1) x),
            |nn AS (SELECT MAX(t) AS n FROM byday),
            |cl AS (SELECT list(c ORDER BY t) AS cs FROM byday),
            |init AS (
            |  SELECT CAST(7 AS BIGINT) AS t,
            |    list_sum(cs[1:7]) / 7.0 AS l,
            |    (list_sum(cs[8:14]) / 7.0 - list_sum(cs[1:7]) / 7.0) / 7.0
            |      AS b,
            |    list_transform(cs[1:7],
            |      x -> x - list_sum(cs[1:7]) / 7.0) AS sl
            |  FROM cl),
            |rec AS (
            |  SELECT * FROM init
            |  UNION ALL
            |  SELECT r.t + 1,
            |    ${L(A)} * (bd.c - r.sl[1]) + ${L(NA)} * (r.l + r.b),
            |    ${L(B)} * ((${L(A)} * (bd.c - r.sl[1])
            |        + ${L(NA)} * (r.l + r.b)) - r.l) + ${L(NB)} * r.b,
            |    r.sl[2:7] || [${L(G)} * (bd.c
            |        - (${L(A)} * (bd.c - r.sl[1]) + ${L(NA)} * (r.l + r.b)))
            |      + ${L(NG)} * r.sl[1]]
            |  FROM rec r JOIN byday bd ON bd.t = r.t + 1),
            |fin AS (SELECT * FROM rec WHERE t = (SELECT n FROM nn))
            |SELECT CAST(h AS BIGINT) AS h,
            |  ROUND(l + h * b + sl[h], 6) AS forecast,
            |  ROUND(l, 6) AS level, ROUND(b, 6) AS trend
            |FROM fin, unnest(generate_series(1, 7)) t(h)
            |ORDER BY h""".stripMargin))
}

/** Classical time-series diagnostics on the calendar-bounded daily
  * event-count series ([[Stats2.daily]]). Every statistic is a
  * closed form over EXACT integer moment sums (counts, lag products,
  * signed block sums), so the final double trees are bit-identical
  * across engines; the only fact-table work is one linear groupBy to
  * ≤31 day rows, after which everything is model-sized.
  */
private object Wave17Q {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._
  import Stats2.{SQL_DAILY, daily}

  /** Augmented-Dickey-Fuller (lag-0 DF form): regress Δy_t on y_{t−1}
    * with intercept; t(γ) vs the −2.86 5% constant-case critical
    * value answers "is the daily volume series mean-reverting or a
    * random walk" — the stationarity precondition every ARIMA-ish
    * forecaster (ts_holt_*, ts_yule_walker_ar2) silently assumes.
    * γ, SE, t all from exact integer sums of the ≤30-row day series.
    */
  val adf: Q = Q("ts_adf_test",
    (s, d) => {
      val w = Window.orderBy("day")
      val p = daily(s, d)
        .withColumn("x", lag(col("c"), 1).over(w))
        .filter(col("x").isNotNull)
        .withColumn("dy", col("c") - col("x"))
      p.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("dy").as("sy"),
          sum(col("x") * col("dy")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
        .withColumn("gamma",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .withColumn("sse",
          (col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double") / col("n"))
            - col("gamma") * (col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double") / col("n")))
        .withColumn("se", sqrt(
          (col("sse") / (col("n") - 2))
            / (col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double") / col("n"))))
        .select(col("n"), round(col("gamma"), 6).as("gamma"),
          round(col("gamma") / col("se"), 4).as("adf_t"),
          (col("gamma") / col("se") < -2.86).as("stationary_5pct"))
    },
    Some(s"""WITH byday AS ($SQL_DAILY),
            |p AS (
            |  SELECT c, LAG(c, 1) OVER (ORDER BY day) AS x
            |  FROM byday),
            |m AS (
            |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
            |    CAST(SUM(x) AS BIGINT) AS sx,
            |    CAST(SUM(c - x) AS BIGINT) AS sy,
            |    CAST(SUM(x * (c - x)) AS BIGINT) AS sxy,
            |    CAST(SUM(x * x) AS BIGINT) AS sxx,
            |    CAST(SUM((c - x) * (c - x)) AS BIGINT) AS syy
            |  FROM p WHERE x IS NOT NULL),
            |g AS (
            |  SELECT n,
            |    CAST(n * sxy - sx * sy AS DOUBLE)
            |      / CAST(n * sxx - sx * sx AS DOUBLE) AS gamma,
            |    sx, sy, sxy, sxx, syy
            |  FROM m),
            |e AS (
            |  SELECT n, gamma,
            |    (CAST(syy AS DOUBLE)
            |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
            |      - gamma * (CAST(sxy AS DOUBLE)
            |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) AS sse,
            |    CAST(sxx AS DOUBLE)
            |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS ssx
            |  FROM g)
            |SELECT n, ROUND(gamma, 6) AS gamma,
            |  ROUND(gamma / sqrt((sse / (n - 2)) / ssx), 4) AS adf_t,
            |  gamma / sqrt((sse / (n - 2)) / ssx) < -2.86 AS stationary_5pct
            |FROM e""".stripMargin))

  /** Yule-Walker AR(2) fit + 1-step forecast: φ₁, φ₂ from the biased
    * lag-1/2 autocovariances (c_k = Σy_t·y_{t−k} − ȳ(head+tail) +
    * (n−k)ȳ², every Σ an exact integer), the closed 2×2 solve, and
    * ŷ_{n+1} anchored at the max_by-selected last two days — the
    * lightweight AR forecaster between ts_ewma and ts_holt_winters.
    */
  val yuleWalker: Q = Q("ts_yule_walker_ar2",
    (s, d) => {
      val w = Window.orderBy("day")
      val p = daily(s, d)
        .withColumn("x1", lag(col("c"), 1).over(w))
        .withColumn("x2", lag(col("c"), 2).over(w))
      val a = p.agg(count(lit(1)).as("n"), sum("c").as("sy"),
        sum(col("c") * col("c")).as("syy"),
        sum(col("c") * col("x1")).as("p1"),
        sum(when(col("x1").isNotNull, col("c"))).as("t1"),
        sum("x1").as("h1"),
        sum(col("c") * col("x2")).as("p2"),
        sum(when(col("x2").isNotNull, col("c"))).as("t2"),
        sum("x2").as("h2"),
        max_by(col("c"), col("day")).as("y_last"),
        max_by(col("x1"), col("day")).as("y_prev"))
      val withR = a
        .withColumn("ybar", col("sy").cast("double") / col("n"))
        .withColumn("c0", col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double") / col("n"))
        .withColumn("c1", col("p1").cast("double")
          - col("ybar") * (col("t1") + col("h1")).cast("double")
          + (col("n") - 1).cast("double") * col("ybar") * col("ybar"))
        .withColumn("c2", col("p2").cast("double")
          - col("ybar") * (col("t2") + col("h2")).cast("double")
          + (col("n") - 2).cast("double") * col("ybar") * col("ybar"))
        .withColumn("r1", col("c1") / col("c0"))
        .withColumn("r2", col("c2") / col("c0"))
        .withColumn("phi1",
          col("r1") * (lit(1.0) - col("r2"))
            / (lit(1.0) - col("r1") * col("r1")))
        .withColumn("phi2",
          (col("r2") - col("r1") * col("r1"))
            / (lit(1.0) - col("r1") * col("r1")))
      withR.select(col("n"),
        round(col("r1"), 4).as("r1"), round(col("r2"), 4).as("r2"),
        round(col("phi1"), 4).as("phi1"), round(col("phi2"), 4).as("phi2"),
        round(col("ybar")
          + col("phi1") * (col("y_last") - col("ybar"))
          + col("phi2") * (col("y_prev") - col("ybar")), 4).as("forecast"))
    },
    Some(s"""WITH byday AS ($SQL_DAILY),
            |p AS (
            |  SELECT day, c,
            |    LAG(c, 1) OVER (ORDER BY day) AS x1,
            |    LAG(c, 2) OVER (ORDER BY day) AS x2
            |  FROM byday),
            |m AS (
            |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
            |    CAST(SUM(c) AS BIGINT) AS sy,
            |    CAST(SUM(c * c) AS BIGINT) AS syy,
            |    CAST(SUM(c * x1) AS BIGINT) AS p1,
            |    CAST(SUM(c) FILTER (WHERE x1 IS NOT NULL) AS BIGINT) AS t1,
            |    CAST(SUM(x1) AS BIGINT) AS h1,
            |    CAST(SUM(c * x2) AS BIGINT) AS p2,
            |    CAST(SUM(c) FILTER (WHERE x2 IS NOT NULL) AS BIGINT) AS t2,
            |    CAST(SUM(x2) AS BIGINT) AS h2,
            |    max_by(c, day) AS y_last,
            |    max_by(x1, day) AS y_prev
            |  FROM p),
            |r AS (
            |  SELECT n, y_last, y_prev,
            |    CAST(sy AS DOUBLE) / n AS ybar,
            |    CAST(syy AS DOUBLE)
            |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS c0,
            |    sy, syy, p1, t1, h1, p2, t2, h2
            |  FROM m),
            |cc AS (
            |  SELECT n, y_last, y_prev, ybar, c0,
            |    CAST(p1 AS DOUBLE) - ybar * CAST(t1 + h1 AS DOUBLE)
            |      + CAST(n - 1 AS DOUBLE) * ybar * ybar AS c1,
            |    CAST(p2 AS DOUBLE) - ybar * CAST(t2 + h2 AS DOUBLE)
            |      + CAST(n - 2 AS DOUBLE) * ybar * ybar AS c2
            |  FROM r),
            |ph AS (
            |  SELECT n, y_last, y_prev, ybar,
            |    c1 / c0 AS r1, c2 / c0 AS r2,
            |    (c1 / c0) * (1.0 - c2 / c0)
            |      / (1.0 - (c1 / c0) * (c1 / c0)) AS phi1,
            |    (c2 / c0 - (c1 / c0) * (c1 / c0))
            |      / (1.0 - (c1 / c0) * (c1 / c0)) AS phi2
            |  FROM cc)
            |SELECT n, ROUND(r1, 4) AS r1, ROUND(r2, 4) AS r2,
            |  ROUND(phi1, 4) AS phi1, ROUND(phi2, 4) AS phi2,
            |  ROUND(ybar + phi1 * (y_last - ybar)
            |    + phi2 * (y_prev - ybar), 4) AS forecast
            |FROM ph""".stripMargin))

  /** Newey-West (HAC) long-run variance of the daily count series with
    * Bartlett weights, L = 5: lrv = c₀/n + 2Σ_{l≤5}(1 − l/6)·c_l/n.
    * The autocorrelation-robust denominator for any mean-shift test
    * on serially-correlated dailies (stat_welch_ttest assumes iid;
    * this is what replaces its s² when rows are days, not users).
    * The ac_inflation ratio lrv/γ₀ is the effective-sample-size
    * correction factor. Same exact-integer lag-moment device as the
    * AR(2) fit, stacked over 5 lags.
    */
  val neweyWest: Q = Q("ts_newey_west", {
    val LAGS = 1 to 5
    (s, d) => {
      val w = Window.orderBy("day")
      val lagged = LAGS.foldLeft(daily(s, d)) { (df, l) =>
        df.withColumn(s"x$l", lag(col("c"), l).over(w))
      }
      val base = lagged.agg(count(lit(1)).as("n"), sum("c").as("sy"),
        sum(col("c") * col("c")).as("syy"))
        .withColumn("ybar", col("sy").cast("double") / col("n"))
        .withColumn("c0", col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double") / col("n"))
      val stackExpr = LAGS.map(l => s"${l}L, x$l").mkString(", ")
      val perLag = lagged
        .selectExpr("c", s"stack(${LAGS.size}, $stackExpr) AS (lag, xl)")
        .filter(col("xl").isNotNull)
        .groupBy("lag")
        .agg(sum(col("c") * col("xl")).as("pl"),
          sum("c").as("tl"), sum("xl").as("hl"), count(lit(1)).as("npairs"))
      val cl = perLag.crossJoin(broadcast(base))
        .withColumn("clag", col("pl").cast("double")
          - col("ybar") * (col("tl") + col("hl")).cast("double")
          + col("npairs").cast("double") * col("ybar") * col("ybar"))
        .agg(sum((lit(1.0) - col("lag") / lit(6.0)) * col("clag")).as("wsum"),
          max("n").as("n"), max("c0").as("c0"))
      cl.select(col("n"),
        round(col("c0") / col("n"), 4).as("gamma0"),
        round((col("c0") + lit(2.0) * col("wsum")) / col("n"), 4).as("lrv"),
        round((col("c0") + lit(2.0) * col("wsum")) / col("c0"), 4)
          .as("ac_inflation"))
    }
  },
    Some {
      val arms = (1 to 5).map(l =>
        s"SELECT CAST($l AS BIGINT) AS lag, c, x$l AS xl FROM lagged")
        .mkString("\n  UNION ALL ")
      val lagCols = (1 to 5).map(l => s"LAG(c, $l) OVER w AS x$l")
        .mkString(", ")
      s"""WITH byday AS ($SQL_DAILY),
         |lagged AS (
         |  SELECT c, $lagCols FROM byday
         |  WINDOW w AS (ORDER BY day)),
         |base AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(c) AS DOUBLE) / COUNT(*) AS ybar,
         |    CAST(CAST(SUM(c * c) AS BIGINT) AS DOUBLE)
         |      - CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)
         |        * CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)
         |        / CAST(COUNT(*) AS BIGINT) AS c0
         |  FROM byday),
         |pairs AS ($arms),
         |perlag AS (
         |  SELECT lag, CAST(SUM(c * xl) AS BIGINT) AS pl,
         |    CAST(SUM(c) AS BIGINT) AS tl, CAST(SUM(xl) AS BIGINT) AS hl,
         |    CAST(COUNT(*) AS BIGINT) AS npairs
         |  FROM pairs WHERE xl IS NOT NULL GROUP BY lag),
         |cl AS (
         |  SELECT SUM((1.0 - lag / 6.0)
         |      * (CAST(pl AS DOUBLE) - ybar * CAST(tl + hl AS DOUBLE)
         |        + CAST(npairs AS DOUBLE) * ybar * ybar)) AS wsum,
         |    MAX(n) AS n, MAX(c0) AS c0
         |  FROM perlag, base)
         |SELECT n, ROUND(c0 / n, 4) AS gamma0,
         |  ROUND((c0 + 2.0 * wsum) / n, 4) AS lrv,
         |  ROUND((c0 + 2.0 * wsum) / c0, 4) AS ac_inflation
         |FROM cl""".stripMargin
    })

  /** Turning-points randomness test: count days that are strict local
    * extrema of the daily series; under iid-ness T ~ N(2(n−2)/3,
    * (16n−29)/90). The nonparametric "is there ANY serial structure"
    * screen that needs no distributional assumptions at all — the
    * cheapest pre-test before the heavier ADF / Ljung-Box machinery.
    * Exact integer extrema count; one double z at the end.
    */
  val turningPoints: Q = Q("ts_turning_points",
    (s, d) => {
      val w = Window.orderBy("day")
      val p = daily(s, d)
        .withColumn("prev", lag(col("c"), 1).over(w))
        .withColumn("nxt", lead(col("c"), 1).over(w))
      p.agg(count(lit(1)).as("n"),
          count(when(col("prev").isNotNull && col("nxt").isNotNull &&
            (col("c") - col("prev")) * (col("nxt") - col("c")) < 0,
            lit(1))).as("t_count"))
        .withColumn("expected",
          lit(2.0) * (col("n") - 2).cast("double") / lit(3.0))
        .withColumn("vr",
          (lit(16.0) * col("n").cast("double") - lit(29.0)) / lit(90.0))
        .select(col("n"), col("t_count"),
          round(col("expected"), 4).as("expected"),
          round((col("t_count").cast("double") - col("expected"))
            / sqrt(col("vr")), 4).as("z"))
    },
    Some(s"""WITH byday AS ($SQL_DAILY),
            |p AS (
            |  SELECT c,
            |    LAG(c, 1) OVER (ORDER BY day) AS prev,
            |    LEAD(c, 1) OVER (ORDER BY day) AS nxt
            |  FROM byday),
            |m AS (
            |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
            |    COUNT(*) FILTER (WHERE prev IS NOT NULL
            |      AND nxt IS NOT NULL
            |      AND (c - prev) * (nxt - c) < 0) AS t_count
            |  FROM p),
            |e AS (
            |  SELECT n, t_count,
            |    2.0 * CAST(n - 2 AS DOUBLE) / 3.0 AS expected,
            |    (16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0 AS vr
            |  FROM m)
            |SELECT n, t_count, ROUND(expected, 4) AS expected,
            |  ROUND((CAST(t_count AS DOUBLE) - expected) / sqrt(vr), 4) AS z
            |FROM e""".stripMargin))

  /** Haar wavelet energy by level over the first 16 days of the
    * purchase series — which time scale (2/4/8/16-day) carries the
    * variance, the multi-resolution twin of ts_periodogram's
    * frequency view. Each detail coefficient is an INTEGER signed
    * block sum D_{j,k} = Σ_first-half c − Σ_second-half c (exact in
    * both engines); energy_j = Σ_k D²/2^j divides exactly once at
    * the end. The level×day expansion is 4×16 rows — constant-sized
    * whatever the corpus, after the one linear day rollup.
    */
  val haarEnergy: Q = Q("ts_haar_energy",
    (s, d) => {
      val w = Window.orderBy("day")
      val days = graft.Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .withColumn("idx", row_number().over(w))
        .filter(col("idx") <= 16)
      days.select(col("idx"), col("c"),
          explode(expr("sequence(1, 4)")).as("j"))
        .withColumn("blk", expr("shiftleft(1, cast(j as int))"))
        .withColumn("k", expr("(idx - 1) div blk"))
        .withColumn("sgn",
          when(expr("(idx - 1) % blk") < col("blk") / 2, lit(1L))
            .otherwise(lit(-1L)))
        .groupBy("j", "k").agg(sum(col("sgn") * col("c")).as("dd"),
          max("blk").as("blk"))
        .groupBy("j").agg(count(lit(1)).as("n_coeffs"),
          round(sum(col("dd") * col("dd")).cast("double")
            / max("blk"), 4).as("energy"))
        .withColumnRenamed("j", "level")
        .orderBy("level")
    },
    Some("""WITH byday AS (
           |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
           |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
           |idxd AS (
           |  SELECT c, ROW_NUMBER() OVER (ORDER BY day) AS idx
           |  FROM byday QUALIFY idx <= 16),
           |lev AS (
           |  SELECT idx, c, j, (1 << j) AS blk,
           |    (idx - 1) // (1 << j) AS k,
           |    CASE WHEN (idx - 1) % (1 << j) < (1 << j) // 2
           |      THEN 1 ELSE -1 END AS sgn
           |  FROM idxd, unnest(generate_series(1, 4)) t(j)),
           |coeff AS (
           |  SELECT j, k, CAST(SUM(sgn * c) AS BIGINT) AS dd,
           |    MAX(blk) AS blk
           |  FROM lev GROUP BY j, k)
           |SELECT CAST(j AS INT) AS level,
           |  CAST(COUNT(*) AS BIGINT) AS n_coeffs,
           |  ROUND(CAST(CAST(SUM(dd * dd) AS BIGINT) AS DOUBLE)
           |    / MAX(blk), 4) AS energy
           |FROM coeff GROUP BY j ORDER BY level""".stripMargin))
}

/** Round-10 wave 19 (Windows leg): recursive state-space smoother. */
private object Wave19Q {
  import org.apache.spark.sql.functions._

  /** 1-D local-level Kalman filter over the daily count series
    * (process var Q=4, observation var R=25, p₀=R, l₁=y₁): the
    * optimal-gain generalization of ts_ewma whose smoothing weight
    * ADAPTS as uncertainty converges — the gain sequence k_t is
    * data-independent and settles to the steady state in ~5 days.
    * The recursion is day-bounded: ONE linear groupBy to ≤31 day
    * rows, then a single-row ordered-array fold (`aggregate` over the
    * day-sorted struct array) — the ts_hmm_viterbi day-series-DP
    * precedent, pure arithmetic (no exp/pow), so both engines produce
    * bit-identical doubles; the oracle mirrors it as a bounded
    * recursive CTE.
    */
  val kalmanLevel: Q = Q("ts_kalman_level",
    (s, d) => {
      val daily = graft.Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val one = daily.agg(
        sort_array(collect_list(struct(col("day"), col("c")))).as("ys"))
      one.withColumn("levels", expr(
          """aggregate(
            |  slice(ys, 2, size(ys) - 1),
            |  named_struct(
            |    'l', cast(element_at(ys, 1).c as double),
            |    'p', cast(25.0 as double),
            |    'out', array(cast(element_at(ys, 1).c as double))),
            |  (acc, y) -> named_struct(
            |    'l', acc.l + ((acc.p + 4.0) / (acc.p + 4.0 + 25.0))
            |           * (cast(y.c as double) - acc.l),
            |    'p', (1.0 - (acc.p + 4.0) / (acc.p + 4.0 + 25.0))
            |           * (acc.p + 4.0),
            |    'out', concat(acc.out, array(
            |      acc.l + ((acc.p + 4.0) / (acc.p + 4.0 + 25.0))
            |        * (cast(y.c as double) - acc.l)))),
            |  acc -> acc.out)""".stripMargin))
        .select(col("ys"), posexplode(col("levels")).as(Seq("i", "level")))
        .select(expr("element_at(ys, i + 1).day").as("day"),
          expr("element_at(ys, i + 1).c").as("c"),
          round(col("level"), 6).as("level"))
        .orderBy("day")
    },
    Some("""WITH RECURSIVE byday AS (
           |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
           |  FROM events GROUP BY 1),
           |idx AS (
           |  SELECT day, c, ROW_NUMBER() OVER (ORDER BY day) AS t
           |  FROM byday),
           |rec AS (
           |  SELECT t, CAST(c AS DOUBLE) AS l, CAST(25.0 AS DOUBLE) AS p
           |  FROM idx WHERE t = 1
           |  UNION ALL
           |  SELECT i.t,
           |    r.l + ((r.p + 4.0) / (r.p + 4.0 + 25.0))
           |      * (CAST(i.c AS DOUBLE) - r.l),
           |    (1.0 - (r.p + 4.0) / (r.p + 4.0 + 25.0)) * (r.p + 4.0)
           |  FROM rec r JOIN idx i ON i.t = r.t + 1)
           |SELECT i.day, i.c, ROUND(r.l, 6) AS level
           |FROM rec r JOIN idx i USING (t) ORDER BY day""".stripMargin))

  /** Seasonal Mann-Kendall — ts_mann_kendall restricted to WITHIN-
    * weekday comparisons (Hirsch-Slack): Mondays compare only to
    * Mondays, so the day-of-week cycle that inflates the plain MK
    * variance can't masquerade as trend. S_d, n_d, and the variance
    * numerator Σn_d(n_d−1)(2n_d+5) are all exact integers (ONE /18
    * and the z at the end); the within-season pair join is bounded by
    * the calendar (≤C(5,2) pairs per weekday on the 30-day fixture,
    * per-season-linear at any horizon).
    */
  val seasonalMk: Q = Q("ts_seasonal_mann_kendall",
    (s, d) => {
      val dl = graft.Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .withColumn("dow", dayofweek(col("day")))
      val pr = dl.as("a").join(dl.as("b"),
        col("a.dow") === col("b.dow") && col("a.day") < col("b.day"))
        .agg(sum(when(col("b.c") > col("a.c"), 1L)
          .when(col("b.c") < col("a.c"), -1L).otherwise(0L)).as("s_total"))
      val vr = dl.groupBy("dow").agg(count(lit(1)).as("nd"))
        .agg(count(lit(1)).as("n_seasons"),
          sum(col("nd") * (col("nd") - 1) * (col("nd") * 2 + 5)).as("vnum"))
      vr.crossJoin(pr)
        .withColumn("var_s", col("vnum").cast("double") / 18.0)
        .select(col("n_seasons"), col("s_total"),
          round(col("var_s"), 4).as("var_s"),
          round(
            when(col("s_total") > 0,
              (col("s_total") - 1).cast("double") / sqrt(col("var_s")))
              .when(col("s_total") < 0,
                (col("s_total") + 1).cast("double") / sqrt(col("var_s")))
              .otherwise(lit(0.0)), 4).as("z"),
          (abs(when(col("s_total") > 0,
            (col("s_total") - 1).cast("double") / sqrt(col("var_s")))
            .when(col("s_total") < 0,
              (col("s_total") + 1).cast("double") / sqrt(col("var_s")))
            .otherwise(lit(0.0))) > 1.96).as("trend_5pct"))
    },
    Some("""WITH byday AS (
           |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
           |  FROM events GROUP BY 1),
           |dl AS (SELECT day, c, dayofweek(day) AS dow FROM byday),
           |pr AS (
           |  SELECT CAST(SUM(CASE WHEN b.c > a.c THEN 1
           |    WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_total
           |  FROM dl a JOIN dl b ON a.dow = b.dow AND a.day < b.day),
           |vr AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_seasons,
           |    CAST(SUM(nd * (nd - 1) * (2 * nd + 5)) AS BIGINT) AS vnum
           |  FROM (SELECT dow, CAST(COUNT(*) AS BIGINT) AS nd
           |        FROM dl GROUP BY dow)),
           |z AS (
           |  SELECT n_seasons, s_total,
           |    CAST(vnum AS DOUBLE) / 18.0 AS var_s
           |  FROM vr, pr)
           |SELECT n_seasons, s_total, ROUND(var_s, 4) AS var_s,
           |  ROUND(CASE WHEN s_total > 0
           |      THEN CAST(s_total - 1 AS DOUBLE) / sqrt(var_s)
           |    WHEN s_total < 0
           |      THEN CAST(s_total + 1 AS DOUBLE) / sqrt(var_s)
           |    ELSE 0.0 END, 4) AS z,
           |  abs(CASE WHEN s_total > 0
           |      THEN CAST(s_total - 1 AS DOUBLE) / sqrt(var_s)
           |    WHEN s_total < 0
           |      THEN CAST(s_total + 1 AS DOUBLE) / sqrt(var_s)
           |    ELSE 0.0 END) > 1.96 AS trend_5pct
           |FROM z""".stripMargin))

  /** Retention half-life: fit ln r_k = a + b·k over the 28-day-period
    * retention curve (k = 1..7) of order activity, half-life =
    * −ln2/b. Cohort = a customer's first order period; r_k = customers
    * ordering at age exactly k over customers OBSERVABLE at k (cohort
    * ≤ max_period − k) — the right-censoring correction. Every count
    * is an exact integer; each ln r_k is rounded to 9 dp and carried
    * as DECIMAL so the 7-point OLS moments are exact; ln 2 is spliced
    * as the same double literal into both engines. The synthetic
    * fixture has no churn (flat curve), so b ≥ 0 is expected and the
    * half-life is guarded to NULL rather than reporting a division by
    * ~0 — the guard IS part of the operator contract.
    */
  val retentionHalflife: Q = Q("ts_retention_halflife", {
    val LN2 = "0.6931471805599453"
    (s, d) => {
      val o = graft.Tables.orders(s, d)
        .select(col("o_custkey"), expr(
          "datediff(cast(o_orderdate as date), DATE '1995-01-01') div 28")
          .as("p"))
      val first = o.groupBy("o_custkey").agg(min("p").as("c0"))
      val maxp = o.agg(max("p").as("mp"))
      val num = o.join(first, "o_custkey")
        .select(col("o_custkey"), (col("p") - col("c0")).as("age"))
        .filter(col("age").between(1, 7))
        .groupBy("age").agg(countDistinct("o_custkey").as("retained"))
      val den = first.crossJoin(broadcast(maxp))
        .select(explode(expr("sequence(1L, 7L)")).as("age"), col("c0"),
          col("mp"))
        .filter(col("c0") <= col("mp") - col("age"))
        .groupBy("age").agg(count(lit(1)).as("observable"))
      val pts = den.join(num, Seq("age"))
        .withColumn("y", expr(
          """cast(round(ln(cast(retained as double)
            |  / cast(observable as double)), 9) as decimal(18,9))"""
            .stripMargin))
      pts.agg(count(lit(1)).as("n"), sum("age").as("sk"),
          sum(col("age") * col("age")).as("skk"),
          sum("y").as("sy"), sum(col("age") * col("y")).as("sky"))
        .withColumn("slope",
          (col("n").cast("double") * col("sky").cast("double")
            - col("sk").cast("double") * col("sy").cast("double"))
            / (col("n").cast("double") * col("skk").cast("double")
              - col("sk").cast("double") * col("sk").cast("double")))
        .select(col("n").as("n_points"), round(col("slope"), 6).as("slope"),
          round(when(col("slope") < 0,
            lit(-1.0) * expr(LN2) / col("slope")), 4)
            .as("halflife_periods"))
    }
  },
    Some("""WITH o AS (
           |  SELECT o_custkey,
           |    date_diff('day', DATE '1995-01-01',
           |      CAST(o_orderdate AS DATE)) // 28 AS p
           |  FROM orders),
           |first AS (SELECT o_custkey, MIN(p) AS c0 FROM o GROUP BY 1),
           |mx AS (SELECT MAX(p) AS mp FROM o),
           |num AS (
           |  SELECT age, CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
           |    AS retained
           |  FROM (SELECT o.o_custkey, o.p - f.c0 AS age
           |        FROM o JOIN first f USING (o_custkey))
           |  WHERE age BETWEEN 1 AND 7 GROUP BY age),
           |den AS (
           |  SELECT k.age, CAST(COUNT(*) AS BIGINT) AS observable
           |  FROM first f, mx,
           |    (SELECT CAST(i AS BIGINT) AS age
           |     FROM unnest(generate_series(1, 7)) t(i)) k
           |  WHERE f.c0 <= mx.mp - k.age GROUP BY k.age),
           |pts AS (
           |  SELECT d.age,
           |    CAST(ROUND(ln(CAST(retained AS DOUBLE)
           |      / CAST(observable AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
           |  FROM den d JOIN num USING (age)),
           |m AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(age) AS BIGINT) AS sk,
           |    CAST(SUM(age * age) AS BIGINT) AS skk,
           |    SUM(y) AS sy, SUM(age * y) AS sky
           |  FROM pts),
           |sl AS (
           |  SELECT n,
           |    (CAST(n AS DOUBLE) * CAST(sky AS DOUBLE)
           |      - CAST(sk AS DOUBLE) * CAST(sy AS DOUBLE))
           |    / (CAST(n AS DOUBLE) * CAST(skk AS DOUBLE)
           |      - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)) AS slope
           |  FROM m)
           |SELECT n AS n_points, ROUND(slope, 6) AS slope,
           |  ROUND(CASE WHEN slope < 0
           |    THEN -1.0 * 0.6931471805599453 / slope END, 4)
           |    AS halflife_periods
           |FROM sl""".stripMargin))

  /** Trailing 7-day distinct users (rolling WAU) via BITMAP aggregation
    * — the exact-distinct-over-sliding-windows shape that COUNT
    * (DISTINCT) cannot window. Each event fans out to the ≤7 windows
    * it contributes to (a constant 7× map-side explode), then the
    * agg_bitmap_distinct bucket-bitmap device packs ids into fixed
    * 4 KB bitmaps per (window, 32k-id bucket): the shuffle carries one
    * bitmap per bucket instead of every distinct id — exact, mergeable
    * state bounded by id density, the production rolling-MAU plan at
    * any scale. Phantom windows past the last observed day are cut by
    * the day-spine semi-join.
    */
  val rollingWau: Q = Q("ts_rolling_wau",
    (s, d) => {
      graft.Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .createOrReplaceTempView("__wau_ev")
      s.sql(
        """SELECT wday, CAST(SUM(cnt) AS BIGINT) AS wau FROM (
          |  SELECT wday, bitmap_bucket_number(user_id) AS b,
          |    bitmap_count(bitmap_construct_agg(
          |      bitmap_bit_position(user_id))) AS cnt
          |  FROM (
          |    SELECT explode(sequence(day, date_add(day, 6))) AS wday,
          |      user_id
          |    FROM __wau_ev) x
          |  JOIN (SELECT DISTINCT day AS spine_day FROM __wau_ev) sp
          |    ON x.wday = sp.spine_day
          |  GROUP BY wday, b) t
          |GROUP BY wday ORDER BY wday""".stripMargin)
    },
    Some("""WITH ev AS (
           |  SELECT CAST(ts AS DATE) AS day, user_id FROM events),
           |days AS (SELECT DISTINCT day FROM ev)
           |SELECT d.day AS wday, COUNT(DISTINCT e.user_id) AS wau
           |FROM days d JOIN ev e
           |  ON e.day BETWEEN d.day - 6 AND d.day
           |GROUP BY d.day ORDER BY wday""".stripMargin))

  /** Circular statistics of purchase hour-of-day: mean direction
    * (peak hour), resultant length R̄ (concentration), and the
    * Rayleigh z = n·R̄² uniformity test — the RIGHT way to average a
    * clock (arithmetic mean of {23h, 1h} is noon; circular mean is
    * midnight). Linear rollup to 24 hour-of-day counts, then
    * C = Σn_h·cos θ_h, S = Σn_h·sin θ_h with each trig value rounded
    * to 9 dp and carried as DECIMAL — the 24-term sums are exact in
    * any order and immune to libm last-ulp differences (the ln-round9
    * device applied to trig). One atan2 and two doubles at the end.
    */
  val circularHour: Q = Q("ts_circular_hour",
    (s, d) => {
      val byHour = graft.Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(hour(col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
      byHour
        .withColumn("cosd", expr(
          "cast(round(cos(pi() * h / 12.0), 9) as decimal(12,9))"))
        .withColumn("sind", expr(
          "cast(round(sin(pi() * h / 12.0), 9) as decimal(12,9))"))
        .agg(sum("c").as("n"),
          sum(col("c") * col("cosd")).as("cc"),
          sum(col("c") * col("sind")).as("ss"))
        .withColumn("rbar",
          sqrt(col("cc").cast("double") * col("cc").cast("double")
            + col("ss").cast("double") * col("ss").cast("double"))
            / col("n"))
        .withColumn("mh", expr(
          "atan2(cast(ss as double), cast(cc as double)) * 12.0 / pi()"))
        .select(col("n"),
          round(when(col("mh") < 0, col("mh") + 24.0).otherwise(col("mh")), 4)
            .as("mean_hour"),
          round(col("rbar"), 4).as("resultant_r"),
          round(col("n") * col("rbar") * col("rbar"), 4).as("rayleigh_z"))
    },
    Some("""WITH byhour AS (
           |  SELECT EXTRACT(hour FROM ts) AS h, COUNT(*) AS c
           |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
           |t AS (
           |  SELECT h, c,
           |    CAST(ROUND(cos(pi() * h / 12.0), 9) AS DECIMAL(12,9))
           |      AS cosd,
           |    CAST(ROUND(sin(pi() * h / 12.0), 9) AS DECIMAL(12,9))
           |      AS sind
           |  FROM byhour),
           |m AS (
           |  SELECT CAST(SUM(c) AS BIGINT) AS n,
           |    SUM(c * cosd) AS cc, SUM(c * sind) AS ss
           |  FROM t),
           |r AS (
           |  SELECT n,
           |    sqrt(CAST(cc AS DOUBLE) * CAST(cc AS DOUBLE)
           |      + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) / n AS rbar,
           |    atan2(CAST(ss AS DOUBLE), CAST(cc AS DOUBLE))
           |      * 12.0 / pi() AS mh
           |  FROM m)
           |SELECT n,
           |  ROUND(CASE WHEN mh < 0 THEN mh + 24.0 ELSE mh END, 4)
           |    AS mean_hour,
           |  ROUND(rbar, 4) AS resultant_r,
           |  ROUND(n * rbar * rbar, 4) AS rayleigh_z
           |FROM r""".stripMargin))
}
