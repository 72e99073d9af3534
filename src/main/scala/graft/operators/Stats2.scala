package graft.operators

import graft.{Q, Tables}
import graft.Ops.{SQL_VALUE_RANKS, valueRanks}
import graft.operators.Aggs.{SQL_CLICK_VIEW_RANKS, clickViewRanks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.L — classical-test depth: variance homogeneity,
  * rank post-hoc, ordered-alternative trend, and paired-categorical
  * symmetry. House rules throughout: exact integer/decimal moments for
  * as long as algebra allows, doubles only behind the final
  * `round(…, 4)`, and any sum of per-group DOUBLES folds in explicit
  * key order on both engines (sort_array+aggregate ↔
  * `list_sum(list(x ORDER BY k))`) so float association cannot differ.
  */
object Stats2 {

  /** Daily event-count series — the calendar-bounded device every ts_*
    * complexity measure below rides: one linear aggregate over the
    * fact, then everything downstream is day-count-sized (≤ a few
    * thousand rows per DECADE of data) so global-order windows and
    * even pairwise self-joins on it are honest at any corpus scale.
    * `SQL_DAILY` is its DuckDB twin.
    */
  private[operators] def daily(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))

  private[operators] val SQL_DAILY =
    "SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c FROM events GROUP BY 1"


  val queries: Seq[Q] = Seq(

    // Gamma distribution fit by method of moments over extendedprice —
    // the parametric summary a cost model or synthetic-data generator
    // wants for a positive right-skewed measure: k̂ = m²/v (shape),
    // θ̂ = v/m (scale). Moments accumulate as EXACT DECIMAL sums (the
    // stat_bartlett device — associative at any partitioning, one
    // linear aggregate at any scale); m, v and the two estimators are
    // textually mirrored doubles.
    Q("stat_gamma_fit",
      (s, d) => {
        val a = Tables.lineitem(s, d)
          .select(col("l_extendedprice").cast("decimal(18,2)").as("x"))
          .agg(count(lit(1)).as("n"),
            sum("x").as("sx"),
            sum((col("x") * col("x")).cast("decimal(38,4)")).as("sxx"))
        val nD = col("n").cast("double")
        val m = col("sx").cast("double") / nD
        val v = (col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") / nD) /
          (nD - lit(1.0))
        // NULLIF-guard both estimator denominators (r12 ADVICE): on a
        // degenerate fixture (zero variance / empty table) Spark
        // non-ANSI yields NULL while DuckDB IEEE division yields
        // inf/NaN — guarding BOTH engines pins NULL on both.
        a.select(col("n"),
          round(m, 4).as("mean"), round(v, 4).as("variance"),
          round(m * m / nullif(v, lit(0.0)), 4).as("k_hat"),
          round(v / nullif(m, lit(0.0)), 4).as("theta_hat"))
      },
      Some("""WITH a AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sx,
             |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             |      * CAST(l_extendedprice AS DECIMAL(18,2))
             |      AS DECIMAL(38,4))) AS sxx
             |  FROM lineitem)
             |SELECT n,
             |  ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean,
             |  ROUND((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
             |      * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |    / (CAST(n AS DOUBLE) - 1.0), 4) AS variance,
             |  ROUND((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |    / NULLIF((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
             |        * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0), 0.0), 4) AS k_hat,
             |  ROUND(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
             |        * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0))
             |    / NULLIF(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 0.0), 4) AS theta_hat
             |FROM a""".stripMargin)),

    // Beta distribution fit by method of moments over the quality
    // score (a [0,1] measure): α̂ = m(m(1−m)/v − 1), β̂ = (1−m)(·) —
    // the prior a Bayesian quality-gate calibration starts from. The
    // score is the library's 4dp-grid quality (y = quality·10⁴, an
    // exact integer — the brier device), so Σy and Σy² are exact
    // integer sums and every double below is textually mirrored.
    Q("stat_beta_fit",
      (s, d) => {
        val q = graft.api.TextMetrics
          .quality(Tables.documents(s, d), "doc_id", "text",
            Seq("the", "a", "of", "and", "to", "in"))
          .select(floor(col("quality") * 10000.0 + 0.5).cast("long").as("y"))
        val a = q.agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum(col("y") * col("y")).as("sy2"))
        val nD = col("n").cast("double")
        val m = col("sy").cast("double") / (nD * lit(10000.0))
        val v = (col("sy2").cast("double") / lit(1.0e8) -
          nD * m * m) / (nD - lit(1.0))
        val c = m * (lit(1.0) - m) / nullif(v, lit(0.0)) - lit(1.0)
        a.select(col("n"), round(m, 4).as("mean"),
          round(v, 6).as("variance"),
          round(m * c, 4).as("alpha_hat"),
          round((lit(1.0) - m) * c, 4).as("beta_hat"))
      },
      Some(s"""WITH y AS (
              |  SELECT CAST(floor((0.4 * least(CAST(len(t) AS DOUBLE) / 50.0, 1.0)
              |      + 0.4 * (1.0 - CAST(len(list_filter(t, x -> x IN (${Seq("the", "a", "of", "and", "to", "in").map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) / len(t))
              |      + 0.2 * least((CAST(n_letters AS DOUBLE) / len(t)) / 8.0, 1.0)) * 10000.0 + 0.5) AS BIGINT) AS y
              |  FROM (SELECT doc_id,
              |      ${graft.functions.TextUdfs.SQL_TOKENIZE} AS t,
              |      length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_letters
              |    FROM documents) x),
              |a AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    CAST(SUM(y) AS BIGINT) AS sy,
              |    CAST(SUM(y * y) AS BIGINT) AS sy2
              |  FROM y)
              |SELECT n,
              |  ROUND(CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0), 4) AS mean,
              |  ROUND((CAST(sy2 AS DOUBLE) / 1e8 - CAST(n AS DOUBLE)
              |      * (CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0))
              |      * (CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)))
              |    / (CAST(n AS DOUBLE) - 1.0), 6) AS variance,
              |  ROUND((CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0))
              |    * ((CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0))
              |      * (1.0 - CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0))
              |      / NULLIF((CAST(sy2 AS DOUBLE) / 1e8 - CAST(n AS DOUBLE)
              |          * (CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0))
              |          * (CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)))
              |        / (CAST(n AS DOUBLE) - 1.0), 0.0) - 1.0), 4) AS alpha_hat,
              |  ROUND((1.0 - CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0))
              |    * ((CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0))
              |      * (1.0 - CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0))
              |      / NULLIF((CAST(sy2 AS DOUBLE) / 1e8 - CAST(n AS DOUBLE)
              |          * (CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0))
              |          * (CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)))
              |        / (CAST(n AS DOUBLE) - 1.0), 0.0) - 1.0), 4) AS beta_hat
              |FROM a""".stripMargin)),

    // Negative-binomial fit by method of moments over daily purchase
    // counts — the overdispersion-honest count model (Poisson forces
    // v = m; real arrival counts overdisperse): dispersion = v/m,
    // r̂ = m²/(v−m), p̂ = m/v, NULLIF-guarded when the data is actually
    // under-dispersed (both engines then emit NULL r̂). Day-bounded
    // aggregate; exact integer count sums.
    Q("stat_negbinom_fit",
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
        val a = daily.agg(count(lit(1)).as("n"), sum("c").as("sc"),
          sum(col("c") * col("c")).as("sc2"))
        val nD = col("n").cast("double")
        val m = col("sc").cast("double") / nD
        val v = (col("sc2").cast("double") -
          col("sc").cast("double") * col("sc").cast("double") / nD) /
          (nD - lit(1.0))
        // dispersion/p_hat denominators NULLIF-guarded like r_hat (r12
        // ADVICE): degenerate fixtures otherwise diverge NULL vs inf.
        a.select(col("n").as("n_days"),
          round(m, 4).as("mean"), round(v, 4).as("variance"),
          round(v / nullif(m, lit(0.0)), 4).as("dispersion"),
          round(m * m / nullif(v - m, lit(0.0)), 4).as("r_hat"),
          round(m / nullif(v, lit(0.0)), 4).as("p_hat"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |a AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(c) AS BIGINT) AS sc,
             |    CAST(SUM(c * c) AS BIGINT) AS sc2
             |  FROM daily)
             |SELECT n AS n_days,
             |  ROUND(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean,
             |  ROUND((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE)
             |      * CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
             |    / (CAST(n AS DOUBLE) - 1.0), 4) AS variance,
             |  ROUND(((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE)
             |        * CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0))
             |    / NULLIF(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), 0.0), 4) AS dispersion,
             |  ROUND((CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
             |      * (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
             |    / NULLIF((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE)
             |        * CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0)
             |      - CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), 0.0), 4) AS r_hat,
             |  ROUND((CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
             |    / NULLIF((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE)
             |        * CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0), 0.0), 4) AS p_hat
             |FROM a""".stripMargin)),

    // Page–Hinkley sequential changepoint detector (r12) over daily
    // purchase counts — the STREAMING-friendly cousin of ts_cusum /
    // ts_sprt_trace: m_t accumulates (x_i − μ_i − δ) against the
    // RUNNING mean μ_i, PH_t = m_t − min_{i≤t} m_i, alarm at λ. Every
    // term derives from exact integer cumsums in day order (running
    // sums evaluate in frame order in both engines, so the double fold
    // is identical); day-bounded windows throughout.
    Q("ts_page_hinkley", {
      val DELTA = 2.0; val LAMBDA = 100.0
      (s, d) => {
        val w = Window.orderBy("day") // day-bounded
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
        daily
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("cx", sum("x").over(wRun))
          .withColumn("dev", col("x").cast("double") -
            col("cx").cast("double") / col("i").cast("double") - lit(DELTA))
          .withColumn("m", sum("dev").over(wRun))
          .withColumn("ph", col("m") - min("m").over(wRun))
          .select(col("day").cast("string").as("day"), col("x"),
            round(col("ph"), 4).as("ph"),
            (col("ph") > LAMBDA).as("alarm"))
          .orderBy("day")
      }
    },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |r AS (
             |  SELECT day, CAST(x AS BIGINT) AS x,
             |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
             |    CAST(SUM(x) OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cx
             |  FROM daily),
             |m AS (
             |  SELECT day, x,
             |    SUM(CAST(x AS DOUBLE) - CAST(cx AS DOUBLE)
             |        / CAST(i AS DOUBLE) - 2.0)
             |      OVER (ORDER BY day
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mm
             |  FROM r)
             |SELECT CAST(day AS VARCHAR) AS day, x,
             |  ROUND(mm - MIN(mm) OVER (ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS ph,
             |  (mm - MIN(mm) OVER (ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) > 100.0
             |    AS alarm
             |FROM m ORDER BY day""".stripMargin)),

    // VAR(1) coefficient matrix for the (clicks, views) daily pair —
    // the multivariate sibling of ts_granger/ts_cointegration: how
    // much does each series' today depend on BOTH series' yesterday
    // (A = Σz_t z'_{t-1} · (Σz_{t-1}z'_{t-1})⁻¹ on mean-centered
    // series). Exactness device: center with n·x_t − Σx (EXACT
    // integers — the n² factor cancels in A), so all eight
    // cross-products are exact BIGINT sums at any partitioning and
    // the 2×2 inverse is the only (textually mirrored) double math.
    Q("ts_var1",
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type").isin("click", "view"))
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("y"))
        val mo = daily.agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"))
        val w = Window.orderBy("day") // day-bounded
        val z = daily.crossJoin(broadcast(mo))
          .withColumn("zx", col("n") * col("x") - col("sx"))
          .withColumn("zy", col("n") * col("y") - col("sy"))
          .withColumn("zxl", lag("zx", 1).over(w))
          .withColumn("zyl", lag("zy", 1).over(w))
          .filter(col("zxl").isNotNull)
        val m = z.agg(
          max("n").as("n"),
          sum(col("zx") * col("zxl")).as("xtxl"),
          sum(col("zx") * col("zyl")).as("xtyl"),
          sum(col("zy") * col("zxl")).as("ytxl"),
          sum(col("zy") * col("zyl")).as("ytyl"),
          sum(col("zxl") * col("zxl")).as("xlxl"),
          sum(col("zxl") * col("zyl")).as("xlyl"),
          sum(col("zyl") * col("zyl")).as("ylyl"))
        def D(c: org.apache.spark.sql.Column) = c.cast("double")
        val det = D(col("xlxl")) * D(col("ylyl")) -
          D(col("xlyl")) * D(col("xlyl"))
        m.select(col("n").as("n_days"),
          round((D(col("xtxl")) * D(col("ylyl")) -
            D(col("xtyl")) * D(col("xlyl"))) / det, 6).as("a11"),
          round((D(col("xtyl")) * D(col("xlxl")) -
            D(col("xtxl")) * D(col("xlyl"))) / det, 6).as("a12"),
          round((D(col("ytxl")) * D(col("ylyl")) -
            D(col("ytyl")) * D(col("xlyl"))) / det, 6).as("a21"),
          round((D(col("ytyl")) * D(col("xlxl")) -
            D(col("ytxl")) * D(col("xlyl"))) / det, 6).as("a22"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
             |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS y
             |  FROM events WHERE event_type IN ('click', 'view')
             |  GROUP BY 1),
             |mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
             |  FROM daily),
             |z AS (
             |  SELECT n, n * x - sx AS zx, n * y - sy AS zy,
             |    LAG(n * x - sx) OVER (ORDER BY day) AS zxl,
             |    LAG(n * y - sy) OVER (ORDER BY day) AS zyl
             |  FROM daily, mo),
             |m AS (
             |  SELECT CAST(MAX(n) AS BIGINT) AS n,
             |    CAST(SUM(zx * zxl) AS BIGINT) AS xtxl,
             |    CAST(SUM(zx * zyl) AS BIGINT) AS xtyl,
             |    CAST(SUM(zy * zxl) AS BIGINT) AS ytxl,
             |    CAST(SUM(zy * zyl) AS BIGINT) AS ytyl,
             |    CAST(SUM(zxl * zxl) AS BIGINT) AS xlxl,
             |    CAST(SUM(zxl * zyl) AS BIGINT) AS xlyl,
             |    CAST(SUM(zyl * zyl) AS BIGINT) AS ylyl
             |  FROM z WHERE zxl IS NOT NULL)
             |SELECT n AS n_days,
             |  ROUND((CAST(xtxl AS DOUBLE) * CAST(ylyl AS DOUBLE)
             |    - CAST(xtyl AS DOUBLE) * CAST(xlyl AS DOUBLE))
             |    / (CAST(xlxl AS DOUBLE) * CAST(ylyl AS DOUBLE)
             |      - CAST(xlyl AS DOUBLE) * CAST(xlyl AS DOUBLE)), 6) AS a11,
             |  ROUND((CAST(xtyl AS DOUBLE) * CAST(xlxl AS DOUBLE)
             |    - CAST(xtxl AS DOUBLE) * CAST(xlyl AS DOUBLE))
             |    / (CAST(xlxl AS DOUBLE) * CAST(ylyl AS DOUBLE)
             |      - CAST(xlyl AS DOUBLE) * CAST(xlyl AS DOUBLE)), 6) AS a12,
             |  ROUND((CAST(ytxl AS DOUBLE) * CAST(ylyl AS DOUBLE)
             |    - CAST(ytyl AS DOUBLE) * CAST(xlyl AS DOUBLE))
             |    / (CAST(xlxl AS DOUBLE) * CAST(ylyl AS DOUBLE)
             |      - CAST(xlyl AS DOUBLE) * CAST(xlyl AS DOUBLE)), 6) AS a21,
             |  ROUND((CAST(ytyl AS DOUBLE) * CAST(xlxl AS DOUBLE)
             |    - CAST(ytxl AS DOUBLE) * CAST(xlyl AS DOUBLE))
             |    / (CAST(xlxl AS DOUBLE) * CAST(ylyl AS DOUBLE)
             |      - CAST(xlyl AS DOUBLE) * CAST(xlyl AS DOUBLE)), 6) AS a22
             |FROM m""".stripMargin)),

    // Kuiper's test (click vs view value distributions) — the rotation-
    // invariant sibling of stat_ks_test: V = D⁺ + D⁻ instead of
    // max|D|, equally sensitive in the tails and at the median, and THE
    // two-sample test for circular/periodic data (hour-of-day, phase).
    // Same exact-integer device as the KS query: on the value-rank
    // device, D⁺ and D⁻ numerators are max(cum_a·n_b − cum_b·n_a) and
    // its negation — all BIGINTs until one final mirrored division.
    Q("stat_kuiper_test",
      (s, d) => clickViewRanks(s, d)
        .groupBy("n_a", "n_b")
        .agg(greatest(max(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")),
          lit(0L)).as("dplus_num"),
          greatest(max(col("cum_b") * col("n_a") - col("cum_a") * col("n_b")),
            lit(0L)).as("dminus_num"))
        .select(col("n_a"), col("n_b"),
          (col("dplus_num") + col("dminus_num")).as("v_num"),
          round((col("dplus_num") + col("dminus_num")).cast("double") /
            (col("n_a") * col("n_b")).cast("double"), 6).as("v_stat")),
      Some(s"""WITH m AS (
             |  SELECT n_a, n_b,
             |    GREATEST(MAX(cum_a * n_b - cum_b * n_a), 0) AS dplus_num,
             |    GREATEST(MAX(cum_b * n_a - cum_a * n_b), 0) AS dminus_num
             |  FROM ($SQL_CLICK_VIEW_RANKS) r GROUP BY n_a, n_b)
             |SELECT n_a, n_b,
             |  dplus_num + dminus_num AS v_num,
             |  ROUND(CAST(dplus_num + dminus_num AS DOUBLE)
             |    / CAST(n_a * n_b AS DOUBLE), 6) AS v_stat
             |FROM m""".stripMargin)),

    // Cliff's delta (click vs view) — the nonparametric EFFECT SIZE the
    // Mann-Whitney z cannot give (z grows with n; δ does not):
    // δ = P(X>Y) − P(X<Y) = 2U/(n₁n₂) − 1, computed from the same
    // exact doubled-integer rank sum as stat_mannwhitney, so every
    // term is a BIGINT until the single mirrored division. The
    // conventional |δ| magnitude bands (Romano et al. 2006: 0.147 /
    // 0.33 / 0.474) label the row — the "is this shift practically
    // meaningful" readout an A/B dashboard pairs with the p-value.
    Q("stat_cliffs_delta",
      (s, d) => {
        val r = clickViewRanks(s, d)
          .groupBy("n_a", "n_b").agg(sum(col("a") * col("r2")).as("r1x2"))
        // u2 = 2U, so δ = (u2 − n₁n₂)/(n₁n₂) exactly — integers until
        // the division
        val u2 = col("r1x2") - col("n_a") * (col("n_a") + lit(1L))
        val dnum = u2 - col("n_a") * col("n_b")
        val delta = dnum.cast("double") /
          (col("n_a") * col("n_b")).cast("double")
        r.select(col("n_a"), col("n_b"),
          round(delta, 6).as("delta"),
          when(abs(delta) < 0.147, "negligible")
            .when(abs(delta) < 0.33, "small")
            .when(abs(delta) < 0.474, "medium")
            .otherwise("large").as("magnitude"))
      },
      Some(s"""WITH m AS (
             |  SELECT n_a, n_b,
             |    CAST(SUM(a * r2) - n_a * (n_a + 1) - n_a * n_b AS DOUBLE)
             |      / CAST(n_a * n_b AS DOUBLE) AS delta_raw
             |  FROM ($SQL_CLICK_VIEW_RANKS) r GROUP BY n_a, n_b)
             |SELECT n_a, n_b, ROUND(delta_raw, 6) AS delta,
             |  CASE WHEN ABS(delta_raw) < 0.147 THEN 'negligible'
             |    WHEN ABS(delta_raw) < 0.33 THEN 'small'
             |    WHEN ABS(delta_raw) < 0.474 THEN 'medium'
             |    ELSE 'large' END AS magnitude
             |FROM m""".stripMargin)),

    // Lomb–Scargle periodogram (generalized, τ-free form) — the
    // spectral-power estimator for UNEVENLY-SAMPLED series, which is
    // the case plain FFT/periodogram (ts_periodogram) cannot handle:
    // the probed series is hourly purchase counts RESTRICTED to hours
    // that actually had a purchase by the user_id%5=0 cohort — missing
    // hours are absent rows, not zeros. Determinism device inherited
    // from ts_periodogram: hour phases are integers mod the period, so
    // the cos/sin weights are a DRIVER-PRECOMPUTED DECIMAL(14,12)
    // table shared verbatim by both engines; all products and sums
    // stay exact decimals/integers, and the final power expression is
    // one textually mirrored double formula. Power is normalized by
    // SST (share of variance at the period, like ts_periodogram).
    Q("ts_lomb_scargle", {
      val PERIODS = Seq(24, 168)
      def tabScala(f: Int => Double, p: Int): String =
        (0 until p).map(k => new java.math.BigDecimal(f(k))
          .setScale(12, java.math.RoundingMode.HALF_EVEN).toPlainString + "BD")
          .mkString(",")
      (s, d) => {
        val hourly = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("user_id") % 5 === 0)
          .groupBy((unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast("long").as("hr"))
          .agg(count(lit(1)).as("c"))
        val perPeriod = PERIODS.map { p =>
          val ct = tabScala(k => math.cos(2 * math.Pi * k / p), p)
          val st = tabScala(k => math.sin(2 * math.Pi * k / p), p)
          hourly
            .withColumn("ph", pmod(col("hr"), lit(p.toLong)).cast("int"))
            .withColumn("cw", expr(s"element_at(array($ct), ph + 1)"))
            .withColumn("sw", expr(s"element_at(array($st), ph + 1)"))
            .groupBy()
            .agg(count(lit(1)).as("n"), sum("c").as("sc"),
              sum(col("c") * col("c")).as("sc2"),
              sum(col("c") * col("cw")).as("yc"),
              sum(col("c") * col("sw")).as("ys"),
              sum(col("cw")).as("wc"), sum(col("sw")).as("ws"),
              sum(col("cw") * col("cw")).as("cc"),
              sum(col("sw") * col("sw")).as("ss"),
              sum(col("cw") * col("sw")).as("cs"))
            .select(lit(p.toLong).as("period"), col("n"),
              col("sc").as("total_events"),
              round({
                val nD = col("n").cast("double")
                val mean = col("sc").cast("double") / nD
                val ycc = col("yc").cast("double") - mean * col("wc").cast("double")
                val ysc = col("ys").cast("double") - mean * col("ws").cast("double")
                val ccc = col("cc").cast("double") -
                  col("wc").cast("double") * col("wc").cast("double") / nD
                val ssc = col("ss").cast("double") -
                  col("ws").cast("double") * col("ws").cast("double") / nD
                val csc = col("cs").cast("double") -
                  col("wc").cast("double") * col("ws").cast("double") / nD
                val sst = col("sc2").cast("double") - nD * mean * mean
                (ssc * ycc * ycc - lit(2.0) * csc * ycc * ysc + ccc * ysc * ysc) /
                  ((ccc * ssc - csc * csc) * sst)
              }, 4).as("power_share"))
        }
        perPeriod.reduce(_ unionByName _).orderBy("period")
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
          s"""SELECT CAST($p AS BIGINT) AS period, COUNT(*) AS n,
             |    CAST(SUM(c) AS BIGINT) AS total_events,
             |    SUM(c * c) AS sc2, SUM(c * cw) AS yc, SUM(c * sw) AS ys,
             |    SUM(cw) AS wc, SUM(sw) AS ws,
             |    SUM(cw * cw) AS cc, SUM(sw * sw) AS ss,
             |    SUM(cw * sw) AS cs
             |  FROM (SELECT c,
             |      ${tab(k => math.cos(2 * math.Pi * k / p), p)}[(hr % $p) + 1] AS cw,
             |      ${tab(k => math.sin(2 * math.Pi * k / p), p)}[(hr % $p) + 1] AS sw
             |    FROM hourly)""".stripMargin
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH hourly AS (
           |  SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hr,
           |    COUNT(*) AS c
           |  FROM events
           |  WHERE event_type = 'purchase' AND user_id % 5 = 0
           |  GROUP BY 1),
           |m AS (
           |  $arms)
           |SELECT period, n, total_events,
           |  ROUND((
           |    (CAST(ss AS DOUBLE) - CAST(ws AS DOUBLE) * CAST(ws AS DOUBLE) / n)
           |      * (CAST(yc AS DOUBLE) - (CAST(total_events AS DOUBLE) / n) * CAST(wc AS DOUBLE))
           |      * (CAST(yc AS DOUBLE) - (CAST(total_events AS DOUBLE) / n) * CAST(wc AS DOUBLE))
           |    - 2.0 * (CAST(cs AS DOUBLE) - CAST(wc AS DOUBLE) * CAST(ws AS DOUBLE) / n)
           |      * (CAST(yc AS DOUBLE) - (CAST(total_events AS DOUBLE) / n) * CAST(wc AS DOUBLE))
           |      * (CAST(ys AS DOUBLE) - (CAST(total_events AS DOUBLE) / n) * CAST(ws AS DOUBLE))
           |    + (CAST(cc AS DOUBLE) - CAST(wc AS DOUBLE) * CAST(wc AS DOUBLE) / n)
           |      * (CAST(ys AS DOUBLE) - (CAST(total_events AS DOUBLE) / n) * CAST(ws AS DOUBLE))
           |      * (CAST(ys AS DOUBLE) - (CAST(total_events AS DOUBLE) / n) * CAST(ws AS DOUBLE)))
           |  / (((CAST(cc AS DOUBLE) - CAST(wc AS DOUBLE) * CAST(wc AS DOUBLE) / n)
           |      * (CAST(ss AS DOUBLE) - CAST(ws AS DOUBLE) * CAST(ws AS DOUBLE) / n)
           |    - (CAST(cs AS DOUBLE) - CAST(wc AS DOUBLE) * CAST(ws AS DOUBLE) / n)
           |      * (CAST(cs AS DOUBLE) - CAST(wc AS DOUBLE) * CAST(ws AS DOUBLE) / n))
           |    * (CAST(sc2 AS DOUBLE) - n * (CAST(total_events AS DOUBLE) / n)
           |      * (CAST(total_events AS DOUBLE) / n))), 4) AS power_share
           |FROM m ORDER BY period""".stripMargin
      }),

    // Engle–Granger cointegration test (daily clicks vs views): step 1
    // regresses y on x by OLS over the DAY-BOUNDED aggregate (exact
    // integer sums → closed-form α, β as identical doubles); step 2
    // runs the no-intercept Dickey–Fuller regression Δe_t = ρ·e_{t-1}
    // on the residuals. Residual determinism: e_t is one mirrored
    // double expression of integer day counts, then ROUNDED TO
    // MILLI-UNIT BIGINTs (the ts_cusum / anderson-darling device — a
    // 1-ulp wobble is 10⁻⁹ of the grid) so every DF regression sum is
    // an exact integer sum at any partitioning (products stay ≲10¹⁴,
    // far under 2⁶³). t = ρ̂/se with se² = SSR/((m−1)·Σe²ₜ₋₁) — the
    // milli-unit scale cancels, so the integer sums feed the t-stat
    // directly. A strongly negative t_rho rejects "no cointegration" —
    // the spurious-regression guard every KPI-coupling analysis needs.
    Q("ts_cointegration",
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type").isin("click", "view"))
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("y"))
        val mo = daily.agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        val nD = col("n").cast("double")
        val beta = (nD * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (nD * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double"))
        val alpha = (col("sy").cast("double") - beta * col("sx").cast("double")) / nD
        val model = mo.select(col("n"), beta.as("beta"), alpha.as("alpha"))
        val w = Window.orderBy("day") // day-bounded set (≤ calendar days)
        val resid = daily.crossJoin(broadcast(model))
          .withColumn("e3",
            round((col("y").cast("double") - col("alpha") -
              col("beta") * col("x").cast("double")) * 1000.0).cast("long"))
          .withColumn("el3", lag("e3", 1).over(w))
          .filter(col("el3").isNotNull)
        val df = resid.agg(
          sum(col("el3") * (col("e3") - col("el3"))).as("num"),
          sum(col("el3") * col("el3")).as("den"),
          sum((col("e3") - col("el3")) * (col("e3") - col("el3"))).as("sdd"),
          count(lit(1)).as("m"))
        val numD = col("num").cast("double")
        val denD = col("den").cast("double")
        val sddD = col("sdd").cast("double")
        val rho = numD / denD
        val ssr = sddD - numD * numD / denD
        val t = rho / sqrt(ssr / ((col("m").cast("double") - lit(1.0)) * denD))
        df.crossJoin(broadcast(model))
          .select(col("n").as("n_days"),
            round(col("beta"), 4).as("beta"),
            round(col("alpha"), 4).as("alpha"),
            round(rho, 4).as("rho"),
            round(t, 4).as("t_rho"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
             |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS y
             |  FROM events WHERE event_type IN ('click', 'view')
             |  GROUP BY 1),
             |mo AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx,
             |    CAST(SUM(x * y) AS BIGINT) AS sxy
             |  FROM daily),
             |model AS (
             |  SELECT n,
             |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta,
             |    (CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE))
             |      / CAST(n AS DOUBLE) AS alpha
             |  FROM mo),
             |resid AS (
             |  SELECT CAST(round((CAST(y AS DOUBLE) - m.alpha
             |      - m.beta * CAST(x AS DOUBLE)) * 1000.0) AS BIGINT) AS e3,
             |    LAG(CAST(round((CAST(y AS DOUBLE) - m.alpha
             |      - m.beta * CAST(x AS DOUBLE)) * 1000.0) AS BIGINT))
             |      OVER (ORDER BY day) AS el3
             |  FROM daily, model m),
             |df AS (
             |  SELECT CAST(SUM(el3 * (e3 - el3)) AS BIGINT) AS num,
             |    CAST(SUM(el3 * el3) AS BIGINT) AS den,
             |    CAST(SUM((e3 - el3) * (e3 - el3)) AS BIGINT) AS sdd,
             |    CAST(COUNT(*) AS BIGINT) AS m
             |  FROM resid WHERE el3 IS NOT NULL)
             |SELECT n AS n_days,
             |  ROUND(beta, 4) AS beta, ROUND(alpha, 4) AS alpha,
             |  ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) AS rho,
             |  ROUND((CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
             |    / sqrt((CAST(sdd AS DOUBLE) - CAST(num AS DOUBLE)
             |        * CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
             |      / ((CAST(m AS DOUBLE) - 1.0) * CAST(den AS DOUBLE))), 4)
             |    AS t_rho
             |FROM df, model""".stripMargin)),

    // Bartlett's test for homogeneity of variances of extendedprice
    // across return flags: per-group (n, Σx, Σx²) accumulate as EXACT
    // DECIMAL (associative at any partitioning — one linear aggregate
    // over the fact at any scale), group count k is flag-bounded, and
    // the ln-variance terms — the only doubles — fold in FLAG ORDER on
    // both engines. T = [(N−k)·ln Sp² − Σ(nᵢ−1)·ln Sᵢ²] / C,
    // C = 1 + (Σ 1/(nᵢ−1) − 1/(N−k)) / (3(k−1)).
    Q("stat_bartlett",
      (s, d) => {
        val g = Tables.lineitem(s, d)
          .select(col("l_returnflag").as("f"),
            col("l_extendedprice").cast("decimal(18,2)").as("x"))
          .groupBy("f")
          .agg(count(lit(1)).as("ng"), sum(col("x")).as("sx"),
            sum(col("x") * col("x")).as("sx2"))
          .withColumn("s2",
            (col("sx2").cast("double") - col("sx").cast("double") *
              col("sx").cast("double") / col("ng").cast("double")) /
              (col("ng") - 1).cast("double"))
        val folded = g.agg(
          count(lit(1)).as("k"), sum("ng").cast("long").as("n"),
          sum(col("sx2")).as("sx2all"),
          expr("aggregate(sort_array(collect_list(struct(f AS k, " +
            "(ng - 1) * ln(s2) AS v))), cast(0.0 as double), " +
            "(acc, e) -> acc + e.v)").as("sln"),
          expr("aggregate(sort_array(collect_list(struct(f AS k, " +
            "1.0 / (ng - 1) AS v))), cast(0.0 as double), " +
            "(acc, e) -> acc + e.v)").as("sinv"),
          // pooled within-group SS in exact decimal needs Σ(sx²/ng) —
          // a rational; fold it as double in flag order instead
          expr("aggregate(sort_array(collect_list(struct(f AS k, " +
            "cast(sx as double) * cast(sx as double) / ng AS v))), " +
            "cast(0.0 as double), (acc, e) -> acc + e.v)").as("sqn"))
        folded.select(col("k"), col("n"),
          round({
            val nk = (col("n") - col("k")).cast("double")
            val sp2 = (col("sx2all").cast("double") - col("sqn")) / nk
            val t = (nk * log(sp2) - col("sln")) /
              (lit(1.0) + (col("sinv") - lit(1.0) / nk) /
                (lit(3.0) * (col("k") - 1).cast("double")))
            t
          }, 4).as("bartlett_t"))
      },
      Some("""WITH g AS (
             |  SELECT l_returnflag AS f, COUNT(*) AS ng,
             |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sx,
             |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS sx2
             |  FROM lineitem GROUP BY 1),
             |g2 AS (
             |  SELECT f, ng, sx, sx2,
             |    (CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE)
             |      * CAST(sx AS DOUBLE) / CAST(ng AS DOUBLE))
             |      / CAST(ng - 1 AS DOUBLE) AS s2
             |  FROM g),
             |m AS (
             |  SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
             |    SUM(sx2) AS sx2all,
             |    list_sum(list((ng - 1) * ln(s2) ORDER BY f)) AS sln,
             |    list_sum(list(1.0 / (ng - 1) ORDER BY f)) AS sinv,
             |    list_sum(list(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / ng
             |      ORDER BY f)) AS sqn
             |  FROM g2)
             |SELECT k, n,
             |  ROUND(((CAST(n - k AS DOUBLE)
             |      * ln((CAST(sx2all AS DOUBLE) - sqn)
             |            / CAST(n - k AS DOUBLE)) - sln))
             |    / (1.0 + (sinv - 1.0 / CAST(n - k AS DOUBLE))
             |        / (3.0 * CAST(k - 1 AS DOUBLE))), 4) AS bartlett_t
             |FROM m""".stripMargin)),

    // Dunn's post-hoc test after Kruskal–Wallis, from the BOUNDED
    // quantity domain's frequency table: the value-rank device's pooled
    // doubled midranks r2ᵥ = 2·prevᵥ + cntᵥ + 1 stay exact integers and
    // join back to their (flag, q) cells, per-flag doubled rank sums
    // Sᵢ = Σᵥ cnt_iv·r2ᵥ are exact, the tie term Σ(t³−t) is exact, and
    // each pairwise z = (R̄ᵢ−R̄ⱼ)/√((N(N+1)/12 − T/(12(N−1)))·(1/nᵢ+1/nⱼ))
    // is one closed-form double per flag pair. Everything after the
    // single fact aggregate is domain-sized (≤ flags×50 cells, 3 pairs).
    Q("stat_dunn_test",
      (s, d) => {
        val fq = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag").as("f"), col("l_quantity").as("q"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val byV = valueRanks(fq.groupBy("q").agg(sum("cnt").as("cv")), "q", Seq("cv"))
        val perF = fq.join(byV.select("q", "r2"), "q")
          .groupBy("f")
          .agg(sum("cnt").cast("long").as("ng"),
            sum(col("cnt").cast("decimal(18,0)") *
              col("r2").cast("decimal(18,0)")).as("s2r"))
        val scal = byV.agg(sum("cv").cast("long").as("nn"),
          sum(col("cv") * col("cv") * col("cv") - col("cv"))
            .cast("long").as("ties"))
        val a = perF.select(col("f").as("fa"), col("ng").as("na"),
          col("s2r").as("sa"))
        val b = perF.select(col("f").as("fb"), col("ng").as("nb"),
          col("s2r").as("sb"))
        a.join(b, col("fa") < col("fb")).crossJoin(broadcast(scal))
          .select(col("fa").as("flag_a"), col("fb").as("flag_b"),
            round({
              val ra = col("sa").cast("double") /
                (lit(2.0) * col("na").cast("double"))
              val rb = col("sb").cast("double") /
                (lit(2.0) * col("nb").cast("double"))
              val nn = col("nn").cast("double")
              val v = (nn * (nn + 1) / 12.0 -
                col("ties").cast("double") / (lit(12.0) * (nn - 1))) *
                (lit(1.0) / col("na").cast("double") +
                  lit(1.0) / col("nb").cast("double"))
              (ra - rb) / sqrt(v)
            }, 4).as("dunn_z"))
          .orderBy("flag_a", "flag_b")
      },
      Some(s"""WITH fq AS (
             |  SELECT l_returnflag AS f, l_quantity AS q, COUNT(*) AS cnt
             |  FROM lineitem GROUP BY 1, 2),
             |byv AS (${SQL_VALUE_RANKS("(SELECT q, SUM(cnt) AS cv FROM fq GROUP BY q)", "q", Seq("cv"))}),
             |perf AS (
             |  SELECT f, CAST(SUM(fq.cnt) AS BIGINT) AS ng,
             |    SUM(CAST(fq.cnt AS DECIMAL(18,0))
             |      * CAST(r2 AS DECIMAL(18,0))) AS s2r
             |  FROM fq JOIN byv USING (q) GROUP BY f),
             |scal AS (
             |  SELECT CAST(SUM(cv) AS BIGINT) AS nn,
             |    CAST(SUM(cv * cv * cv - cv) AS BIGINT) AS ties
             |  FROM byv)
             |SELECT a.f AS flag_a, b.f AS flag_b,
             |  ROUND((CAST(a.s2r AS DOUBLE) / (2.0 * a.ng)
             |      - CAST(b.s2r AS DOUBLE) / (2.0 * b.ng))
             |    / sqrt((CAST(nn AS DOUBLE) * (nn + 1) / 12.0
             |        - CAST(ties AS DOUBLE) / (12.0 * (nn - 1)))
             |      * (1.0 / a.ng + 1.0 / b.ng)), 4) AS dunn_z
             |FROM perf a JOIN perf b ON a.f < b.f, scal
             |ORDER BY flag_a, flag_b""".stripMargin)),

    // Page's L test for ORDERED alternatives — the monotone-trend
    // cousin of stat_friedman on the same complete-week blocks: within
    // each week the 7 day-of-week revenues are ranked (row_number with
    // the (rev, dow) tiebreak — deterministic), L = Σ_dow (dow+1)·R_dow
    // is an exact integer, and z = (L − b·k(k+1)²/4) /
    // √(b·k²(k+1)(k²−1)/144) is one closed-form double. Block count b
    // is calendar-bounded; everything after the daily aggregate is
    // week-sized at any scale.
    Q("stat_page_trend",
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
          .agg(sum(col("r").cast("long")).as("rj"), count(lit(1)).as("b"))
        rsum.agg(max("b").cast("long").as("b"),
            sum((col("dow") + 1) * col("rj")).cast("long").as("l_stat"))
          .select(col("b"), col("l_stat"),
            round((col("l_stat").cast("double") -
              col("b").cast("double") * lit(7.0) * lit(64.0) / lit(4.0)) /
              sqrt(col("b").cast("double") * lit(49.0) * lit(8.0) *
                lit(48.0) / lit(144.0)), 4).as("page_z"))
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
             |  FROM daily d JOIN complete c USING (wk)),
             |rsum AS (
             |  SELECT dow, CAST(SUM(r) AS BIGINT) AS rj, COUNT(*) AS b
             |  FROM ranked GROUP BY dow),
             |m AS (
             |  SELECT CAST(MAX(b) AS BIGINT) AS b,
             |    CAST(SUM((dow + 1) * rj) AS BIGINT) AS l_stat
             |  FROM rsum)
             |SELECT b, l_stat,
             |  ROUND((CAST(l_stat AS DOUBLE) - CAST(b AS DOUBLE)
             |      * 7.0 * 64.0 / 4.0)
             |    / sqrt(CAST(b AS DOUBLE) * 49.0 * 8.0 * 48.0 / 144.0),
             |    4) AS page_z
             |FROM m""".stripMargin)),

    // Bowker's symmetry test on the paired categorical transition
    // (first event type → last event type) per user: the k×k table is
    // key-bounded, χ² = Σ_{i<j} (n_ij − n_ji)²/(n_ij + n_ji) over
    // present pairs, df = #pairs with n_ij + n_ji > 0. First/last are
    // deterministic under the (ts, event_id) total order. The per-pair
    // χ² terms are doubles summed in (i,j) order on both engines.
    Q("stat_bowker_symmetry",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val wd = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        val fl = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"),
            row_number().over(w).as("ra"), row_number().over(wd).as("rb"))
        val pairs = fl.filter(col("ra") === 1)
          .select(col("user_id"), col("event_type").as("first_et"))
          .join(fl.filter(col("rb") === 1)
            .select(col("user_id"), col("event_type").as("last_et")),
            "user_id")
          .groupBy("first_et", "last_et").agg(count(lit(1)).as("n"))
        val aa = pairs.select(col("first_et").as("i"), col("last_et").as("j"),
          col("n").as("nij"))
        val bb = pairs.select(col("first_et").as("j2"), col("last_et").as("i2"),
          col("n").as("nji"))
        val terms = aa.join(bb,
            col("i") === col("i2") && col("j") === col("j2"), "full_outer")
          .select(coalesce(col("i"), col("i2")).as("i"),
            coalesce(col("j"), col("j2")).as("j"),
            coalesce(col("nij"), lit(0L)).as("nij"),
            coalesce(col("nji"), lit(0L)).as("nji"))
          .filter(col("i") < col("j"))
        terms.agg(count(lit(1)).cast("long").as("df"),
            expr("aggregate(sort_array(collect_list(struct(i, j, " +
              "cast((nij - nji) * (nij - nji) as double) / (nij + nji) " +
              "AS v))), cast(0.0 as double), (acc, e) -> acc + e.v)")
              .as("chi2"))
          .select(col("df"), round(col("chi2"), 4).as("bowker_chi2"))
      },
      Some("""WITH o AS (
             |  SELECT user_id, event_type, ts, event_id,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS ra,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rb
             |  FROM events),
             |fl AS (
             |  SELECT a.user_id, a.event_type AS first_et,
             |    b.event_type AS last_et
             |  FROM (SELECT user_id, event_type FROM o WHERE ra = 1) a
             |  JOIN (SELECT user_id, event_type FROM o WHERE rb = 1) b
             |    USING (user_id)),
             |tab AS (
             |  SELECT first_et, last_et, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM fl GROUP BY 1, 2),
             |terms AS (
             |  SELECT COALESCE(a.first_et, b.last_et) AS i,
             |    COALESCE(a.last_et, b.first_et) AS j,
             |    COALESCE(a.n, 0) AS nij, COALESCE(b.n, 0) AS nji
             |  FROM tab a FULL OUTER JOIN tab b
             |    ON a.first_et = b.last_et AND a.last_et = b.first_et
             |  WHERE COALESCE(a.first_et, b.last_et)
             |      < COALESCE(a.last_et, b.first_et)),
             |m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS df,
             |    list_sum(list(CAST((nij - nji) * (nij - nji) AS DOUBLE)
             |      / (nij + nji) ORDER BY i, j)) AS chi2
             |  FROM terms)
             |SELECT df, ROUND(chi2, 4) AS bowker_chi2 FROM m""".stripMargin)),

    // Permutation entropy (order m = 3) of the daily volume series:
    // each consecutive day triple maps to its ordinal pattern (ranks
    // with the EARLIER-POSITION tie rule, so the encoding is total —
    // no dropped windows on tied counts), the ≤ 3! pattern histogram
    // is exact integers, and H = −Σ p·ln p / ln 6 folds its ≤ 6 double
    // terms in pattern order on both engines. The window chain is one
    // global-order pass over the calendar-bounded series.
    Q("ts_permutation_entropy",
      (s, d) => {
        val w = Window.orderBy("day")
        val pat = daily(s, d)
          .withColumn("x1", col("c"))
          .withColumn("x2", lead("c", 1).over(w))
          .withColumn("x3", lead("c", 2).over(w))
          .filter(col("x3").isNotNull)
          .select(((when(col("x2") < col("x1"), 1).otherwise(0) +
            when(col("x3") < col("x1"), 1).otherwise(0)) * 9 +
            (when(col("x1") <= col("x2"), 1).otherwise(0) +
              when(col("x3") < col("x2"), 1).otherwise(0)) * 3 +
            (when(col("x1") <= col("x3"), 1).otherwise(0) +
              when(col("x2") <= col("x3"), 1).otherwise(0))).as("pat"))
          .groupBy("pat").agg(count(lit(1)).as("n"))
        pat.agg(sum("n").cast("long").as("n_windows"),
            count(lit(1)).cast("long").as("n_patterns"),
            expr("aggregate(sort_array(collect_list(struct(pat, " +
              "cast(n as double) AS v))), cast(0.0 as double), " +
              "(acc, e) -> acc + e.v)").as("tot"),
            expr("aggregate(sort_array(collect_list(struct(pat, " +
              "cast(n as double) AS v))), cast(0.0 as double), " +
              "(acc, e) -> acc + e.v * ln(e.v))").as("snln"))
          .select(col("n_windows"), col("n_patterns"),
            round((log(col("tot")) - col("snln") / col("tot")) /
              log(lit(6.0)), 4).as("perm_entropy"))
      },
      Some(s"""WITH byday AS ($SQL_DAILY),
              |t AS (
              |  SELECT c AS x1,
              |    LEAD(c, 1) OVER (ORDER BY day) AS x2,
              |    LEAD(c, 2) OVER (ORDER BY day) AS x3
              |  FROM byday),
              |pat AS (
              |  SELECT ((CASE WHEN x2 < x1 THEN 1 ELSE 0 END
              |      + CASE WHEN x3 < x1 THEN 1 ELSE 0 END) * 9
              |    + (CASE WHEN x1 <= x2 THEN 1 ELSE 0 END
              |      + CASE WHEN x3 < x2 THEN 1 ELSE 0 END) * 3
              |    + (CASE WHEN x1 <= x3 THEN 1 ELSE 0 END
              |      + CASE WHEN x2 <= x3 THEN 1 ELSE 0 END)) AS pat,
              |    COUNT(*) AS n
              |  FROM t WHERE x3 IS NOT NULL GROUP BY 1),
              |m AS (
              |  SELECT CAST(SUM(n) AS BIGINT) AS n_windows,
              |    CAST(COUNT(*) AS BIGINT) AS n_patterns,
              |    list_sum(list(CAST(n AS DOUBLE) ORDER BY pat)) AS tot,
              |    list_sum(list(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
              |      ORDER BY pat)) AS snln
              |  FROM pat)
              |SELECT n_windows, n_patterns,
              |  ROUND((ln(tot) - snln / tot) / ln(6.0), 4) AS perm_entropy
              |FROM m""".stripMargin)),

    // Band spectral entropy of the daily series over a FIXED period
    // grid (2..14 days): per period, the DFT power uses trig weights
    // QUANTIZED to DECIMAL(14,12) literals (the ts_periodogram device)
    // so Σ c·w accumulates exactly and associatively at any
    // partitioning; only the final a² + b², the share q = P/ΣP, and
    // H = −Σ q·ln q / ln(#periods) are doubles, folded in period
    // order. A fixed grid (not data-length frequencies) keeps the
    // weight tables data-independent — the honest streaming-friendly
    // form of spectral entropy.
    Q("ts_spectral_entropy", {
      val PERIODS = Seq(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14)
      def tabScala(f: Int => Double, p: Int): String =
        (0 until p).map(k => new java.math.BigDecimal(f(k))
          .setScale(12, java.math.RoundingMode.HALF_EVEN)
          .toPlainString + "BD").mkString(",")
      (s, d) => {
        val base = daily(s, d)
          .withColumn("ep", datediff(col("day"),
            lit("1970-01-01").cast("date")).cast("long"))
        val perP = PERIODS.map { p =>
          val ct = tabScala(k => math.cos(2 * math.Pi * k / p), p)
          val st = tabScala(k => math.sin(2 * math.Pi * k / p), p)
          base
            .withColumn("ph", pmod(col("ep"), lit(p.toLong)).cast("int"))
            .withColumn("cw", expr(s"element_at(array($ct), ph + 1)"))
            .withColumn("sw", expr(s"element_at(array($st), ph + 1)"))
            .agg(count(lit(1)).as("n"), sum("c").as("sc"),
              sum(col("c") * col("cw")).as("pc"),
              sum(col("c") * col("sw")).as("ps"),
              sum(col("cw")).as("wc"), sum(col("sw")).as("ws"))
            .select(lit(p).as("period"), {
              val mean = col("sc").cast("double") / col("n").cast("double")
              val a = col("pc").cast("double") - mean * col("wc").cast("double")
              val b = col("ps").cast("double") - mean * col("ws").cast("double")
              (a * a + b * b).as("pw")
            })
        }.reduce(_ unionByName _)
        perP.agg(expr("aggregate(sort_array(collect_list(struct(period, " +
            "pw AS v))), cast(0.0 as double), (acc, e) -> acc + e.v)")
            .as("tot"),
            expr("aggregate(sort_array(collect_list(struct(period, " +
              "pw AS v))), cast(0.0 as double), (acc, e) -> acc + " +
              "CASE WHEN e.v > 0 THEN e.v * ln(e.v) ELSE 0.0 END)")
              .as("snln"),
            count(lit(1)).cast("long").as("n_periods"))
          .select(col("n_periods"),
            round((log(col("tot")) - col("snln") / col("tot")) /
              log(lit(11.0)), 4).as("spectral_entropy"))
      }
    },
      Some {
        val PERIODS = Seq(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14)
        def tab(f: Int => Double, p: Int): String =
          (0 until p).map(k =>
            s"CAST(${new java.math.BigDecimal(f(k))
              .setScale(12, java.math.RoundingMode.HALF_EVEN)
              .toPlainString} AS DECIMAL(14,12))")
            .mkString("[", ", ", "]")
        val arms = PERIODS.map { p =>
          s"""SELECT $p AS period, COUNT(*) AS n,
             |    CAST(SUM(c) AS BIGINT) AS sc,
             |    SUM(c * cw) AS pc, SUM(c * sw) AS ps,
             |    SUM(cw) AS wc, SUM(sw) AS ws
             |  FROM (SELECT c,
             |      ${tab(k => math.cos(2 * math.Pi * k / p), p)}[
             |        (date_diff('day', DATE '1970-01-01', day) % $p) + 1]
             |        AS cw,
             |      ${tab(k => math.sin(2 * math.Pi * k / p), p)}[
             |        (date_diff('day', DATE '1970-01-01', day) % $p) + 1]
             |        AS sw
             |    FROM byday)""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH byday AS ($SQL_DAILY),
           |per AS ($arms),
           |pw AS (
           |  SELECT period,
           |    (CAST(pc AS DOUBLE) - (CAST(sc AS DOUBLE) / n)
           |        * CAST(wc AS DOUBLE))
           |      * (CAST(pc AS DOUBLE) - (CAST(sc AS DOUBLE) / n)
           |        * CAST(wc AS DOUBLE))
           |    + (CAST(ps AS DOUBLE) - (CAST(sc AS DOUBLE) / n)
           |        * CAST(ws AS DOUBLE))
           |      * (CAST(ps AS DOUBLE) - (CAST(sc AS DOUBLE) / n)
           |        * CAST(ws AS DOUBLE)) AS pw
           |  FROM per),
           |m AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_periods,
           |    list_sum(list(pw ORDER BY period)) AS tot,
           |    list_sum(list(CASE WHEN pw > 0 THEN pw * ln(pw)
           |      ELSE 0.0 END ORDER BY period)) AS snln
           |  FROM pw)
           |SELECT n_periods,
           |  ROUND((ln(tot) - snln / tot) / ln(11.0), 4)
           |    AS spectral_entropy
           |FROM m""".stripMargin
      }),

    // Sample entropy (m = 2, r = 0.2σ) of the daily series: B = pairs
    // of 2-templates within Chebyshev r, A = pairs of 3-templates
    // within r, SampEn = −ln(A/B) (NULL when A = 0). The template
    // pair stage is an i<j self-join — quadratic in DAYS, which the
    // daily device bounds by the calendar, and σ comes from exact
    // integer moments so both engines derive the identical r.
    Q("ts_sample_entropy",
      (s, d) => {
        val w = Window.orderBy("day")
        val t = daily(s, d)
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("c2", lead("c", 1).over(w))
          .withColumn("c3", lead("c", 2).over(w))
          .localCheckpoint()
        val sig = t.agg((count(lit(1))).as("n"), sum("c").as("sx"),
            sum(col("c") * col("c")).as("sx2"))
          .select(col("n").cast("long").as("n"),
            (lit(0.2) * sqrt((col("sx2").cast("double") -
              col("sx").cast("double") * col("sx").cast("double") /
                col("n").cast("double")) /
              (col("n") - 1).cast("double"))).as("r"))
        val a1 = t.select(col("i").as("ia"), col("c").as("a1"),
          col("c2").as("a2"), col("c3").as("a3"))
        val b1 = t.select(col("i").as("ib"), col("c").as("b1"),
          col("c2").as("b2"), col("c3").as("b3"))
        a1.join(b1, col("ia") < col("ib")).crossJoin(broadcast(sig))
          .filter(col("a2").isNotNull && col("b2").isNotNull)
          .agg(max("n").as("n_days"),
            sum(when(greatest(abs(col("a1") - col("b1")),
              abs(col("a2") - col("b2"))) <= col("r"), 1L).otherwise(0L))
              .as("b_count"),
            sum(when(col("a3").isNotNull && col("b3").isNotNull &&
              greatest(abs(col("a1") - col("b1")),
                abs(col("a2") - col("b2")),
                abs(col("a3") - col("b3"))) <= col("r"), 1L).otherwise(0L))
              .as("a_count"))
          .select(col("n_days"), col("b_count"), col("a_count"),
            when(col("a_count") > 0 && col("b_count") > 0,
              round(-log(col("a_count").cast("double") /
                col("b_count").cast("double")), 4)).as("sampen"))
      },
      Some(s"""WITH byday AS ($SQL_DAILY),
              |t AS (
              |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, c,
              |    LEAD(c, 1) OVER (ORDER BY day) AS c2,
              |    LEAD(c, 2) OVER (ORDER BY day) AS c3
              |  FROM byday),
              |sig AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    0.2 * sqrt((CAST(SUM(c * c) AS DOUBLE)
              |        - CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)
              |          / COUNT(*))
              |      / (COUNT(*) - 1)) AS r
              |  FROM byday),
              |pairs AS (
              |  SELECT a.c AS a1, a.c2 AS a2, a.c3 AS a3,
              |    b.c AS b1, b.c2 AS b2, b.c3 AS b3, r, n
              |  FROM t a JOIN t b ON a.i < b.i, sig
              |  WHERE a.c2 IS NOT NULL AND b.c2 IS NOT NULL),
              |m AS (
              |  SELECT MAX(n) AS n_days,
              |    CAST(SUM(CASE WHEN greatest(abs(a1 - b1), abs(a2 - b2))
              |      <= r THEN 1 ELSE 0 END) AS BIGINT) AS b_count,
              |    CAST(SUM(CASE WHEN a3 IS NOT NULL AND b3 IS NOT NULL
              |      AND greatest(abs(a1 - b1), abs(a2 - b2), abs(a3 - b3))
              |      <= r THEN 1 ELSE 0 END) AS BIGINT) AS a_count
              |  FROM pairs)
              |SELECT n_days, b_count, a_count,
              |  CASE WHEN a_count > 0 AND b_count > 0
              |    THEN ROUND(-ln(CAST(a_count AS DOUBLE) / b_count), 4)
              |  END AS sampen
              |FROM m""".stripMargin)),

    // Higuchi fractal dimension of the daily series (k = 1..4): the
    // per-(k, m) curve lengths Σ|x_{m+ik} − x_{m+(i−1)k}| are exact
    // integer sums off one lag(k) window each, the normalized L(k)
    // averages over the k phase offsets, and FD = −slope of the
    // 4-point ln L(k) vs ln k regression — closed form with the
    // 4 double terms folded in k order.
    Q("ts_higuchi_fd", {
      val KS = Seq(1, 2, 3, 4)
      (s, d) => {
        val w = Window.orderBy("day")
        val base = daily(s, d)
          .withColumn("i", row_number().over(w).cast("long"))
        val nRow = base.agg(max("i").as("n"))
        val lk = KS.map { k =>
          base
            .withColumn("prev", lag("c", k).over(w))
            .filter(col("prev").isNotNull)
            .withColumn("m", pmod(col("i") - 1, lit(k.toLong)) + 1)
            .groupBy("m")
            .agg(sum(abs(col("c") - col("prev"))).cast("long").as("sd"),
              count(lit(1)).cast("long").as("ni"))
            .crossJoin(broadcast(nRow))
            .select((col("sd").cast("double") *
              (col("n") - 1).cast("double") /
              (col("ni") * lit(k.toLong)).cast("double") /
              lit(k.toDouble)).as("lmk"))
            .agg(avg("lmk").as("lk"))
            .select(lit(k).as("k"), col("lk"))
        }.reduce(_ unionByName _)
        lk.agg(
            expr("aggregate(sort_array(collect_list(struct(k, " +
              "ln(cast(k as double)) AS x, ln(lk) AS y))), " +
              "struct(cast(0.0 as double) AS sx, cast(0.0 as double) AS sy, " +
              "cast(0.0 as double) AS sxx, cast(0.0 as double) AS sxy, " +
              "cast(0 as int) AS n), " +
              "(acc, e) -> struct(acc.sx + e.x AS sx, acc.sy + e.y AS sy, " +
              "acc.sxx + e.x * e.x AS sxx, acc.sxy + e.x * e.y AS sxy, " +
              "acc.n + 1 AS n))").as("st"))
          .select(round(-(col("st.n").cast("double") * col("st.sxy") -
              col("st.sx") * col("st.sy")) /
              (col("st.n").cast("double") * col("st.sxx") -
                col("st.sx") * col("st.sx")), 4).as("higuchi_fd"))
      }
    },
      Some(s"""WITH byday AS ($SQL_DAILY),
              |t AS (
              |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, c,
              |    LAG(c, 1) OVER (ORDER BY day) AS p1,
              |    LAG(c, 2) OVER (ORDER BY day) AS p2,
              |    LAG(c, 3) OVER (ORDER BY day) AS p3,
              |    LAG(c, 4) OVER (ORDER BY day) AS p4
              |  FROM byday),
              |nn AS (SELECT MAX(i) AS n FROM t),
              |lmk AS (
              |  SELECT k, m, CAST(SUM(sd) AS DOUBLE) * (MAX(n) - 1)
              |      / (COUNT(*) * k) / k AS lmk
              |  FROM (
              |    SELECT 1 AS k, ((i - 1) % 1) + 1 AS m,
              |      abs(c - p1) AS sd, n FROM t, nn WHERE p1 IS NOT NULL
              |    UNION ALL
              |    SELECT 2, ((i - 1) % 2) + 1, abs(c - p2), n
              |    FROM t, nn WHERE p2 IS NOT NULL
              |    UNION ALL
              |    SELECT 3, ((i - 1) % 3) + 1, abs(c - p3), n
              |    FROM t, nn WHERE p3 IS NOT NULL
              |    UNION ALL
              |    SELECT 4, ((i - 1) % 4) + 1, abs(c - p4), n
              |    FROM t, nn WHERE p4 IS NOT NULL)
              |  GROUP BY k, m),
              |lk AS (SELECT k, AVG(lmk) AS lk FROM lmk GROUP BY k),
              |reg AS (
              |  SELECT COUNT(*) AS n,
              |    list_sum(list(ln(CAST(k AS DOUBLE)) ORDER BY k)) AS sx,
              |    list_sum(list(ln(lk) ORDER BY k)) AS sy,
              |    list_sum(list(ln(CAST(k AS DOUBLE))
              |      * ln(CAST(k AS DOUBLE)) ORDER BY k)) AS sxx,
              |    list_sum(list(ln(CAST(k AS DOUBLE)) * ln(lk)
              |      ORDER BY k)) AS sxy
              |  FROM lk)
              |SELECT ROUND(-(n * sxy - sx * sy)
              |    / (n * sxx - sx * sx), 4) AS higuchi_fd
              |FROM reg""".stripMargin)),

    // Closed-form 2-feature PCA of (quantity, extendedprice): the 2×2
    // covariance matrix comes from ONE linear pass of EXACT DECIMAL
    // power sums (associative at any partitioning), then eigenvalues
    // λ = (tr ± √((sxx−syy)² + 4sxy²))/2, explained-variance ratio,
    // and the principal-axis angle θ = ½·atan2(2sxy, sxx−syy) are
    // scalar double arithmetic evaluated in the IDENTICAL textual
    // order on both engines. The full-PCA scale story: d features
    // need only the d² moment sums from the same single pass.
    Q("stat_pca_2d",
      (s, d) => {
        def dd(c: String) = col(c).cast("decimal(18,2)")
        val m = Tables.lineitem(s, d)
          .select(dd("l_quantity").as("x"), dd("l_extendedprice").as("y"))
          .agg(count(lit(1)).as("n"),
            sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("x")).as("sx2"),
            sum(col("y") * col("y")).as("sy2"),
            sum(col("x") * col("y")).as("sxy"))
        val nd = col("n").cast("double")
        def D(c: String) = col(c).cast("double")
        val sxx = (D("sx2") - D("sx") * D("sx") / nd) / (nd - 1.0)
        val syy = (D("sy2") - D("sy") * D("sy") / nd) / (nd - 1.0)
        val sxy = (D("sxy") - D("sx") * D("sy") / nd) / (nd - 1.0)
        val tr = sxx + syy
        val disc = sqrt((sxx - syy) * (sxx - syy) + lit(4.0) * sxy * sxy)
        m.select(col("n"),
          round((tr + disc) / 2.0, 4).as("lambda1"),
          round((tr - disc) / 2.0, 4).as("lambda2"),
          round((tr + disc) / (tr * 2.0), 6).as("evr1"),
          round(atan2(lit(2.0) * sxy, sxx - syy) / 2.0, 6).as("theta"))
      },
      Some("""WITH m AS (
             |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             |    SUM(x*x) AS sx2, SUM(y*y) AS sy2, SUM(x*y) AS sxy
             |  FROM (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x,
             |      CAST(l_extendedprice AS DECIMAL(18,2)) AS y
             |    FROM lineitem) t),
             |c AS (
             |  SELECT n,
             |    (CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE)
             |      * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0) AS sxx,
             |    (CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE)
             |      * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0) AS syy,
             |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
             |      * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0) AS sxy
             |  FROM m)
             |SELECT n,
             |  ROUND(((sxx + syy) + sqrt((sxx - syy) * (sxx - syy)
             |    + 4.0 * sxy * sxy)) / 2.0, 4) AS lambda1,
             |  ROUND(((sxx + syy) - sqrt((sxx - syy) * (sxx - syy)
             |    + 4.0 * sxy * sxy)) / 2.0, 4) AS lambda2,
             |  ROUND(((sxx + syy) + sqrt((sxx - syy) * (sxx - syy)
             |    + 4.0 * sxy * sxy)) / (2.0 * (sxx + syy)), 6) AS evr1,
             |  ROUND(atan2(2.0 * sxy, sxx - syy) / 2.0, 6) AS theta
             |FROM c""".stripMargin)),

    // Weibull fit of customer inter-order gaps by GROUPED median-rank
    // regression: the gap-day domain is calendar-bounded (≤ a few
    // thousand distinct values at any corpus size), so instead of
    // per-observation plotting positions the fit assigns each distinct
    // gap its Bernard mid-position F_g = (C_g + (c_g+1)/2 − 0.3)
    // / (n + 0.4) (C_g = count below, c_g = ties at g) and runs
    // count-weighted OLS of z = ln(−ln(1−F)) on x = ln g. One fact
    // shuffle (per-customer lag), one bounded freq table; the four
    // weighted double sums fold in GAP ORDER on both engines.
    Q("stat_weibull_fit",
      (s, d) => {
        val wC = Window.partitionBy("o_custkey")
          .orderBy("od", "o_orderkey")
        val gaps = Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            to_date(col("o_orderdate")).as("od"))
          .withColumn("gap", datediff(col("od"), lag("od", 1).over(wC)))
          .filter(col("gap") > 0)
        val freq = gaps.groupBy("gap").agg(count(lit(1)).as("c"))
        val wG = Window.orderBy("gap")
          .rowsBetween(Window.unboundedPreceding, -1)
        val pts = freq
          .withColumn("cb", coalesce(sum("c").over(wG), lit(0L)))
          .crossJoin(broadcast(
            freq.agg(sum("c").cast("long").as("ntot"))))
          .withColumn("fg",
            (col("cb").cast("double") +
              (col("c") + 1).cast("double") / 2.0 - 0.3) /
              (col("ntot").cast("double") + 0.4))
          .select(col("gap"), col("c"), col("ntot"),
            log(col("gap").cast("double")).as("x"),
            log(-log(lit(1.0) - col("fg"))).as("z"))
        def fold(v: String, alias: String) =
          expr("aggregate(sort_array(collect_list(struct(gap AS k, " +
            s"$v AS v))), cast(0.0 as double), (acc, e) -> acc + e.v)")
            .as(alias)
        val mm = pts.agg(
          count(lit(1)).as("n_points"), max("ntot").as("n"),
          fold("c * x", "swx"), fold("c * z", "swz"),
          fold("c * x * x", "swxx"), fold("c * x * z", "swxz"))
        val nw = col("n").cast("double")
        val k = (nw * col("swxz") - col("swx") * col("swz")) /
          (nw * col("swxx") - col("swx") * col("swx"))
        mm.select(col("n"), col("n_points"),
          round(k, 6).as("shape"),
          round(exp(lit(-1.0) * ((col("swz") - k * col("swx")) / nw) / k),
            4).as("scale"))
      },
      Some("""WITH g AS (
             |  SELECT date_diff('day',
             |      lag(CAST(o_orderdate AS DATE)) OVER (
             |        PARTITION BY o_custkey
             |        ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
             |      CAST(o_orderdate AS DATE)) AS gap
             |  FROM orders),
             |freq AS (SELECT gap, COUNT(*) AS c FROM g
             |  WHERE gap > 0 GROUP BY 1),
             |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS ntot FROM freq),
             |pts AS (
             |  SELECT gap, c, ntot,
             |    ln(CAST(gap AS DOUBLE)) AS x,
             |    ln(-ln(1.0 - (CAST(COALESCE(SUM(c) OVER (ORDER BY gap
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |        0) AS DOUBLE)
             |      + CAST(c + 1 AS DOUBLE) / 2.0 - 0.3)
             |      / (CAST(ntot AS DOUBLE) + 0.4))) AS z
             |  FROM freq, nt),
             |mm AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
             |    MAX(ntot) AS n,
             |    list_sum(list(c * x ORDER BY gap)) AS swx,
             |    list_sum(list(c * z ORDER BY gap)) AS swz,
             |    list_sum(list(c * x * x ORDER BY gap)) AS swxx,
             |    list_sum(list(c * x * z ORDER BY gap)) AS swxz
             |  FROM pts)
             |SELECT n, n_points,
             |  ROUND((n * swxz - swx * swz)
             |    / (n * swxx - swx * swx), 6) AS shape,
             |  ROUND(exp(-((swz - (n * swxz - swx * swz)
             |      / (n * swxx - swx * swx) * swx) / n)
             |    / ((n * swxz - swx * swz)
             |      / (n * swxx - swx * swx))), 4) AS scale
             |FROM mm""".stripMargin)),

    // One-way ANCOVA: does extendedprice differ by return flag AFTER
    // adjusting for quantity? Per-flag exact decimal power sums from
    // ONE linear pass; the pooled within-group slope b_w = ΣSxy/ΣSxx,
    // the covariate-adjusted means ȳᵢ − b_w(x̄ᵢ − x̄), and the group
    // F with the covariate partialled out are all closed forms on the
    // flag-bounded summary. The centered per-group Sxx/Sxy/Syy are
    // RATIONALS (÷nᵢ), so those three sums fold in FLAG ORDER as
    // doubles (the Bartlett device) while everything upstream stays
    // exact. Experimentation companion to stat_cuped (same algebra,
    // pre-period metric as the covariate) at k groups.
    Q("stat_ancova",
      (s, d) => {
        def dd(c: String) = col(c).cast("decimal(18,2)")
        val g = Tables.lineitem(s, d)
          .select(col("l_returnflag").as("f"),
            dd("l_quantity").as("x"), dd("l_extendedprice").as("y"))
          .groupBy("f")
          .agg(count(lit(1)).as("ng"),
            sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
        def fold(v: String, alias: String) =
          expr("aggregate(sort_array(collect_list(struct(f AS k, " +
            s"$v AS v))), cast(0.0 as double), (acc, e) -> acc + e.v)")
            .as(alias)
        val m = g.agg(
          count(lit(1)).as("k"), sum("ng").cast("long").as("n"),
          sum("sx").as("tsx"), sum("sy").as("tsy"),
          sum("sxx").as("tsxx"), sum("syy").as("tsyy"),
          sum("sxy").as("tsxy"),
          fold("cast(sxx as double) - cast(sx as double) " +
            "* cast(sx as double) / ng", "wxx"),
          fold("cast(syy as double) - cast(sy as double) " +
            "* cast(sy as double) / ng", "wyy"),
          fold("cast(sxy as double) - cast(sx as double) " +
            "* cast(sy as double) / ng", "wxy"))
        def D(c: String) = col(c).cast("double")
        val nd = col("n").cast("double")
        val kd = col("k").cast("double")
        val bw = col("wxy") / col("wxx")
        val sseF = col("wyy") - col("wxy") * col("wxy") / col("wxx")
        val txx = D("tsxx") - D("tsx") * D("tsx") / nd
        val tyy = D("tsyy") - D("tsy") * D("tsy") / nd
        val txy = D("tsxy") - D("tsx") * D("tsy") / nd
        val sseR = tyy - txy * txy / txx
        val fstat = ((sseR - sseF) / (kd - 1.0)) /
          (sseF / (nd - kd - 1.0))
        val model = m.select(col("k"), col("n"), col("tsx"),
          round(bw, 6).as("pooled_slope"), round(fstat, 4).as("f_ancova"))
        g.crossJoin(broadcast(model))
          .select(col("f").as("l_returnflag"), col("ng").as("n_rows"),
            round(col("sy").cast("double") / col("ng").cast("double") -
              col("pooled_slope") *
                (col("sx").cast("double") / col("ng").cast("double") -
                  col("tsx").cast("double") / col("n").cast("double")),
              4).as("adj_mean"),
            col("pooled_slope"), col("f_ancova"))
          .orderBy("l_returnflag")
      },
      Some("""WITH g AS (
             |  SELECT l_returnflag AS f, COUNT(*) AS ng,
             |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx,
             |    SUM(y*y) AS syy, SUM(x*y) AS sxy
             |  FROM (SELECT l_returnflag,
             |      CAST(l_quantity AS DECIMAL(18,2)) AS x,
             |      CAST(l_extendedprice AS DECIMAL(18,2)) AS y
             |    FROM lineitem) t GROUP BY 1),
             |m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |    CAST(SUM(ng) AS BIGINT) AS n,
             |    SUM(sx) AS tsx, SUM(sy) AS tsy, SUM(sxx) AS tsxx,
             |    SUM(syy) AS tsyy, SUM(sxy) AS tsxy,
             |    list_sum(list(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
             |      * CAST(sx AS DOUBLE) / ng ORDER BY f)) AS wxx,
             |    list_sum(list(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
             |      * CAST(sy AS DOUBLE) / ng ORDER BY f)) AS wyy,
             |    list_sum(list(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
             |      * CAST(sy AS DOUBLE) / ng ORDER BY f)) AS wxy
             |  FROM g),
             |s AS (
             |  SELECT k, n, tsx,
             |    ROUND(wxy / wxx, 6) AS pooled_slope,
             |    ROUND((((CAST(tsyy AS DOUBLE) - CAST(tsy AS DOUBLE)
             |        * CAST(tsy AS DOUBLE) / CAST(n AS DOUBLE))
             |      - (CAST(tsxy AS DOUBLE) - CAST(tsx AS DOUBLE)
             |        * CAST(tsy AS DOUBLE) / CAST(n AS DOUBLE))
             |        * (CAST(tsxy AS DOUBLE) - CAST(tsx AS DOUBLE)
             |          * CAST(tsy AS DOUBLE) / CAST(n AS DOUBLE))
             |        / (CAST(tsxx AS DOUBLE) - CAST(tsx AS DOUBLE)
             |          * CAST(tsx AS DOUBLE) / CAST(n AS DOUBLE))
             |      - (wyy - wxy * wxy / wxx)) / (CAST(k AS DOUBLE) - 1.0))
             |      / ((wyy - wxy * wxy / wxx)
             |        / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE) - 1.0)),
             |      4) AS f_ancova
             |  FROM m)
             |SELECT f AS l_returnflag, CAST(ng AS BIGINT) AS n_rows,
             |  ROUND(CAST(sy AS DOUBLE) / ng - pooled_slope
             |    * (CAST(sx AS DOUBLE) / ng
             |      - CAST(tsx AS DOUBLE) / CAST(n AS DOUBLE)), 4)
             |    AS adj_mean,
             |  pooled_slope, f_ancova
             |FROM g, s ORDER BY l_returnflag""".stripMargin)),

    // Nelson–Aalen cumulative hazard over ts_kaplan_meier's user
    // lifetimes (first event → first 'error', else censored at last
    // activity). Unlike KM's product — which that query folds on the
    // driver — the NA estimator is a plain cumulative SUM of d_t/n_t,
    // so it stays fully declarative: n_risk comes from one running
    // subtraction over the day-bounded lifetime table, each hazard
    // increment is rounded to 9dp and the prefix sum runs as EXACT
    // DECIMAL — associative, order-pinned, engine-identical. The
    // Fleming–Harrington survival exp(−H) rides along for free.
    Q("stat_nelson_aalen",
      (s, d) => {
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
          .agg(sum(lit(1L) - col("cens")).as("d"),
            count(lit(1)).as("leaving"))
        val nTot = byT.agg(sum("leaving").cast("long").as("ntot"))
        val wPrev = Window.orderBy("lt")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.orderBy("lt")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byT.crossJoin(broadcast(nTot))
          .withColumn("n_risk",
            col("ntot") - coalesce(sum("leaving").over(wPrev), lit(0L)))
          .withColumn("hh", sum(
            round(col("d").cast("double") / col("n_risk").cast("double"),
              9).cast("decimal(28,9)")).over(wCum))
          .filter(col("d") > 0)
          .select(col("lt").as("t"), col("n_risk"),
            col("d").as("n_deaths"),
            round(col("hh").cast("double"), 6).as("cum_hazard"),
            round(exp(-col("hh").cast("double")), 6).as("na_survival"))
          .orderBy("t")
      },
      Some("""WITH ud AS (
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
             |    CAST(COUNT(*) AS BIGINT) AS leaving
             |  FROM u2 GROUP BY lt),
             |rk AS (
             |  SELECT lt, d,
             |    (SELECT CAST(SUM(leaving) AS BIGINT) FROM byt)
             |      - CAST(COALESCE(SUM(leaving) OVER (ORDER BY lt
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |        0) AS BIGINT) AS n_risk
             |  FROM byt),
             |h AS (
             |  SELECT lt, d, n_risk,
             |    SUM(CAST(ROUND(CAST(d AS DOUBLE) / n_risk, 9)
             |      AS DECIMAL(28,9))) OVER (ORDER BY lt
             |      ROWS UNBOUNDED PRECEDING) AS hh
             |  FROM rk)
             |SELECT lt AS t, n_risk, d AS n_deaths,
             |  ROUND(CAST(hh AS DOUBLE), 6) AS cum_hazard,
             |  ROUND(exp(-CAST(hh AS DOUBLE)), 6) AS na_survival
             |FROM h WHERE d > 0 ORDER BY t""".stripMargin)),

    // Breslow–Day homogeneity test on stat_cmh_test's 2×2×K table
    // (lang strata, x = source='src0', y = n_chars≥200): CMH asks "is
    // there a common association"; BD asks whether ONE odds ratio
    // fits every stratum. The MH common OR and each stratum's
    // expected a-cell under it (the valid root of the BD quadratic,
    // picked by the in-range CASE both engines evaluate identically)
    // are closed forms on the K-row exact-integer summary; the χ²
    // terms and Tarone correction fold in LANG ORDER. K-bounded after
    // one linear pass — the stratified-tables family's third leg.
    Q("stat_breslow_day",
      (s, d) => {
        val cells = Tables.documents(s, d)
          .withColumn("x", (col("source") === "src0").cast("long"))
          .withColumn("y", (col("n_chars") >= 200).cast("long"))
          .groupBy("lang")
          .agg(sum(col("x") * col("y")).as("a"),
            sum("x").as("r1"), sum("y").as("c1"), count(lit(1)).as("nk"))
        def fold(v: String, alias: String) =
          expr("aggregate(sort_array(collect_list(struct(lang AS k, " +
            s"$v AS v))), cast(0.0 as double), (acc, e) -> acc + e.v)")
            .as(alias)
        val orRow = cells.agg(
          fold("cast(a as double) * (nk - r1 - c1 + a) / nk", "sad"),
          fold("cast(r1 - a as double) * (c1 - a) / nk", "sbc"))
          .select((col("sad") / col("sbc")).as("orm"))
        val terms = cells.crossJoin(broadcast(orRow))
          .withColumn("qb",
            (col("orm") - 1.0) * (col("r1") + col("c1")).cast("double") +
              col("nk").cast("double"))
          .withColumn("disc", sqrt(col("qb") * col("qb") -
            lit(4.0) * (col("orm") - 1.0) * col("orm") *
              (col("r1") * col("c1")).cast("double")))
          .withColumn("root1",
            (col("qb") - col("disc")) / (lit(2.0) * (col("orm") - 1.0)))
          .withColumn("root2",
            (col("qb") + col("disc")) / (lit(2.0) * (col("orm") - 1.0)))
          .withColumn("ea", when(abs(col("orm") - 1.0) < 1e-12,
            (col("r1") * col("c1")).cast("double") /
              col("nk").cast("double"))
            .otherwise(when(
              col("root1") > greatest(lit(0.0),
                (col("r1") + col("c1") - col("nk")).cast("double")) &&
                col("root1") < least(col("r1").cast("double"),
                  col("c1").cast("double")),
              col("root1")).otherwise(col("root2"))))
          .withColumn("va", lit(1.0) / (lit(1.0) / col("ea") +
            lit(1.0) / (col("r1").cast("double") - col("ea")) +
            lit(1.0) / (col("c1").cast("double") - col("ea")) +
            lit(1.0) / ((col("nk") - col("r1") - col("c1")).cast("double")
              + col("ea"))))
        val m = terms.agg(count(lit(1)).as("n_strata"),
          max(col("orm")).as("orm"),
          fold("(a - ea) * (a - ea) / va", "bd"),
          fold("a - ea", "sdev"), fold("va", "sva"))
        m.select(col("n_strata"), round(col("orm"), 6).as("or_mh"),
          round(col("bd"), 4).as("bd_chi2"),
          round(col("bd") - col("sdev") * col("sdev") / col("sva"), 4)
            .as("tarone_chi2"))
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
             |orw AS (
             |  SELECT list_sum(list(CAST(a AS DOUBLE)
             |      * (nk - r1 - c1 + a) / nk ORDER BY lang))
             |    / list_sum(list(CAST(r1 - a AS DOUBLE) * (c1 - a) / nk
             |      ORDER BY lang)) AS orm
             |  FROM k),
             |t2 AS (
             |  SELECT lang, a, r1, c1, nk, orm,
             |    (orm - 1.0) * CAST(r1 + c1 AS DOUBLE)
             |      + CAST(nk AS DOUBLE) AS qb
             |  FROM k, orw),
             |t3 AS (
             |  SELECT *, sqrt(qb * qb - 4.0 * (orm - 1.0) * orm
             |    * CAST(r1 * c1 AS DOUBLE)) AS disc
             |  FROM t2),
             |t4 AS (
             |  SELECT *,
             |    (qb - disc) / (2.0 * (orm - 1.0)) AS root1,
             |    (qb + disc) / (2.0 * (orm - 1.0)) AS root2
             |  FROM t3),
             |t5 AS (
             |  SELECT lang, a, r1, c1, nk, orm,
             |    CASE WHEN abs(orm - 1.0) < 1e-12
             |      THEN CAST(r1 * c1 AS DOUBLE) / CAST(nk AS DOUBLE)
             |      WHEN root1 > greatest(0.0, CAST(r1 + c1 - nk AS DOUBLE))
             |        AND root1 < least(CAST(r1 AS DOUBLE),
             |          CAST(c1 AS DOUBLE))
             |      THEN root1 ELSE root2 END AS ea
             |  FROM t4),
             |t6 AS (
             |  SELECT lang, a, orm, ea,
             |    1.0 / (1.0 / ea + 1.0 / (CAST(r1 AS DOUBLE) - ea)
             |      + 1.0 / (CAST(c1 AS DOUBLE) - ea)
             |      + 1.0 / (CAST(nk - r1 - c1 AS DOUBLE) + ea)) AS va
             |  FROM t5),
             |m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
             |    MAX(orm) AS orm,
             |    list_sum(list((a - ea) * (a - ea) / va ORDER BY lang))
             |      AS bd,
             |    list_sum(list(a - ea ORDER BY lang)) AS sdev,
             |    list_sum(list(va ORDER BY lang)) AS sva
             |  FROM t6)
             |SELECT n_strata, ROUND(orm, 6) AS or_mh,
             |  ROUND(bd, 4) AS bd_chi2,
             |  ROUND(bd - sdev * sdev / sva, 4) AS tarone_chi2
             |FROM m""".stripMargin)),

    // Rolling 14-day correlation between the purchase and view daily
    // count series — the co-movement monitor (do funnels track?) that
    // a point estimate like ts_cross_correlation's global lags can't
    // give. All five windowed sums are EXACT BIGINTs over the
    // calendar-bounded day table (one linear conditional aggregate,
    // then a 14-ROW window), and the Pearson closed form evaluates
    // once per day from those integers — bit-identical on both
    // engines, no float accumulation anywhere. (14-day window: the
    // fixture spans 30 days, so the monitor emits a 17-point series.)
    Q("ts_rolling_corr",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("p"),
            sum(when(col("event_type") === "view", 1L)
              .otherwise(0L)).as("v"))
        val w = Window.orderBy("day").rowsBetween(-13, 0)
        val base = daily
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("sp", sum("p").over(w))
          .withColumn("sv", sum("v").over(w))
          .withColumn("spp", sum(col("p") * col("p")).over(w))
          .withColumn("svv", sum(col("v") * col("v")).over(w))
          .withColumn("spv", sum(col("p") * col("v")).over(w))
          .filter(col("n") === 14)
        def D(c: String) = col(c).cast("double")
        val nd = col("n").cast("double")
        base.select(col("day"),
          round((nd * D("spv") - D("sp") * D("sv")) /
            sqrt((nd * D("spp") - D("sp") * D("sp")) *
              (nd * D("svv") - D("sv") * D("sv"))), 4).as("roll_corr"))
          .orderBy("day")
      },
      Some(s"""WITH daily AS (
              |  SELECT CAST(ts AS DATE) AS day,
              |    CAST(SUM(CASE WHEN event_type = 'purchase'
              |      THEN 1 ELSE 0 END) AS BIGINT) AS p,
              |    CAST(SUM(CASE WHEN event_type = 'view'
              |      THEN 1 ELSE 0 END) AS BIGINT) AS v
              |  FROM events GROUP BY 1),
              |b AS (
              |  SELECT day,
              |    CAST(COUNT(*) OVER w AS BIGINT) AS n,
              |    CAST(SUM(p) OVER w AS BIGINT) AS sp,
              |    CAST(SUM(v) OVER w AS BIGINT) AS sv,
              |    CAST(SUM(p * p) OVER w AS BIGINT) AS spp,
              |    CAST(SUM(v * v) OVER w AS BIGINT) AS svv,
              |    CAST(SUM(p * v) OVER w AS BIGINT) AS spv
              |  FROM daily
              |  WINDOW w AS (ORDER BY day
              |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
              |SELECT day,
              |  ROUND((CAST(n AS DOUBLE) * CAST(spv AS DOUBLE)
              |      - CAST(sp AS DOUBLE) * CAST(sv AS DOUBLE))
              |    / sqrt((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
              |        - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
              |      * (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
              |        - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))), 4)
              |    AS roll_corr
              |FROM b WHERE n = 14 ORDER BY day""".stripMargin)),

    // Per-type distribution-drift pager rule: two-sample KS between
    // the first 15 fixture days and the rest, one row per event type —
    // the nonparametric companion to dq_psi_drift's binned PSI (PSI
    // needs bin choices; KS does not). Same exact-integer device as
    // stat_ks_test — D's numerator max|ca·n_b − cb·n_a| is pure BIGINT
    // so the statistic is partitioning- and engine-independent by
    // construction — but with PARTITIONED windows (per-type), the
    // shape that scales: the running sum rides the per-type DISTINCT-
    // value table, and at 100 TB the standard pre-binned variant
    // drops into the same plan via width_bucket as the value key. The
    // drift flag compares the ROUNDED statistic so the paged set is
    // stable cross-engine.
    Q("dq_ks_drift",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("value"),
            to_date(col("ts")).as("day"))
        val mn = ev.agg(min("day").as("d0"))
        val pts = ev.crossJoin(broadcast(mn))
          .withColumn("ina",
            (datediff(col("day"), col("d0")) < 15).cast("long"))
          .groupBy("event_type", "value")
          .agg(sum("ina").as("an"),
            sum(lit(1L) - col("ina")).as("bn"))
        val w = Window.partitionBy("event_type").orderBy("value")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("event_type")
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)
        pts
          .withColumn("ca", sum("an").over(w))
          .withColumn("cb", sum("bn").over(w))
          .withColumn("n_a", sum("an").over(wAll))
          .withColumn("n_b", sum("bn").over(wAll))
          .groupBy("event_type", "n_a", "n_b")
          .agg(max(abs(col("ca") * col("n_b") - col("cb") * col("n_a")))
            .as("d_num"))
          .withColumn("d_stat", round(col("d_num").cast("double") /
            (col("n_a") * col("n_b")).cast("double"), 6))
          .select(col("event_type"), col("n_a"), col("n_b"),
            col("d_stat"), (col("d_stat") > 0.05).as("drifted"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_type, value, CAST(ts AS DATE) AS day
             |  FROM events),
             |mn AS (SELECT MIN(day) AS d0 FROM ev),
             |pts AS (
             |  SELECT event_type, value,
             |    SUM(CASE WHEN day - d0 < 15 THEN 1 ELSE 0 END) AS an,
             |    SUM(CASE WHEN day - d0 < 15 THEN 0 ELSE 1 END) AS bn
             |  FROM ev, mn GROUP BY 1, 2),
             |cum AS (
             |  SELECT event_type, an, bn,
             |    SUM(an) OVER (PARTITION BY event_type ORDER BY value
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS ca,
             |    SUM(bn) OVER (PARTITION BY event_type ORDER BY value
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cb,
             |    SUM(an) OVER (PARTITION BY event_type) AS n_a,
             |    SUM(bn) OVER (PARTITION BY event_type) AS n_b
             |  FROM pts),
             |m AS (
             |  SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
             |    CAST(n_b AS BIGINT) AS n_b,
             |    ROUND(CAST(MAX(ABS(ca * n_b - cb * n_a)) AS DOUBLE)
             |      / CAST(n_a * n_b AS DOUBLE), 6) AS d_stat
             |  FROM cum GROUP BY event_type, cum.n_a, cum.n_b)
             |SELECT event_type, n_a, n_b, d_stat,
             |  d_stat > 0.05 AS drifted
             |FROM m ORDER BY event_type""".stripMargin)),

    // Required sample size per arm for a two-sample mean test on
    // event value (α=0.05 two-sided, power 0.80), at three relative
    // MDEs — the continuous-metric companion to stat_power_twoprop's
    // proportion planner (same z-constant trick, so no normal CDF is
    // needed anywhere): n = 2(z_α+z_β)²σ²/δ². Mean and variance come
    // from ONE exact-decimal moment pass (value canonicalized through
    // DECIMAL(18,2) like every money column); the 3-row MDE grid is a
    // constant fan-out. Ceil on an exactly-shared double is engine-
    // identical by construction.
    Q("stat_samplesize_cont",
      (s, d) => {
        val za = 1.9599639845400545 // Phi^-1(0.975)
        val zb = 0.8416212335729143 // Phi^-1(0.80)
        val m = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("value").cast("decimal(18,2)").as("x"))
          .agg(count(lit(1)).as("n"), sum("x").as("sx"),
            sum(col("x") * col("x")).as("sx2"))
        val nd = col("n").cast("double")
        val mean = col("sx").cast("double") / nd
        val s2 = (col("sx2").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") / nd) /
          (nd - 1.0)
        Seq(0.01, 0.02, 0.05).map { mde =>
          m.select(lit(mde).as("mde_rel"), col("n").as("n_obs"),
            round(mean, 4).as("mean_value"),
            round(s2, 4).as("variance"))
            .withColumn("delta", col("mean_value") * mde)
            .withColumn("nf",
              lit(2.0) * lit((za + zb) * (za + zb)) * col("variance") /
                (col("delta") * col("delta")))
            .select(col("mde_rel"), col("n_obs"), col("mean_value"),
              (floor(col("nf")).cast("long") +
                when(col("nf") > floor(col("nf")), 1L).otherwise(0L))
                .as("n_per_arm"))
        }.reduce(_ unionByName _).orderBy("mde_rel")
      },
      Some(s"""WITH m AS (
              |  SELECT COUNT(*) AS n,
              |    SUM(x) AS sx, SUM(x * x) AS sx2
              |  FROM (SELECT CAST(value AS DECIMAL(18,2)) AS x
              |    FROM events WHERE event_type = 'purchase') t),
              |st AS (
              |  SELECT n,
              |    ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4)
              |      AS mean_value,
              |    ROUND((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE)
              |        * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
              |      / (CAST(n AS DOUBLE) - 1.0), 4) AS variance
              |  FROM m),
              |g AS (
              |  SELECT mde_rel, n AS n_obs, mean_value,
              |    2.0 * ${(1.9599639845400545 + 0.8416212335729143) *
                (1.9599639845400545 + 0.8416212335729143)} * variance
              |      / ((mean_value * mde_rel) * (mean_value * mde_rel))
              |      AS nf
              |  FROM st, (VALUES (CAST(0.01 AS DOUBLE)),
              |    (CAST(0.02 AS DOUBLE)),
              |    (CAST(0.05 AS DOUBLE))) v(mde_rel))
              |SELECT mde_rel, n_obs, mean_value,
              |  CAST(floor(nf) AS BIGINT)
              |    + CASE WHEN nf > floor(nf) THEN 1 ELSE 0 END
              |    AS n_per_arm
              |FROM g ORDER BY mde_rel""".stripMargin)),

    // Exact distribution-free median CI (order-statistic / binomial
    // method) for purchase value: the 95% CI is [x_(l), x_(u)] with
    // l = ⌊(n − z√n)/2⌋, u = ⌈(n + z√n)/2⌉ + 1 — PURE RANK ALGEBRA,
    // no distributional assumption and no normal CDF. Ranks are
    // exact integers from shared doubles; the three order statistics
    // (median = lower x_(⌈n/2⌉) included) are INDEX-PICKED from the
    // value-bounded cumulative freq table (the dq_volume_anomaly
    // selection device) — one value-keyed aggregate + one running-sum
    // window, never a full sort of the fact.
    Q("stat_quantile_ci",
      (s, d) => {
        val za = 1.9599639845400545
        val freq = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("value").cast("decimal(18,2)").as("x"))
          .groupBy("x").agg(count(lit(1)).as("c"))
        val wCum = Window.orderBy("x")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = freq.withColumn("cc", sum("c").over(wCum))
          .crossJoin(broadcast(freq.agg(sum("c").cast("long").as("n"))))
        val nd = col("n").cast("double")
        val ranks = cum
          .withColumn("rl", greatest(lit(1L),
            floor((nd - lit(za) * sqrt(nd)) / 2.0).cast("long")))
          .withColumn("ru", least(col("n"),
            (floor((nd + lit(za) * sqrt(nd)) / 2.0).cast("long") +
              when((nd + lit(za) * sqrt(nd)) / 2.0 >
                floor((nd + lit(za) * sqrt(nd)) / 2.0), 1L)
                .otherwise(0L)) + 1L))
          .withColumn("rm", floor((col("n") + 1L) / 2L).cast("long"))
        def pick(rank: org.apache.spark.sql.Column, alias: String) =
          min(when(col("cc") >= rank, col("x"))).cast("double")
            .as(alias)
        ranks.groupBy("n")
          .agg(pick(col("rm"), "median"),
            pick(col("rl"), "ci_lo"), pick(col("ru"), "ci_hi"))
          .select(col("n"), round(col("median"), 2).as("median"),
            round(col("ci_lo"), 2).as("ci_lo"),
            round(col("ci_hi"), 2).as("ci_hi"))
      },
      Some(s"""WITH freq AS (
              |  SELECT CAST(value AS DECIMAL(18,2)) AS x, COUNT(*) AS c
              |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
              |cum AS (
              |  SELECT x, SUM(c) OVER (ORDER BY x
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |    AS cc,
              |    (SELECT CAST(SUM(c) AS BIGINT) FROM freq) AS n
              |  FROM freq),
              |rk AS (
              |  SELECT x, cc, n,
              |    GREATEST(1, CAST(floor((n - 1.9599639845400545
              |      * sqrt(n)) / 2.0) AS BIGINT)) AS rl,
              |    LEAST(n, CAST(floor((n + 1.9599639845400545
              |        * sqrt(n)) / 2.0) AS BIGINT)
              |      + CASE WHEN (n + 1.9599639845400545 * sqrt(n))
              |          / 2.0 > floor((n + 1.9599639845400545
              |          * sqrt(n)) / 2.0) THEN 1 ELSE 0 END + 1)
              |      AS ru,
              |    (n + 1) // 2 AS rm
              |  FROM cum)
              |SELECT n,
              |  ROUND(CAST(MIN(CASE WHEN cc >= rm THEN x END)
              |    AS DOUBLE), 2) AS median,
              |  ROUND(CAST(MIN(CASE WHEN cc >= rl THEN x END)
              |    AS DOUBLE), 2) AS ci_lo,
              |  ROUND(CAST(MIN(CASE WHEN cc >= ru THEN x END)
              |    AS DOUBLE), 2) AS ci_hi
              |FROM rk GROUP BY n""".stripMargin)),

    // Two-sample Cramér–von Mises on click vs view values — the
    // whole-distribution companion to stat_ks_test's max deviation
    // (CvM integrates the squared ECDF gap, so spread-out drift that
    // never breaches KS's single max still registers). The statistic
    // is EXACT INTEGER algebra end to end on the value-rank device:
    // per distinct value, cnt·(cum_a·n_b − cum_b·n_a)² accumulates as
    // DECIMAL(38,0) (the square alone reaches ~10¹⁶ at sf0.1 — BIGINT
    // sums would overflow at 100 TB), divided once at the end by
    // n_a·n_b·(n_a+n_b)².
    Q("stat_cvm_test",
      (s, d) => {
        val gap = (col("cum_a") * col("n_b") - col("cum_b") * col("n_a"))
          .cast("decimal(38,0)")
        clickViewRanks(s, d)
          .groupBy("n_a", "n_b")
          .agg(sum((col("cnt").cast("decimal(38,0)") * gap * gap)
            .cast("decimal(38,0)")).as("num"))
          .select(col("n_a"), col("n_b"),
            round(col("num").cast("double") /
              (col("n_a").cast("double") * col("n_b").cast("double") *
                (col("n_a") + col("n_b")).cast("double") *
                (col("n_a") + col("n_b")).cast("double")), 6)
              .as("cvm_t"))
      },
      Some(s"""WITH m AS (
             |  SELECT n_a, n_b,
             |    SUM(CAST(cnt AS DECIMAL(38,0))
             |      * CAST(cum_a * n_b - cum_b * n_a AS DECIMAL(38,0))
             |      * CAST(cum_a * n_b - cum_b * n_a AS DECIMAL(38,0))) AS num
             |  FROM ($SQL_CLICK_VIEW_RANKS) r GROUP BY n_a, n_b)
             |SELECT n_a, n_b,
             |  ROUND(CAST(num AS DOUBLE)
             |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
             |      * CAST(n_a + n_b AS DOUBLE)
             |      * CAST(n_a + n_b AS DOUBLE)), 6) AS cvm_t
             |FROM m""".stripMargin)),

    // Depth-2 binary segmentation over the daily series — the
    // multi-changepoint extension of ts_changepoint_scan's windowed
    // single-CP scan: pick the split minimizing total two-segment SSE
    // (from exact-integer prefix sums — SSE(l..r) is a closed form on
    // (Σc, Σc²) prefixes), then re-split each side the same way. The
    // argmin is a rank-1 row_number under the engine-shared
    // (cost, day) total order; every candidate evaluates from ONE
    // prefix-sum pass over the calendar-bounded series — binary
    // segmentation at any scale is O(segments × series length), never
    // quadratic.
    Q("ts_cpd_binseg2", {
      (s, d) => {
        val w = Window.orderBy("day")
        val base = daily(s, d)
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("ps", sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("pss", sum(col("c") * col("c")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = base.agg(max("i").as("n"), max("ps").as("tn"),
          max("pss").as("tnn"))
        val cand = base.crossJoin(broadcast(tot))
        def sse(cnt: org.apache.spark.sql.Column,
            sc: org.apache.spark.sql.Column,
            sq: org.apache.spark.sql.Column) =
          sq.cast("double") -
            sc.cast("double") * sc.cast("double") / cnt.cast("double")
        val c1 = cand.filter(col("i") < col("n"))
          .withColumn("cost", sse(col("i"), col("ps"), col("pss")) +
            sse(col("n") - col("i"), col("tn") - col("ps"),
              col("tnn") - col("pss")))
        val wR = Window.orderBy(col("cost"), col("i"))
        val cp1 = c1.withColumn("rn", row_number().over(wR))
          .filter(col("rn") === 1)
          .select(col("i").as("t1"), col("day").as("d1"),
            col("ps").as("ps1"), col("pss").as("pss1"),
            col("cost").as("cost1"))
        val sides = cand.crossJoin(broadcast(cp1))
          .filter(col("i") =!= col("t1") && col("i") < col("n"))
          .withColumn("seg",
            when(col("i") < col("t1"), "left").otherwise("right"))
          .withColumn("cost", when(col("i") < col("t1"),
            sse(col("i"), col("ps"), col("pss")) +
              sse(col("t1") - col("i"), col("ps1") - col("ps"),
                col("pss1") - col("pss")))
            .otherwise(
              sse(col("i") - col("t1"), col("ps") - col("ps1"),
                col("pss") - col("pss1")) +
                sse(col("n") - col("i"), col("tn") - col("ps"),
                  col("tnn") - col("pss"))))
        val wS = Window.partitionBy("seg").orderBy(col("cost"), col("i"))
        val cp2 = sides.withColumn("rn", row_number().over(wS))
          .filter(col("rn") === 1)
          .select(col("seg"), col("day").as("split_day"),
            round(col("cost"), 6).as("seg_cost"))
        cp1.select(lit("root").as("seg"), col("d1").as("split_day"),
            round(col("cost1"), 6).as("seg_cost"))
          .unionByName(cp2)
          .orderBy("seg")
      }
    },
      Some(s"""WITH byday AS ($SQL_DAILY),
              |base AS (
              |  SELECT day, c,
              |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
              |    SUM(c) OVER (ORDER BY day
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS ps,
              |    SUM(c * c) OVER (ORDER BY day
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS pss
              |  FROM byday),
              |tot AS (SELECT MAX(i) AS n, MAX(ps) AS tn, MAX(pss) AS tnn
              |  FROM base),
              |c1 AS (
              |  SELECT day, i, ps, pss,
              |    (CAST(pss AS DOUBLE) - CAST(ps AS DOUBLE)
              |       * CAST(ps AS DOUBLE) / CAST(i AS DOUBLE))
              |    + (CAST(tnn - pss AS DOUBLE)
              |       - CAST(tn - ps AS DOUBLE) * CAST(tn - ps AS DOUBLE)
              |         / CAST(n - i AS DOUBLE)) AS cost
              |  FROM base, tot WHERE i < n),
              |cp1 AS (
              |  SELECT i AS t1, day AS d1, ps AS ps1, pss AS pss1, cost
              |      AS cost1
              |  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY cost, i)
              |      AS rn FROM c1) x WHERE rn = 1),
              |sides AS (
              |  SELECT b.day, b.i,
              |    CASE WHEN b.i < t1 THEN 'left' ELSE 'right' END AS seg,
              |    CASE WHEN b.i < t1 THEN
              |      (CAST(b.pss AS DOUBLE) - CAST(b.ps AS DOUBLE)
              |         * CAST(b.ps AS DOUBLE) / CAST(b.i AS DOUBLE))
              |      + (CAST(pss1 - b.pss AS DOUBLE)
              |         - CAST(ps1 - b.ps AS DOUBLE)
              |           * CAST(ps1 - b.ps AS DOUBLE)
              |           / CAST(t1 - b.i AS DOUBLE))
              |    ELSE
              |      (CAST(b.pss - pss1 AS DOUBLE)
              |         - CAST(b.ps - ps1 AS DOUBLE)
              |           * CAST(b.ps - ps1 AS DOUBLE)
              |           / CAST(b.i - t1 AS DOUBLE))
              |      + (CAST(tnn - b.pss AS DOUBLE)
              |         - CAST(tn - b.ps AS DOUBLE)
              |           * CAST(tn - b.ps AS DOUBLE)
              |           / CAST(n - b.i AS DOUBLE))
              |    END AS cost
              |  FROM base b, tot, cp1 WHERE b.i <> t1 AND b.i < n),
              |cp2 AS (
              |  SELECT seg, day AS split_day,
              |    ROUND(cost, 6) AS seg_cost
              |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY seg
              |      ORDER BY cost, i) AS rn FROM sides) x
              |  WHERE rn = 1)
              |SELECT 'root' AS seg, d1 AS split_day,
              |  ROUND(cost1, 6) AS seg_cost FROM cp1
              |UNION ALL SELECT seg, split_day, seg_cost FROM cp2
              |ORDER BY seg""".stripMargin)),

    // Seasonal-hybrid ESD (3 rounds) on the daily series — the pager
    // algorithm for "which days were anomalous": subtract the
    // per-weekday LOWER MEDIAN (index-picked, so the seasonal
    // component is an observed integer, no float seasonal fit), then
    // run 3 unrolled ESD rounds — each re-estimates mean/sd from
    // exact integer moments of the REMAINING residuals, flags the max
    // |deviation| (tie → earliest day), and removes it. Sequential
    // re-estimation is what separates ESD from the one-shot z rules
    // (ts_anomaly_zscore, stat_grubbs): a big outlier can't mask the
    // next one. Everything is day-count-sized after the one linear
    // rollup; each round is one broadcast moment row + one rank-1
    // window.
    Q("ts_seasonal_esd",
      (s, d) => {
        val dd = daily(s, d).withColumn("wd", dayofweek(col("day")))
        val wWd = Window.partitionBy("wd").orderBy("c", "day")
        val med = dd
          .withColumn("rn", row_number().over(wWd))
          .withColumn("nw", count(lit(1)).over(Window.partitionBy("wd")))
          .filter(col("rn") === floor((col("nw") + 1) / 2.0).cast("int"))
          .select(col("wd"), col("c").as("med"))
        // day-sized residual table, localCheckpoint'd (PERF.md scan census):
        // every ESD round references its candidate set three times
        // (moment row + deviation join + survivor anti-join), so the
        // un-truncated chain re-derived the events rollup ~52× in the
        // final plan — at corpus scale that is 52 fact scans for a
        // day-count-sized computation
        val resid0 = dd.join(broadcast(med), "wd")
          .select(col("day"), (col("c") - col("med")).as("r"))
          .localCheckpoint()
        def esdRound(cand: DataFrame, k: Int): (DataFrame, DataFrame) = {
          val m = cand.agg(count(lit(1)).as("n"), sum("r").as("sr"),
            sum(col("r") * col("r")).as("srr"))
          val nd = col("n").cast("double")
          val j = cand.crossJoin(broadcast(m))
            .withColumn("mean", col("sr").cast("double") / nd)
            .withColumn("sd", sqrt((col("srr").cast("double") -
              col("sr").cast("double") * col("sr").cast("double") / nd) /
              (nd - 1.0)))
            .withColumn("dev", abs(col("r").cast("double") - col("mean")))
          val flag = j
            .withColumn("rk", row_number().over(
              Window.orderBy(col("dev").desc, col("day"))))
            .filter(col("rk") === 1)
            .select(lit(k.toLong).as("esd_round"), col("day"),
              col("r").as("resid"), round(col("dev") / col("sd"), 4)
                .as("z"))
          val rest = cand.join(broadcast(flag.select(col("day"))),
            Seq("day"), "left_anti")
            .localCheckpoint()
          (flag, rest)
        }
        val (f1, c2) = esdRound(resid0, 1)
        val (f2, c3) = esdRound(c2, 2)
        val (f3, _) = esdRound(c3, 3)
        f1.unionByName(f2).unionByName(f3).orderBy("esd_round")
      },
      Some {
        def round(k: Int, cand: String): String =
          s"""m$k AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(r) AS BIGINT) AS sr,
             |    CAST(SUM(r * r) AS BIGINT) AS srr FROM $cand),
             |j$k AS (
             |  SELECT day, r,
             |    abs(CAST(r AS DOUBLE) - CAST(sr AS DOUBLE)
             |      / CAST(n AS DOUBLE)) AS dev,
             |    sqrt((CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)
             |        * CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0)) AS sd
             |  FROM $cand, m$k),
             |f$k AS (
             |  SELECT CAST($k AS BIGINT) AS esd_round, day,
             |    CAST(r AS BIGINT) AS resid, ROUND(dev / sd, 4) AS z
             |  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY dev DESC,
             |      day) AS rk FROM j$k) x WHERE rk = 1),
             |c${k + 1} AS (
             |  SELECT day, r FROM $cand
             |  WHERE day NOT IN (SELECT day FROM f$k))""".stripMargin
        s"""WITH byday AS ($SQL_DAILY),
           |dd AS (SELECT day, c, dayofweek(day) AS wd FROM byday),
           |med AS (
           |  SELECT wd, c AS med FROM (
           |    SELECT wd, c,
           |      ROW_NUMBER() OVER (PARTITION BY wd ORDER BY c, day)
           |        AS rn,
           |      COUNT(*) OVER (PARTITION BY wd) AS nw
           |    FROM dd) x
           |  WHERE rn = CAST(floor((nw + 1) / 2.0) AS INT)),
           |c1 AS (
           |  SELECT day, dd.c - med AS r FROM dd JOIN med USING (wd)),
           |${round(1, "c1")},
           |${round(2, "c2")},
           |${round(3, "c3")}
           |SELECT esd_round, day, resid, z FROM f1
           |UNION ALL SELECT esd_round, day, resid, z FROM f2
           |UNION ALL SELECT esd_round, day, resid, z FROM f3
           |ORDER BY esd_round""".stripMargin
      }),

    // Theta-method forecast (the M3-competition winner) for the next
    // 3 days of the daily series: theta0 = the OLS trend line (exact
    // integer moments), theta2 = 2c − trend, smoothed by truncated-
    // 8-lag SES (α=0.5, the ts_ewma closed-form device — no recursion
    // crosses rows), forecast = the average of the extrapolated trend
    // and the flat SES level. One linear rollup, one moment pass, one
    // 8-lag window at the last point; the 3-row horizon is a constant
    // fan-out. Every double derives from shared exact integers
    // through identical formula text on both engines.
    Q("ts_theta_forecast", {
      val J = 8
      val wts: Seq[Double] =
        (0 until J).map(j => (1 to j).foldLeft(0.5)((a, _) => a * 0.5))
      (s, d) => {
        val w = Window.orderBy("day")
        val base = daily(s, d)
          .withColumn("i", row_number().over(w).cast("long"))
        val m = base.agg(count(lit(1)).as("n"),
          sum("i").as("si"), sum("c").as("sc"),
          sum(col("i") * col("i")).as("sii"),
          sum(col("i") * col("c")).as("sic"))
        def D(c: String) = col(c).cast("double")
        val nd = col("n").cast("double")
        val bSlope = (nd * D("sic") - D("si") * D("sc")) /
          (nd * D("sii") - D("si") * D("si"))
        val withAb = base.crossJoin(broadcast(m))
          .withColumn("b", bSlope)
          .withColumn("a", (D("sc") - col("b") * D("si")) / nd)
          .withColumn("z", lit(2.0) * col("c").cast("double") -
            (col("a") + col("b") * col("i").cast("double")))
        def lagZ(j: Int) =
          if (j == 0) col("z") else lag(col("z"), j).over(w)
        val num = (0 until J).map(j =>
          coalesce(lagZ(j), lit(0.0)) * wts(j)).reduce(_ + _)
        val den = (0 until J)
          .map(j => when(lagZ(j).isNotNull, wts(j)).otherwise(0.0))
          .reduce(_ + _)
        val last = withAb
          .withColumn("ses", num / den)
          .filter(col("i") === col("n"))
          .select(col("n"), col("a"), col("b"), col("ses"))
        Seq(1, 2, 3).map { h =>
          last.select(lit(h.toLong).as("h"),
            round(col("a") + col("b") *
              (col("n") + h).cast("double"), 4).as("f_trend"),
            round(col("ses"), 4).as("f_ses"),
            round((col("a") + col("b") * (col("n") + h).cast("double") +
              col("ses")) / 2.0, 4).as("f_theta"))
        }.reduce(_ unionByName _).orderBy("h")
      }
    },
      Some {
        val J = 8
        val wts: Seq[Double] =
          (0 until J).map(j => (1 to j).foldLeft(0.5)((a, _) => a * 0.5))
        def wLit(j: Int) = s"CAST('${wts(j)}' AS DOUBLE)"
        def lagZ(j: Int) = if (j == 0) "z" else s"LAG(z, $j) OVER w"
        val num = (0 until J)
          .map(j => s"COALESCE(${lagZ(j)}, 0.0) * ${wLit(j)}")
          .mkString(" + ")
        val den = (0 until J).map(j =>
          s"CASE WHEN ${lagZ(j)} IS NOT NULL THEN ${wLit(j)} ELSE 0.0 END")
          .mkString(" + ")
        s"""WITH byday AS ($SQL_DAILY),
           |base AS (
           |  SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT)
           |    AS i, day
           |  FROM byday),
           |m AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(i) AS BIGINT) AS si, CAST(SUM(c) AS BIGINT)
           |      AS sc,
           |    CAST(SUM(i * i) AS BIGINT) AS sii,
           |    CAST(SUM(i * c) AS BIGINT) AS sic
           |  FROM base),
           |ab AS (
           |  SELECT n, si, sc,
           |    (CAST(n AS DOUBLE) * CAST(sic AS DOUBLE)
           |      - CAST(si AS DOUBLE) * CAST(sc AS DOUBLE))
           |    / (CAST(n AS DOUBLE) * CAST(sii AS DOUBLE)
           |      - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)) AS b
           |  FROM m),
           |ab2 AS (
           |  SELECT n, b, (CAST(sc AS DOUBLE) - b * CAST(si AS DOUBLE))
           |    / CAST(n AS DOUBLE) AS a
           |  FROM ab),
           |zs AS (
           |  SELECT base.i, n, a, b,
           |    2.0 * CAST(c AS DOUBLE)
           |      - (a + b * CAST(base.i AS DOUBLE)) AS z
           |  FROM base, ab2),
           |ses AS (
           |  SELECT n, a, b, ($num) / ($den) AS ses
           |  FROM zs WINDOW w AS (ORDER BY i)
           |  QUALIFY i = n)
           |SELECT CAST(h AS BIGINT) AS h,
           |  ROUND(a + b * CAST(n + h AS DOUBLE), 4) AS f_trend,
           |  ROUND(ses, 4) AS f_ses,
           |  ROUND((a + b * CAST(n + h AS DOUBLE) + ses) / 2.0, 4)
           |    AS f_theta
           |FROM ses, (VALUES (1), (2), (3)) hh(h)
           |ORDER BY h""".stripMargin
      }),

    // Monotonic-id completeness audit — the CDC/backfill question
    // "did every row arrive?": per table-key (order, event ids),
    // expected span = max − min + 1 vs distinct ids ⇒ missing count,
    // plus duplicate ids (rows − distinct). ONE aggregate per keyed
    // table (count, min, max, count distinct — all map-side-
    // combinable exact integers); nothing is sorted and no id list is
    // materialized, so the audit is one linear pass at any scale.
    Q("dq_id_gaps",
      (s, d) => {
        def audit(tab: String, df: DataFrame, k: String) = df
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col(k)).as("n_ids"),
            min(col(k)).cast("long").as("id_min"),
            max(col(k)).cast("long").as("id_max"))
          .select(lit(tab).as("table_name"), col("n_rows"), col("n_ids"),
            (col("id_max") - col("id_min") + 1L - col("n_ids"))
              .as("n_missing"),
            (col("n_rows") - col("n_ids")).as("n_duplicate"))
        audit("events", Tables.events(s, d), "event_id")
          .unionByName(audit("orders", Tables.orders(s, d), "o_orderkey"))
          .unionByName(
            audit("documents", Tables.documents(s, d), "doc_id"))
          .orderBy("table_name")
      },
      Some("""SELECT 'documents' AS table_name, COUNT(*) AS n_rows,
             |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_ids,
             |  CAST(MAX(doc_id) - MIN(doc_id) + 1
             |    - COUNT(DISTINCT doc_id) AS BIGINT) AS n_missing,
             |  CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT)
             |    AS n_duplicate
             |FROM documents
             |UNION ALL
             |SELECT 'events', COUNT(*),
             |  CAST(COUNT(DISTINCT event_id) AS BIGINT),
             |  CAST(MAX(event_id) - MIN(event_id) + 1
             |    - COUNT(DISTINCT event_id) AS BIGINT),
             |  CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
             |FROM events
             |UNION ALL
             |SELECT 'orders', COUNT(*),
             |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
             |  CAST(MAX(o_orderkey) - MIN(o_orderkey) + 1
             |    - COUNT(DISTINCT o_orderkey) AS BIGINT),
             |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
             |FROM orders
             |ORDER BY table_name""".stripMargin)),

    // Trend-sensitivity audit: how much does the daily-volume OLS
    // slope move when the 3 most anomalous days (largest |residual|
    // vs the full-series fit, ties → earliest day) are excluded? A
    // large delta means the headline trend is owned by outliers — the
    // robustness check that decides whether ts_theta_forecast's trend
    // leg can be believed. Two exact-integer moment passes over the
    // calendar-bounded series + one rank-3 window; the trimmed refit
    // is leave-k-out, not iterative.
    Q("ts_trend_sensitivity",
      (s, d) => {
        val w = Window.orderBy("day")
        val base = daily(s, d)
          .withColumn("i", row_number().over(w).cast("long"))
        def slopeOf(df: DataFrame) = {
          val m = df.agg(count(lit(1)).as("n"), sum("i").as("si"),
            sum("c").as("sc"), sum(col("i") * col("i")).as("sii"),
            sum(col("i") * col("c")).as("sic"))
          def D(c: String) = col(c).cast("double")
          val nd = col("n").cast("double")
          m.select(((nd * D("sic") - D("si") * D("sc")) /
            (nd * D("sii") - D("si") * D("si"))).as("b"))
        }
        val bAll = slopeOf(base).select(col("b").as("b_all"))
        val resid = base.crossJoin(broadcast(bAll))
          .crossJoin(broadcast(base.agg(count(lit(1)).as("n"),
            sum("i").as("si"), sum("c").as("sc"))))
          .withColumn("a", (col("sc").cast("double") -
            col("b_all") * col("si").cast("double")) /
            col("n").cast("double"))
          .withColumn("adev", abs(col("c").cast("double") -
            (col("a") + col("b_all") * col("i").cast("double"))))
        val wR = Window.orderBy(col("adev").desc, col("day"))
        val kept = resid.withColumn("rk", row_number().over(wR))
          .filter(col("rk") > 3)
          .select("day", "i", "c")
        val bTrim = slopeOf(kept).select(col("b").as("b_trimmed"))
        bAll.crossJoin(broadcast(bTrim))
          .select(round(col("b_all"), 6).as("slope_all"),
            round(col("b_trimmed"), 6).as("slope_trimmed"),
            round(col("b_trimmed") - col("b_all"), 6).as("delta"))
      },
      Some(s"""WITH byday AS ($SQL_DAILY),
              |base AS (
              |  SELECT day, c,
              |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
              |  FROM byday),
              |m AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    CAST(SUM(i) AS BIGINT) AS si,
              |    CAST(SUM(c) AS BIGINT) AS sc,
              |    CAST(SUM(i * i) AS BIGINT) AS sii,
              |    CAST(SUM(i * c) AS BIGINT) AS sic
              |  FROM base),
              |ball AS (
              |  SELECT n, si, sc,
              |    (CAST(n AS DOUBLE) * CAST(sic AS DOUBLE)
              |      - CAST(si AS DOUBLE) * CAST(sc AS DOUBLE))
              |    / (CAST(n AS DOUBLE) * CAST(sii AS DOUBLE)
              |      - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)) AS b_all
              |  FROM m),
              |resid AS (
              |  SELECT day, i, c,
              |    abs(CAST(c AS DOUBLE) - ((CAST(sc AS DOUBLE)
              |        - b_all * CAST(si AS DOUBLE)) / CAST(n AS DOUBLE)
              |      + b_all * CAST(i AS DOUBLE))) AS adev
              |  FROM base, ball),
              |kept AS (
              |  SELECT i, c FROM (SELECT *, ROW_NUMBER() OVER
              |    (ORDER BY adev DESC, day) AS rk FROM resid) x
              |  WHERE rk > 3),
              |m2 AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    CAST(SUM(i) AS BIGINT) AS si,
              |    CAST(SUM(c) AS BIGINT) AS sc,
              |    CAST(SUM(i * i) AS BIGINT) AS sii,
              |    CAST(SUM(i * c) AS BIGINT) AS sic
              |  FROM kept),
              |btrim AS (
              |  SELECT (CAST(n AS DOUBLE) * CAST(sic AS DOUBLE)
              |      - CAST(si AS DOUBLE) * CAST(sc AS DOUBLE))
              |    / (CAST(n AS DOUBLE) * CAST(sii AS DOUBLE)
              |      - CAST(si AS DOUBLE) * CAST(si AS DOUBLE))
              |    AS b_trimmed
              |  FROM m2)
              |SELECT ROUND(b_all, 6) AS slope_all,
              |  ROUND(b_trimmed, 6) AS slope_trimmed,
              |  ROUND(b_trimmed - b_all, 6) AS delta
              |FROM ball, btrim""".stripMargin)),

    // Holdout forecast evaluation — which model earns the forecast?
    // Train on the first 23 days, score the last 7, compare seasonal-
    // naive (f = c_{t−7}, exact integer errors) against the OLS trend
    // (exact train moments, per-day |error| doubles rounded to 9dp
    // and decimal-summed in day order), both scaled by MASE's
    // in-sample naive MAE so the scores are unit-free and
    // cross-series comparable. ts_backtest_snaive scores ONE method
    // in-sample; this is the model-selection harness (one row per
    // method, same exact split on both engines).
    Q("ts_forecast_eval",
      (s, d) => {
        val TRAIN = 23
        val w = Window.orderBy("day")
        val base = daily(s, d)
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("c7", lag("c", 7).over(w))
        val train = base.filter(col("i") <= TRAIN)
        val test = base.filter(col("i") > TRAIN)
        val m = train.agg(count(lit(1)).as("n"), sum("i").as("si"),
          sum("c").as("sc"), sum(col("i") * col("i")).as("sii"),
          sum(col("i") * col("c")).as("sic"))
        def D(c: String) = col(c).cast("double")
        val nd = col("n").cast("double")
        val ab = m.select(
          ((nd * D("sic") - D("si") * D("sc")) /
            (nd * D("sii") - D("si") * D("si"))).as("b"))
          .crossJoin(broadcast(m.select(D("sc").as("scd"),
            D("si").as("sid"), nd.as("nd"))))
          .select(col("b"),
            ((col("scd") - col("b") * col("sid")) / col("nd")).as("a"))
        // in-sample naive MAE (MASE denominator): exact integers
        val denom = train.filter(col("i") > 7)
          .agg(sum(abs(col("c") - col("c7"))).cast("long").as("sad"),
            count(lit(1)).as("nd7"))
        val scored = test.crossJoin(broadcast(ab))
          .withColumn("e_trend", abs(col("c").cast("double") -
            (col("a") + col("b") * col("i").cast("double"))))
        val agg = scored.agg(count(lit(1)).as("n_test"),
          sum("c").cast("long").as("sct"),
          sum(abs(col("c") - col("c7"))).cast("long").as("sad_sn"),
          sum(round(col("e_trend"), 9).cast("decimal(28,9)"))
            .as("sad_tr"))
          .crossJoin(broadcast(denom))
          .withColumn("mase_den",
            col("sad").cast("double") / col("nd7").cast("double"))
        val sn = agg.select(lit("snaive").as("method"),
          round(col("sad_sn").cast("double") /
            col("n_test").cast("double"), 4).as("mae"),
          round(col("sad_sn").cast("double") /
            col("sct").cast("double"), 4).as("wape"),
          round(col("sad_sn").cast("double") /
            col("n_test").cast("double") / col("mase_den"), 4)
            .as("mase"))
        val tr = agg.select(lit("trend").as("method"),
          round(col("sad_tr").cast("double") /
            col("n_test").cast("double"), 4).as("mae"),
          round(col("sad_tr").cast("double") /
            col("sct").cast("double"), 4).as("wape"),
          round(col("sad_tr").cast("double") /
            col("n_test").cast("double") / col("mase_den"), 4)
            .as("mase"))
        sn.unionByName(tr).orderBy("method")
      },
      Some(s"""WITH byday AS ($SQL_DAILY),
              |base AS (
              |  SELECT day, c,
              |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
              |    LAG(c, 7) OVER (ORDER BY day) AS c7
              |  FROM byday),
              |m AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    CAST(SUM(i) AS BIGINT) AS si,
              |    CAST(SUM(c) AS BIGINT) AS sc,
              |    CAST(SUM(i * i) AS BIGINT) AS sii,
              |    CAST(SUM(i * c) AS BIGINT) AS sic
              |  FROM base WHERE i <= 23),
              |ab AS (
              |  SELECT b, (CAST(sc AS DOUBLE) - b * CAST(si AS DOUBLE))
              |      / CAST(n AS DOUBLE) AS a
              |  FROM (SELECT n, si, sc,
              |      (CAST(n AS DOUBLE) * CAST(sic AS DOUBLE)
              |        - CAST(si AS DOUBLE) * CAST(sc AS DOUBLE))
              |      / (CAST(n AS DOUBLE) * CAST(sii AS DOUBLE)
              |        - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)) AS b
              |    FROM m) x),
              |den AS (
              |  SELECT CAST(SUM(abs(c - c7)) AS BIGINT) AS sad,
              |    CAST(COUNT(*) AS BIGINT) AS nd7
              |  FROM base WHERE i > 7 AND i <= 23),
              |agg AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
              |    CAST(SUM(c) AS BIGINT) AS sct,
              |    CAST(SUM(abs(c - c7)) AS BIGINT) AS sad_sn,
              |    SUM(CAST(ROUND(abs(CAST(c AS DOUBLE)
              |      - (a + b * CAST(i AS DOUBLE))), 9)
              |      AS DECIMAL(28,9))) AS sad_tr,
              |    CAST(MAX(sad) AS DOUBLE) / MAX(nd7) AS mase_den
              |  FROM base, ab, den WHERE i > 23)
              |SELECT 'snaive' AS method,
              |  ROUND(CAST(sad_sn AS DOUBLE) / CAST(n_test AS DOUBLE), 4)
              |    AS mae,
              |  ROUND(CAST(sad_sn AS DOUBLE) / CAST(sct AS DOUBLE), 4)
              |    AS wape,
              |  ROUND(CAST(sad_sn AS DOUBLE) / CAST(n_test AS DOUBLE)
              |    / mase_den, 4) AS mase
              |FROM agg
              |UNION ALL
              |SELECT 'trend',
              |  ROUND(CAST(sad_tr AS DOUBLE) / CAST(n_test AS DOUBLE), 4),
              |  ROUND(CAST(sad_tr AS DOUBLE) / CAST(sct AS DOUBLE), 4),
              |  ROUND(CAST(sad_tr AS DOUBLE) / CAST(n_test AS DOUBLE)
              |    / mase_den, 4)
              |FROM agg
              |ORDER BY method""".stripMargin)),

    // Paired SIGN TEST on day-over-day volume changes — the
    // assumption-free floor of the paired-test family (wilcoxon needs
    // symmetric differences; the sign test needs nothing): count
    // up-days vs down-days (ties dropped, per the classical rule),
    // z = (|n_pos − n_neg| − 1)/√m with continuity correction. All
    // EXACT INTEGERS until the final two doubles; one linear rollup +
    // one lag window over the calendar-bounded series.
    Q("stat_sign_test",
      (s, d) => {
        val w = Window.orderBy("day")
        val diffs = daily(s, d)
          .withColumn("prev", lag("c", 1).over(w))
          .filter(col("prev").isNotNull && col("c") =!= col("prev"))
          .withColumn("pos", (col("c") > col("prev")).cast("long"))
        diffs.agg(sum("pos").cast("long").as("n_pos"),
            sum(lit(1L) - col("pos")).cast("long").as("n_neg"))
          .select(col("n_pos"), col("n_neg"),
            round(greatest(abs(col("n_pos") - col("n_neg"))
              .cast("double") - 1.0, lit(0.0)) /
              sqrt((col("n_pos") + col("n_neg")).cast("double")), 4)
              .as("sign_z"))
      },
      Some(s"""WITH byday AS ($SQL_DAILY),
              |d AS (
              |  SELECT c, LAG(c, 1) OVER (ORDER BY day) AS prev
              |  FROM byday),
              |m AS (
              |  SELECT
              |    CAST(SUM(CASE WHEN c > prev THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_pos,
              |    CAST(SUM(CASE WHEN c < prev THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_neg
              |  FROM d WHERE prev IS NOT NULL AND c <> prev)
              |SELECT n_pos, n_neg,
              |  ROUND(GREATEST(CAST(abs(n_pos - n_neg) AS DOUBLE) - 1.0,
              |      0.0)
              |    / sqrt(CAST(n_pos + n_neg AS DOUBLE)), 4) AS sign_z
              |FROM m""".stripMargin)),

    // Tukey MEDIAN POLISH (one row-then-column sweep) of the
    // week × weekday volume matrix — the ROBUST twin of
    // ts_decompose_ma's moving-average decomposition: effects come
    // from observed LOWER MEDIANS (index-picked, ties → earliest
    // day), so everything stays EXACT INTEGER end to end — no float
    // enters at all, the only stats query in the repo that can say
    // that. Weekday index is positional ((i−1) mod 7), sidestepping
    // engine weekday-label conventions. Output: the 7 weekday
    // effects and each column's worst post-polish residual — the
    // "which weekday still misbehaves after seasonality is removed"
    // audit. Two grouped rank windows over the calendar-bounded
    // matrix.
    Q("ts_median_polish",
      (s, d) => {
        val wD = Window.orderBy("day")
        val base = daily(s, d)
          .withColumn("i", row_number().over(wD).cast("long"))
          .withColumn("w", floor((col("i") - 1) / 7.0).cast("long"))
          .withColumn("wd", (col("i") - 1) % 7)
        def lowMed(df: DataFrame, key: String, v: String, out: String) = {
          val wk = Window.partitionBy(key).orderBy(col(v), col("i"))
          df.withColumn("__rn", row_number().over(wk))
            .withColumn("__nk",
              count(lit(1)).over(Window.partitionBy(key)))
            .filter(col("__rn") ===
              floor((col("__nk") + 1) / 2.0).cast("int"))
            .select(col(key), col(v).as(out))
        }
        val rowmed = lowMed(base, "w", "c", "roweff")
        val r1 = base.join(broadcast(rowmed), "w")
          .withColumn("r1", col("c") - col("roweff"))
        val colmed = lowMed(r1, "wd", "r1", "coleff")
        val r2 = r1.join(broadcast(colmed), "wd")
          .withColumn("r2", col("r1") - col("coleff"))
        r2.groupBy("wd")
          .agg(max("coleff").as("weekday_effect"),
            count(lit(1)).as("n_weeks"),
            max(abs(col("r2"))).as("max_abs_resid"))
          .orderBy("wd")
      },
      Some(s"""WITH byday AS ($SQL_DAILY),
              |base AS (
              |  SELECT c,
              |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
              |  FROM byday),
              |bwd AS (
              |  SELECT c, i, (i - 1) // 7 AS w, (i - 1) % 7 AS wd
              |  FROM base),
              |rowmed AS (
              |  SELECT w, c AS roweff FROM (
              |    SELECT w, c, i,
              |      ROW_NUMBER() OVER (PARTITION BY w ORDER BY c, i)
              |        AS rn,
              |      COUNT(*) OVER (PARTITION BY w) AS nk
              |    FROM bwd) x
              |  WHERE rn = CAST(floor((nk + 1) / 2.0) AS INT)),
              |r1 AS (
              |  SELECT bwd.c, bwd.i, bwd.w, bwd.wd,
              |    bwd.c - roweff AS r1
              |  FROM bwd JOIN rowmed USING (w)),
              |colmed AS (
              |  SELECT wd, r1 AS coleff FROM (
              |    SELECT wd, r1, i,
              |      ROW_NUMBER() OVER (PARTITION BY wd ORDER BY r1, i)
              |        AS rn,
              |      COUNT(*) OVER (PARTITION BY wd) AS nk
              |    FROM r1) x
              |  WHERE rn = CAST(floor((nk + 1) / 2.0) AS INT))
              |SELECT r1.wd,
              |  CAST(MAX(coleff) AS BIGINT) AS weekday_effect,
              |  COUNT(*) AS n_weeks,
              |  CAST(MAX(abs(r1.r1 - coleff)) AS BIGINT)
              |    AS max_abs_resid
              |FROM r1 JOIN colmed USING (wd)
              |GROUP BY r1.wd ORDER BY r1.wd""".stripMargin)),

    // Association rules over per-user event-type baskets: for every
    // ordered type pair (a → b), support / confidence / lift from
    // exact user-set counts — the market-basket view of behavior that
    // llm_pmi_cooccur gives for tokens. Baskets are per-user DISTINCT
    // type sets (one aggregate), the pair table is |types|²-bounded
    // (≤ 25 rows here, ≤ a few thousand for any real event taxonomy),
    // and every metric is a ratio of exact BIGINTs evaluated in
    // identical order. Rules with lift > 1 are the cross-sell/
    // funnel-dependency signals.
    Q("stat_assoc_rules",
      (s, d) => {
        val ut = Tables.events(s, d)
          .select(col("user_id"), col("event_type")).distinct()
        val nUsers = ut.select("user_id").distinct().count()
        val tc = ut.groupBy(col("event_type").as("t"))
          .agg(count(lit(1)).as("n"))
        val pair = ut.as("a").join(ut.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") =!= col("b.event_type"))
          .groupBy(col("a.event_type").as("ta"),
            col("b.event_type").as("tb"))
          .agg(count(lit(1)).as("nab"))
        pair
          .join(tc.select(col("t").as("ta"), col("n").as("na")), "ta")
          .join(broadcast(tc.select(col("t").as("tb"),
            col("n").as("nb"))), "tb")
          .select(col("ta"), col("tb"), col("nab"),
            round(col("nab").cast("double") / nUsers.toDouble, 4)
              .as("support"),
            round(col("nab").cast("double") /
              col("na").cast("double"), 4).as("confidence"),
            round(col("nab").cast("double") * nUsers.toDouble /
              (col("na").cast("double") * col("nb").cast("double")), 4)
              .as("lift"))
          .orderBy("ta", "tb")
      },
      Some("""WITH ut AS (
             |  SELECT DISTINCT user_id, event_type FROM events),
             |nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
             |  AS n_users FROM ut),
             |tc AS (SELECT event_type AS t, CAST(COUNT(*) AS BIGINT)
             |  AS n FROM ut GROUP BY 1),
             |pair AS (
             |  SELECT a.event_type AS ta, b.event_type AS tb,
             |    CAST(COUNT(*) AS BIGINT) AS nab
             |  FROM ut a JOIN ut b ON a.user_id = b.user_id
             |    AND a.event_type <> b.event_type
             |  GROUP BY 1, 2)
             |SELECT ta, tb, nab,
             |  ROUND(CAST(nab AS DOUBLE) / CAST(n_users AS DOUBLE), 4)
             |    AS support,
             |  ROUND(CAST(nab AS DOUBLE) / CAST(na.n AS DOUBLE), 4)
             |    AS confidence,
             |  ROUND(CAST(nab AS DOUBLE) * CAST(n_users AS DOUBLE)
             |    / (CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)), 4)
             |    AS lift
             |FROM pair
             |JOIN tc na ON na.t = ta
             |JOIN tc nb ON nb.t = tb, nu
             |ORDER BY ta, tb""".stripMargin)),

    // Ingest-coverage SLA per event type: what share of the GLOBAL
    // hour span does each type actually cover, and what is its worst
    // internal silence (max gap between consecutive active hours)?
    // dq_freshness_lag watches the stream's HEAD; this watches its
    // BODY — the "feed went quiet for 9 hours last Tuesday" pager.
    // One hour-level rollup (exact integer hour ids via unix div),
    // one per-type lag window over the hour-bounded activity table;
    // coverage and gaps are pure BIGINT arithmetic.
    Q("dq_coverage_sla",
      (s, d) => {
        val hrs = Tables.events(s, d)
          .select(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("h"))
          .distinct()
        val span = hrs.agg(min("h").as("h0"), max("h").as("h1"))
        val w = Window.partitionBy("event_type").orderBy("h")
        hrs.withColumn("gap", col("h") - lag("h", 1).over(w))
          .groupBy("event_type")
          .agg(count(lit(1)).as("active_hours"),
            max("gap").as("max_gap_hours"))
          .crossJoin(broadcast(span))
          .select(col("event_type"), col("active_hours"),
            (col("h1") - col("h0") + 1L).as("span_hours"),
            round(col("active_hours").cast("double") /
              (col("h1") - col("h0") + 1L).cast("double"), 4)
              .as("coverage"),
            coalesce(col("max_gap_hours"), lit(1L)).as("max_gap_hours"))
          .orderBy("event_type")
      },
      Some("""WITH hrs AS (
             |  SELECT DISTINCT event_type,
             |    epoch_us(ts) // 3600000000 AS h
             |  FROM events),
             |span AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hrs),
             |g AS (
             |  SELECT event_type, h,
             |    h - LAG(h, 1) OVER (PARTITION BY event_type
             |      ORDER BY h) AS gap
             |  FROM hrs)
             |SELECT event_type,
             |  CAST(COUNT(*) AS BIGINT) AS active_hours,
             |  CAST(h1 - h0 + 1 AS BIGINT) AS span_hours,
             |  ROUND(CAST(COUNT(*) AS DOUBLE)
             |    / CAST(h1 - h0 + 1 AS DOUBLE), 4) AS coverage,
             |  CAST(COALESCE(MAX(gap), 1) AS BIGINT) AS max_gap_hours
             |FROM g, span
             |GROUP BY event_type, h0, h1
             |ORDER BY event_type""".stripMargin))
  )
}
