package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Pins, TextAnalysis}
import Fixtures._

/** Event, time-series and model analytics: funnels, retention,
  * forecasting, regression, sketches, and mixing/packing of training
  * data. */
object AnalyticsGates {

  /** Oracle of the two time-constrained funnel forms (fold and
    * relational min-chain): view → click within 1 day → purchase within
    * 1 day, as a min-timestamp chain per stage. */
  private val funnelOracle: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS tv FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS tc FROM events e
      |  JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.tv
      |    AND e.ts <= v.tv + INTERVAL 1 DAY GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS tp FROM events e
      |  JOIN c ON c.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.tc
      |    AND e.ts <= c.tc + INTERVAL 1 DAY GROUP BY 1)
      |SELECT stage, n FROM (
      |  SELECT 'step1_view' AS stage, (SELECT count(*) FROM v) AS n
      |  UNION ALL
      |  SELECT 'step2_click', (SELECT count(*) FROM c)
      |  UNION ALL
      |  SELECT 'step3_purchase', (SELECT count(*) FROM p))
      |ORDER BY stage""".stripMargin

  /** The Holt-trend gates' forecasts: level and trend recurrences
    * (gains 1/4 and 1/8) over the first 40 users' values in micros. */
  private def holtForecasts(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.holtTrend(
      Tables.events(s, dir).filter(col("user_id") < 40),
      "user_id", "ts", "event_id",
      expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)"),
      kLevel = 4, kTrend = 8)

  /** SQL twin of [[holtForecasts]] as recursive CTEs: the ordered
    * values `e` and the replayed level `l`, trend `b` and one-step
    * forecast `f` per event in `r`. */
  private val holtSql: String =
    """e AS (
      |  SELECT user_id, event_id,
      |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS x,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events WHERE user_id < 40),
      |r AS (
      |  SELECT user_id, event_id, x, rn,
      |    x AS l, CAST(0 AS BIGINT) AS b, CAST(NULL AS BIGINT) AS f
      |  FROM e WHERE rn = 1
      |  UNION ALL
      |  SELECT n.user_id, n.event_id, n.x, n.rn,
      |    (n.x + 3 * (r.l + r.b)) // 4,
      |    (((n.x + 3 * (r.l + r.b)) // 4 - r.l) + 7 * r.b) // 8,
      |    r.l + r.b
      |  FROM r JOIN e n ON n.user_id = r.user_id AND n.rn = r.rn + 1)""".stripMargin

  /** The per-return-flag OLS sums of price cents `y` on quantity `x`
    * that both lineitem regressions replay, as CTEs `b`, `s`, `d`. */
  private val olsSumsSql: String =
    """b AS (
      |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
      |    CAST(l_quantity AS BIGINT) AS x
      |  FROM lineitem),
      |s AS (SELECT l_returnflag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |        sum(x*x) AS sxx, sum(x*y) AS sxy FROM b GROUP BY 1),
      |d AS (SELECT l_returnflag, n, n*sxx - sx*sx AS den, n*sxy - sx*sy AS num,
      |        sx, sy FROM s)""".stripMargin

  val all: Seq[Gate] = Seq(

    // Exact Pearson correlation census: r² in trunc-micros + covariance
    // sign for four lineitem measure pairs (three natural near-zero
    // ones plus a planted 3q+d linear combination that pins the high
    // branch at r² ≈ 0.9955), from one-pass integer
    // sufficient statistics in DECIMAL(38,0) / HUGEINT — no sqrt or
    // double anywhere (r itself needs √; r² + sign carries the same
    // decision information exactly). Quantities floor to integers,
    // price to whole dollars, discount to basis points; the two-step
    // trunc-div (÷larger variance first) is shape-shared with the
    // oracle so the truncation composition cannot diverge.
    Gate("ml_pearson_r2", (s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        expr("CAST(floor(l_quantity) AS BIGINT)").as("q"),
        expr("CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2))) AS BIGINT)")
          .as("p"),
        expr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("d"))
        .withColumn("pl", expr("3 * q + d"))
      def pair(tag: String, x: String, y: String) =
        graft.ops.Regress.pearsonR2(li, col(x), col(y)).withColumn("pair", lit(tag))
      pair("qty_price", "q", "p")
        .unionByName(pair("qty_disc", "q", "d"))
        .unionByName(pair("price_disc", "p", "d"))
        .unionByName(pair("planted_linear", "q", "pl"))
        .select("pair", "n", "r_sign", "r2_micro")
        .orderBy("pair")
    },
      """WITH li AS (
        |  SELECT CAST(floor(l_quantity) AS BIGINT) AS q,
        |    CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2))) AS BIGINT) AS p,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS d
        |  FROM lineitem),
        |li2 AS (SELECT q, p, d, 3 * q + d AS pl FROM li),
        |s AS (
        |  SELECT 'qty_price' AS pair, count(*) AS n,
        |    sum(CAST(q AS HUGEINT)) AS sx, sum(CAST(p AS HUGEINT)) AS sy,
        |    sum(CAST(q AS HUGEINT) * q) AS sxx,
        |    sum(CAST(p AS HUGEINT) * p) AS syy,
        |    sum(CAST(q AS HUGEINT) * p) AS sxy
        |  FROM li
        |  UNION ALL
        |  SELECT 'qty_disc', count(*), sum(CAST(q AS HUGEINT)),
        |    sum(CAST(d AS HUGEINT)), sum(CAST(q AS HUGEINT) * q),
        |    sum(CAST(d AS HUGEINT) * d), sum(CAST(q AS HUGEINT) * d)
        |  FROM li
        |  UNION ALL
        |  SELECT 'price_disc', count(*), sum(CAST(p AS HUGEINT)),
        |    sum(CAST(d AS HUGEINT)), sum(CAST(p AS HUGEINT) * p),
        |    sum(CAST(d AS HUGEINT) * d), sum(CAST(p AS HUGEINT) * d)
        |  FROM li
        |  UNION ALL
        |  SELECT 'planted_linear', count(*), sum(CAST(q AS HUGEINT)),
        |    sum(CAST(pl AS HUGEINT)), sum(CAST(q AS HUGEINT) * q),
        |    sum(CAST(pl AS HUGEINT) * pl), sum(CAST(q AS HUGEINT) * pl)
        |  FROM li2),
        |f AS (
        |  SELECT pair, n,
        |    CAST(n AS HUGEINT) * sxy - sx * sy AS num,
        |    CAST(n AS HUGEINT) * sxx - sx * sx AS d1,
        |    CAST(n AS HUGEINT) * syy - sy * sy AS d2
        |  FROM s)
        |SELECT pair, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
        |    AS BIGINT) AS r_sign,
        |  CAST(CASE WHEN d1 > 0 AND d2 > 0
        |    THEN ((num * num // greatest(d1, d2)) * 1000000) // least(d1, d2)
        |    ELSE 0 END AS BIGINT) AS r2_micro
        |FROM f ORDER BY pair""".stripMargin),

    // A/B significance: pooled two-proportion z-test decided by EXACT
    // cross-multiplied integer inequality (DECIMAL(38,0) internal,
    // HUGEINT oracle-side — `significant` is a REAL data column both
    // engines derive from the same integers, not a pinned verdict).
    // Two planted experiments per event_type: cohort = user parity;
    // 'planted_bias' success (user_id%4==0) is cohort-determined
    // (A≈50%, B=0% → reject), 'value_neutral' success (value>50) is
    // cohort-independent (null at α=0.05) — both decision branches
    // populated at every SF.
    Gate("ab_test_proportions", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("value"))
      def run(tag: String, success: org.apache.spark.sql.Column) =
        graft.ops.Eval.twoProportionTest(
          ev.withColumn("experiment", lit(tag)),
          Seq("experiment", "event_type"),
          pmod(col("user_id"), lit(2)) === 0, success)
      run("planted_bias", pmod(col("user_id"), lit(4)) === 0)
        .unionByName(run("value_neutral", col("value") > 50.0))
        .orderBy("experiment", "event_type")
    },
      // HUGEINT replay of the exact cross-multiplied z² inequality —
      // `significant` is recomputed from the same integer counts, not
      // pinned.
      """WITH base AS (
        |  SELECT 'planted_bias' AS experiment, event_type,
        |    (user_id % 2 = 0) AS a, (user_id % 4 = 0) AS s FROM events
        |  UNION ALL
        |  SELECT 'value_neutral', event_type,
        |    (user_id % 2 = 0), (value > 50.0) FROM events),
        |agg AS (
        |  SELECT experiment, event_type,
        |    count(*) FILTER (WHERE a) AS n_a,
        |    count(*) FILTER (WHERE a AND s) AS x_a,
        |    count(*) FILTER (WHERE NOT a) AS n_b,
        |    count(*) FILTER (WHERE NOT a AND s) AS x_b
        |  FROM base GROUP BY 1, 2),
        |f AS (
        |  SELECT *,
        |    CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a AS diff,
        |    CAST(n_a AS HUGEINT) + n_b AS n,
        |    CAST(x_a AS HUGEINT) + x_b AS x
        |  FROM agg)
        |SELECT experiment, event_type, n_a, x_a, n_b, x_b,
        |  (x_a * 1000000) // greatest(n_a, 1) AS p_a_micro,
        |  (x_b * 1000000) // greatest(n_b, 1) AS p_b_micro,
        |  (n_a > 0 AND n_b > 0 AND
        |   1000000 * diff * diff * n >
        |     3841459 * CAST(n_a AS HUGEINT) * n_b * x * (n - x)) AS significant
        |FROM f ORDER BY experiment, event_type""".stripMargin),

    // ML — one-pass OLS TRAINING via exact integer sufficient
    // statistics + in-query Cramer solve (ops/Regress.scala): fit
    // extendedprice-cents ~ quantity + discount-bps on one corpus
    // scan. b1 recovers ~unit-price·100, b2 hovers near 0 (the fixture
    // prices don't depend on discount) — and may land NEGATIVE, which
    // is exactly the floor-vs-truncate division edge the floorMicros
    // helper exists for.
    Gate("ml_ols_fit", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      graft.ops.Regress.olsFit2(li,
        round(col("l_extendedprice") * 100),
        col("l_quantity"),
        round(col("l_discount") * 100))
    },
      // HUGEINT sums keep every Cramer term exact (ceiling 1.7e38, same
      // envelope as Spark's decimal(38,0) internals); `//` truncates like
      // the Spark side's div.
      """WITH b AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
        |    CAST(l_quantity AS BIGINT) AS x1,
        |    CAST(round(l_discount * 100) AS BIGINT) AS x2
        |  FROM lineitem),
        |s AS (SELECT count(*) AS n, sum(x1) AS s1, sum(x2) AS s2,
        |        sum(x1*x1) AS s11, sum(x2*x2) AS s22, sum(x1*x2) AS s12,
        |        sum(y) AS sy, sum(x1*y) AS s1y, sum(x2*y) AS s2y
        |      FROM b),
        |d AS (SELECT n,
        |        n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
        |        sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS b0n,
        |        n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS b1n,
        |        n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS b2n
        |      FROM s)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN det != 0 THEN CAST((b0n * 1000000) // det AS BIGINT) END AS b0_micros,
        |  CASE WHEN det != 0 THEN CAST((b1n * 1000000) // det AS BIGINT) END AS b1_micros,
        |  CASE WHEN det != 0 THEN CAST((b2n * 1000000) // det AS BIGINT) END AS b2_micros
        |FROM d""".stripMargin),

    // ML — the one-regressor form (2×2 normal equations).
    Gate("ml_ols_simple", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      graft.ops.Regress.olsFit1(li,
        round(col("l_extendedprice") * 100),
        col("l_quantity"))
    },
      """WITH b AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
        |    CAST(l_quantity AS BIGINT) AS x
        |  FROM lineitem),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |        sum(x*x) AS sxx, sum(x*y) AS sxy FROM b),
        |d AS (SELECT n, n*sxx - sx*sx AS den, n*sxy - sx*sy AS num, sx, sy FROM s)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN den != 0 THEN
        |    CAST(((sy*den - num*sx) * 1000000) // (n*den) AS BIGINT) END AS b0_micros,
        |  CASE WHEN den != 0 THEN CAST((num * 1000000) // den AS BIGINT) END AS b1_micros
        |FROM d""".stripMargin),

    // ML — Spearman rank correlation (Regress.spearman) between a
    // user's event count and spend, exact half-rank integers (average
    // tie ranks as rank2 = 2b+c+1) through value-grain prefix sums —
    // the row-level rank window never exists. num/d1/d2 and the
    // Σrank2 = n(n+1) invariants are exact BIGINTs the oracle
    // recomputes; r_micro is the one shared-shape double chain.
    Gate("ml_spearman_rank", (s, dir) => {
      val u = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("x"),
          sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
            .as("y"))
      graft.ops.Regress.spearman(u, "x", "y")
    },
      // Same half-rank construction (2·below + ties + 1) via an ordered
      // cumulative sum; the final double chain shares the Spark shape
      // term for term.
      """WITH u AS (
        |  SELECT user_id, count(*) AS x,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y
        |  FROM events GROUP BY 1),
        |gx AS (SELECT x AS v, count(*) AS cnt FROM u GROUP BY 1),
        |rx AS (SELECT v, 2 * (sum(cnt) OVER (ORDER BY v) - cnt) + cnt + 1 AS ra
        |       FROM gx),
        |gy AS (SELECT y AS v, count(*) AS cnt FROM u GROUP BY 1),
        |ry AS (SELECT v, 2 * (sum(cnt) OVER (ORDER BY v) - cnt) + cnt + 1 AS rb
        |       FROM gy),
        |j AS (SELECT ra, rb FROM u
        |      JOIN rx ON u.x = rx.v JOIN ry ON u.y = ry.v),
        |s AS (SELECT count(*) AS n, sum(ra) AS sa, sum(rb) AS sb,
        |      sum(ra * rb) AS sab, sum(ra * ra) AS saa, sum(rb * rb) AS sbb
        |      FROM j)
        |SELECT CAST(n AS BIGINT) AS n, CAST(sa AS BIGINT) AS sum_rank2_x,
        |  CAST(sb AS BIGINT) AS sum_rank2_y,
        |  CAST(n * sab - sa * sb AS BIGINT) AS num,
        |  CAST(n * saa - sa * sa AS BIGINT) AS d1,
        |  CAST(n * sbb - sb * sb AS BIGINT) AS d2,
        |  CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
        |    CAST(floor(1000000.0 * CAST(n * sab - sa * sb AS DOUBLE) /
        |      sqrt(CAST(n * saa - sa * sa AS DOUBLE) *
        |           CAST(n * sbb - sb * sb AS DOUBLE))) AS BIGINT)
        |  END AS r_micro
        |FROM s""".stripMargin),

    // ML — per-group fits: one hash agg at group cardinality, one scan
    // for every segment's own trend line.
    // Model-debug drill-down under the grouped OLS: the 3 worst
    // residuals per group, computed from the SAME truncated
    // coefficients both engines emit (so the residual is exactly
    // y·10⁶ − (b0 + b1·x) in micros — no independent fit, no float).
    // A keyed window with a total tie order; emitted-column ties are
    // interchangeable rows.
    Gate("ml_ols_residuals", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // two full passes (fit agg + residual window) over the single-
      // split fact scan ran SERIALLY on one core (r16 JobProf, now
      // `Probe jobs`: two ~1-1.2 s single-task jobs of a 3 s query);
      // spread the scan
      // (conf-gated, identity on multi-split inputs), project to the
      // three consumed columns (guide §2.3), and freeze so the second
      // pass reads executor-resident blocks instead of re-scanning.
      val li = Tables.spreadTable(s, dir, "lineitem", Tables.lineitem(s, dir))
        .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
        .transform(Pins.freeze)
      val coef = graft.ops.Regress.olsFit1Grouped(li, "l_returnflag",
        round(col("l_extendedprice") * 100), col("l_quantity"))
      val base = li.select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("y_cents"),
        col("l_quantity").cast("long").as("x_qty"))
      val r = base.join(broadcast(coef), "l_returnflag")
        .withColumn("resid_micro", col("y_cents") * 1000000L -
          (col("b0_micros") + col("b1_micros") * col("x_qty")))
      // Examined for the 3-partition-window hazard and deliberately
      // KEPT as a single window (r15 optimization round): Spark's
      // rank-limit pushdown (WindowGroupLimit) already bounds each
      // partition to the top 3 map-side before the exchange and sort,
      // so a two-level salted top-k rewrite only added an exchange —
      // measured 1.22× WORSE in an interleaved before/after A/B.
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(abs(col("resid_micro")).desc, col("resid_micro").asc,
          col("y_cents").asc, col("x_qty").asc)
      r.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select("l_returnflag", "rk", "y_cents", "x_qty", "resid_micro")
        .orderBy("l_returnflag", "rk")
    },
      s"""WITH $olsSumsSql,
        |coef AS (
        |  SELECT l_returnflag,
        |    CAST(((sy*den - num*sx) * 1000000) // (n*den) AS BIGINT) AS b0,
        |    CAST((num * 1000000) // den AS BIGINT) AS b1
        |  FROM d WHERE den != 0),
        |r AS (
        |  SELECT b.l_returnflag, b.y AS y_cents, b.x AS x_qty,
        |    b.y * 1000000 - (c.b0 + c.b1 * b.x) AS resid_micro
        |  FROM b JOIN coef c ON c.l_returnflag = b.l_returnflag),
        |k AS (
        |  SELECT l_returnflag, y_cents, x_qty, resid_micro,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY abs(resid_micro) DESC, resid_micro ASC,
        |        y_cents ASC, x_qty ASC) AS rk
        |  FROM r)
        |SELECT l_returnflag, rk, y_cents, x_qty,
        |  CAST(resid_micro AS BIGINT) AS resid_micro
        |FROM k WHERE rk <= 3 ORDER BY l_returnflag, rk""".stripMargin),

    Gate("ml_ols_by_group", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      graft.ops.Regress.olsFit1Grouped(li, "l_returnflag",
          round(col("l_extendedprice") * 100),
          col("l_quantity"))
        .orderBy("l_returnflag")
    },
      s"""WITH $olsSumsSql
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN den != 0 THEN
        |    CAST(((sy*den - num*sx) * 1000000) // (n*den) AS BIGINT) END AS b0_micros,
        |  CASE WHEN den != 0 THEN CAST((num * 1000000) // den AS BIGINT) END AS b1_micros
        |FROM d ORDER BY l_returnflag""".stripMargin),

    // Time series — OHLC downsample per (user, hour): open/close via
    // min_by/max_by over (ts, event_id) — deterministic under ties, no
    // window sort; high/low are raw values so doubles pass bit-exact.
    Gate("ts_ohlc_hourly", (s, dir) => {
      graft.ops.TimeSeries.ohlcResample(Tables.events(s, dir),
          "user_id", "ts", "value", "event_id", "hour")
        .orderBy("user_id", "bucket")
    },
      """WITH r AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |      ORDER BY ts ASC, event_id ASC) AS rno,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rnc
        |  FROM events),
        |oc AS (SELECT user_id, bucket,
        |         max(CASE WHEN rno = 1 THEN value END) AS open,
        |         max(value) AS high, min(value) AS low,
        |         max(CASE WHEN rnc = 1 THEN value END) AS close,
        |         count(*) AS n
        |       FROM r GROUP BY 1, 2)
        |SELECT user_id, CAST(bucket AS TIMESTAMP) AS bucket, open, high, low,
        |  close, CAST(n AS BIGINT) AS n
        |FROM oc ORDER BY user_id, bucket""".stripMargin),

    // Rolling 7-day distinct users (the WAU curve) — the one rolling
    // metric a window frame cannot express (distinct doesn't decompose
    // over frames): daily-grain dedup, ×7 narrow window-end expansion,
    // one keyed distinct count. Ramp-out tail windows included by
    // documented contract.
    Gate("events_rolling_wau", (s, dir) => {
      graft.ops.Reagg.rollingDistinct(Tables.events(s, dir), "ts", "user_id",
          days = 7)
        .orderBy("window_end")
    },
      """WITH daily AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |ex AS (
        |  SELECT CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
        |      CAST(d AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY))
        |    AS DATE) AS window_end, user_id
        |  FROM daily)
        |SELECT window_end, CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |FROM ex GROUP BY 1 ORDER BY 1""".stripMargin),

    // Batch sessionization (gaps-and-islands op) — the at-rest twin of
    // the streaming session window, for backfills over stored corpora.
    // Keyed windows only: each task sorts one user's events, never the
    // corpus. Same oracle semantics as stream_sessionize.
    Gate("batch_sessionize", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      graft.ops.TimeSeries.sessionize(ev, "user_id", "ts", 1800L, Seq("event_id"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("session_start"),
          (max(col("ts")) + expr("INTERVAL 30 MINUTE")).as("session_end"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
        .drop("session_id")
        .orderBy("user_id", "session_start")
    },
      sessionsOracle),

    // Engine-NATIVE sessionization (session_window in batch GROUP BY)
    // — shares batch_sessionize's gaps-and-islands twin. The two forms
    // differ ONLY at an exact diff == gap boundary (native merges,
    // islands splits — measured, pinned in TimeSeriesSpec); the
    // fixture's microsecond timestamps never land there, so the shared
    // hash certifies agreement on every boundary this data has.
    Gate("batch_session_window", (s, dir) => {
      graft.ops.TimeSeries.sessionWindowAgg(
          Tables.events(s, dir), "user_id", "ts", "value", gapMinutes = 30)
        .orderBy("user_id", "session_start")
    },
      sessionsOracle),

    // Funnel analysis over the event stream: first view → first click
    // AFTER that view → first purchase AFTER that click, per user;
    // stage counts are the funnel. Funnel in ONE pass: per-user events (3 relevant types only)
    // collected time-sorted, then a native `aggregate` fold walks the
    // history carrying (t_view, t_click, t_purchase) — first view,
    // first click strictly after it, first purchase strictly after
    // that. One scan + one shuffle on user_id; per-user state bounded
    // by that user's own event count (the sessionize bound). The
    // join-per-stage form this replaced broadcast a USER-CARDINALITY
    // frontier per stage — unboundable at corpus scale — and scanned
    // the fact once per stage besides.
    // Time-CONSTRAINED funnel: each stage must land within 1 DAY of
    // the previous one — the form real conversion funnels use (an
    // unconstrained funnel credits a purchase three weeks after the
    // click; a 1-hour window on this sparse fixture converted nobody,
    // measured). Same one-pass sorted fold as the unconstrained gate;
    // greedy-first semantics make the min-based SQL replay exact
    // (first qualifying event in time order IS the min qualifying
    // timestamp).
    Gate("events_funnel_windowed", (s, dir) => {
      val stages = Seq("view", "click", "purchase")
      val nullTs = lit(null).cast("timestamp")
      val hour = expr("INTERVAL 1 DAY")
      val folded = Tables.events(s, dir)
        .filter(col("event_type").isin(stages: _*))
        .select(col("user_id"), col("event_type"), col("ts"))
        .groupBy(col("user_id"))
        .agg(array_sort(collect_list(struct(col("ts"), col("event_type")))).as("_evs"))
        .select(col("user_id"), aggregate(col("_evs"),
          struct(nullTs.as("tv"), nullTs.as("tc"), nullTs.as("tp")),
          (acc, e) => struct(
            when(acc("tv").isNull && e("event_type") === "view", e("ts"))
              .otherwise(acc("tv")).as("tv"),
            when(acc("tc").isNull && acc("tv").isNotNull &&
              e("event_type") === "click" && e("ts") > acc("tv") &&
              e("ts") <= acc("tv") + hour, e("ts"))
              .otherwise(acc("tc")).as("tc"),
            when(acc("tp").isNull && acc("tc").isNotNull &&
              e("event_type") === "purchase" && e("ts") > acc("tc") &&
              e("ts") <= acc("tc") + hour, e("ts"))
              .otherwise(acc("tp")).as("tp"))).as("s"))
      folded.agg(
          count(col("s.tv")).as("n_view"),
          count(col("s.tc")).as("n_click"),
          count(col("s.tp")).as("n_purchase"))
        .select(explode(map(
          lit("step1_view"), col("n_view"),
          lit("step2_click"), col("n_click"),
          lit("step3_purchase"), col("n_purchase"))).as(Seq("stage", "n")))
        .orderBy("stage")
    },
      funnelOracle),

    // Survival/hazard census over PURCHASE tenure (purchase spans
    // spread 0–30 days on this fixture where all-event spans collapse
    // to the full month): per tenure-span day,
    // users still at risk (observed that long) vs users whose LAST
    // activity fell on that day, hazard = churn·1e6 div at_risk —
    // the discrete-time table under every retention curve. Censoring
    // simplification documented: last observed event = churn (all
    // users share the observation window). Span grain is calendar-
    // bounded (~31 rows), so the one cumulative window runs on the
    // collapsed frame.
    Gate("events_survival_hazard", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val spans = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("CAST(datediff(to_date(ts), DATE'1970-01-01') AS BIGINT)")
            .as("day"))
        .groupBy("user_id")
        .agg((max(col("day")) - min(col("day"))).as("span"))
        .groupBy("span").agg(count(lit(1)).as("n_churned"))
      val w = Window.orderBy(col("span").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spans.withColumn("n_at_risk", sum(col("n_churned")).over(w))
        .withColumn("hazard_micro",
          expr("(n_churned * 1000000) div n_at_risk"))
        .select("span", "n_at_risk", "n_churned", "hazard_micro")
        .orderBy("span")
    },
      """WITH u AS (
        |  SELECT user_id,
        |    max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |      - min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |      AS span
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |sp AS (SELECT span, count(*) AS n_churned FROM u GROUP BY 1),
        |r AS (
        |  SELECT span, n_churned,
        |    sum(n_churned) OVER (ORDER BY span DESC
        |      ROWS UNBOUNDED PRECEDING) AS n_at_risk
        |  FROM sp)
        |SELECT CAST(span AS BIGINT) AS span,
        |  CAST(n_at_risk AS BIGINT) AS n_at_risk, n_churned,
        |  CAST((n_churned * 1000000) // n_at_risk AS BIGINT) AS hazard_micro
        |FROM r ORDER BY span""".stripMargin),

    // The funnel's SCALE form: relational min-chain (one filtered min
    // agg + user-keyed join per stage — all codegen'd, no per-event
    // struct allocation). Hash-matched to the identical oracle as the
    // HOF-fold twin above; the round-9 TS probe measured 0.44 s warm at
    // 5M events vs the fold's 1.63 s (and the fold's per-event garbage
    // was the source of the probe's pre-GC-isolation 23 s outlier).
    Gate("events_funnel_relational", (s, dir) => {
      graft.ops.Reagg.funnelMinChain(Tables.events(s, dir), "user_id",
          "event_type", "ts", Seq("view", "click", "purchase"),
          expr("INTERVAL 1 DAY"))
        .orderBy("stage")
    },
      // same relational replay as the fold twin — the two Spark forms and
      // this SQL must agree three ways
      funnelOracle),

    Gate("events_funnel_stages", (s, dir) => {
      val stages = Seq("view", "click", "purchase")
      val nullTs = lit(null).cast("timestamp")
      val folded = Tables.events(s, dir)
        .filter(col("event_type").isin(stages: _*))
        .select(col("user_id"), col("event_type"), col("ts"))
        .groupBy(col("user_id"))
        .agg(array_sort(collect_list(struct(col("ts"), col("event_type")))).as("_evs"))
        .select(col("user_id"), aggregate(col("_evs"),
          struct(nullTs.as("tv"), nullTs.as("tc"), nullTs.as("tp")),
          (acc, e) => struct(
            when(acc("tv").isNull && e("event_type") === "view", e("ts"))
              .otherwise(acc("tv")).as("tv"),
            when(acc("tc").isNull && acc("tv").isNotNull &&
              e("event_type") === "click" && e("ts") > acc("tv"), e("ts"))
              .otherwise(acc("tc")).as("tc"),
            when(acc("tp").isNull && acc("tc").isNotNull &&
              e("event_type") === "purchase" && e("ts") > acc("tc"), e("ts"))
              .otherwise(acc("tp")).as("tp"))).as("s"))
      folded.agg(
          count(col("s.tv")).as("n_view"),
          count(col("s.tc")).as("n_click"),
          count(col("s.tp")).as("n_purchase"))
        .select(explode(map(
          lit("step1_view"), col("n_view"),
          lit("step2_click"), col("n_click"),
          lit("step3_purchase"), col("n_purchase"))).as(Seq("stage", "n")))
        .orderBy("stage")
    },
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |  JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |  JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT 'step1_view' AS stage, count(*) AS n FROM v
        |UNION ALL SELECT 'step2_click', count(*) FROM c
        |UNION ALL SELECT 'step3_purchase', count(*) FROM p
        |ORDER BY stage""".stripMargin),

    // Sequential-pattern analysis (ops.SeqPattern) — each user's full
    // history folded to a time-ordered symbol string (one char per
    // event, total order via the (ts, event_id) tie-break), then
    // pattern questions asked as exact string arithmetic: adjacent-
    // motif counts by literal replace-length (no regex dialect surface
    // at all), ordered-subsequence reachability (s.*c.*p — the funnel
    // generalized to any motif), first-occurrence positions. One
    // shuffle on user_id; every per-user cell hash-matches the
    // oracle's string_agg replay.
    Gate("events_seq_patterns", (s, dir) => {
      val seqs = graft.ops.SeqPattern.sequenceStrings(
        Tables.events(s, dir).select(col("user_id"), col("ts"),
          col("event_id"), substring(col("event_type"), 1, 1).as("sym")),
        "user_id", Seq(col("ts"), col("event_id")), col("sym"))
      seqs.select(col("user_id"),
          length(col("seq")).cast("long").as("seq_len"),
          graft.ops.SeqPattern.motifCount(col("seq"), "cp").as("n_cp_adjacent"),
          graft.ops.SeqPattern.motifCount(col("seq"), "vv").as("n_vv_runs"),
          graft.ops.SeqPattern.containsSubsequence(col("seq"), "scp")
            .as("has_s_c_p"),
          instr(col("seq"), "p").cast("long").as("first_p_pos"))
        .orderBy("user_id")
    },
      // Ordered string_agg replays the fold; motif counts replay as the
      // same literal replace-length arithmetic.
      """WITH sq AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id)
        |SELECT user_id, CAST(length(seq) AS BIGINT) AS seq_len,
        |  CAST((length(seq) - length(replace(seq, 'cp', ''))) // 2 AS BIGINT)
        |    AS n_cp_adjacent,
        |  CAST((length(seq) - length(replace(seq, 'vv', ''))) // 2 AS BIGINT)
        |    AS n_vv_runs,
        |  regexp_matches(seq, 's.*c.*p') AS has_s_c_p,
        |  CAST(strpos(seq, 'p') AS BIGINT) AS first_p_pos
        |FROM sq ORDER BY user_id""".stripMargin),

    // First-order Markov transition matrix over per-user event streams:
    // adjacent (from, to) state pairs in (ts, event_id) total order,
    // counts + row-conditional P(to|from) as exact trunc-micros. The
    // lead window is USER-keyed (never an unpartitioned sort); the
    // matrix is |states|² at most. Oracle replays the same lead window
    // in DuckDB — a cross-user bleed (one user's last event pairing
    // with the next user's first) would flip counts immediately.
    Gate("events_markov_transitions", (s, dir) => {
      graft.ops.SeqPattern.markovTransitions(
          Tables.events(s, dir).select(col("user_id"), col("ts"),
            col("event_id"), col("event_type")),
          "user_id", Seq(col("ts"), col("event_id")), col("event_type"))
        .orderBy("from_state", "to_state")
    },
      // Same lead window (user-keyed, (ts, event_id) total order); the
      // conditional probability replays as the identical BIGINT
      // trunc-div over the row total.
      """WITH pairs AS (
        |  SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_state
        |  FROM events),
        |c AS (
        |  SELECT from_state, to_state, count(*) AS n FROM pairs
        |  WHERE to_state IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_state, sum(n) AS row_total FROM c GROUP BY 1)
        |SELECT c.from_state, c.to_state, c.n,
        |  CAST((c.n * 1000000) // t.row_total AS BIGINT) AS p_micro
        |FROM c JOIN t USING (from_state)
        |ORDER BY from_state, to_state""".stripMargin),

    // Cohort retention: users grouped by first-activity week; for each
    // (cohort week, week offset) the count of distinct active users.
    // Week arithmetic stays in epoch seconds of week-truncated
    // timestamps, so offsets are exact integers in both engines.
    Gate("events_cohort_retention", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
      val cohort = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val active = ev.select(col("user_id"), date_trunc("week", col("ts")).as("wk")).distinct()
      // NO broadcast hint: cohort is one row per USER — row-scale, not a
      // dimension. Both sides key on user_id and shuffle once; AQE still
      // picks broadcast when the actual size is small.
      active.join(cohort, Seq("user_id"))
        .withColumn("week_offset",
          ((unix_timestamp(col("wk")) - unix_timestamp(col("cohort_week"))) / 604800L).cast("long"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },
      """WITH f AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS cohort_week
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS wk
        |  FROM events)
        |SELECT f.cohort_week,
        |  CAST((epoch(a.wk) - epoch(f.cohort_week)) / 604800 AS BIGINT) AS week_offset,
        |  count(*) AS n_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Fractional-epoch mixture replication: each source gets 0.4 / 1.5
    // / 2.3 epochs; the fractional copy is decided by an exact
    // integer-basis draw (doc_id mod 100), so the expansion is
    // deterministic across engines and partitionings.
    Gate("mix_epoch_replicate", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val srcNum = substring(col("source"), 4, 10).cast("int")
      val fBasis = when(srcNum % 3 === 0, 230)
        .when(srcNum % 3 === 1, 40).otherwise(150)
      graft.ops.Sampling.replicateEpochs(d, fBasis, pmod(col("doc_id"), lit(100)), 100)
        .orderBy("doc_id", "copy_idx")
    },
      """WITH d AS (
        |  SELECT doc_id, source, CAST(substr(source, 4) AS INT) % 3 AS m
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, source,
        |    CASE m WHEN 0 THEN 230 WHEN 1 THEN 40 ELSE 150 END AS fb FROM d),
        |c AS (
        |  SELECT doc_id, source,
        |    CAST(fb // 100 AS BIGINT)
        |      + CASE WHEN doc_id % 100 < fb % 100 THEN 1 ELSE 0 END AS n
        |  FROM f)
        |SELECT doc_id, source, CAST(unnest(range(n)) AS BIGINT) AS copy_idx
        |FROM c WHERE n > 0
        |ORDER BY doc_id, copy_idx""".stripMargin),

    // Position-based (U-shaped) multi-touch attribution over per-user
    // click journeys: 40/20/40 in exact trunc-micros, with the n=1
    // (full credit) and n=2 (500k/500k — a U with no middle must not
    // leak 200k) conventions pinned; middle truncation dust ≤ n−3
    // micros documented. One user-keyed window pass.
    Gate("events_attribution_ushape", (s, dir) => {
      graft.ops.Reagg.positionAttribution(
          Tables.events(s, dir).filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("event_id")),
          "user_id", Seq(col("ts").asc, col("event_id").asc))
        .select("user_id", "event_id", "position", "n_touches", "credit_micro")
        .orderBy("user_id", "position")
    },
      """WITH c AS (
        |  SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS position,
        |    count(*) OVER (PARTITION BY user_id) AS n_touches
        |  FROM events WHERE event_type = 'click')
        |SELECT user_id, event_id, position,
        |  CAST(n_touches AS BIGINT) AS n_touches,
        |  CAST(CASE WHEN n_touches = 1 THEN 1000000
        |    WHEN n_touches = 2 THEN 500000
        |    WHEN position = 1 OR position = n_touches THEN 400000
        |    ELSE 200000 // (n_touches - 2) END AS BIGINT) AS credit_micro
        |FROM c ORDER BY user_id, position""".stripMargin),

    // Mixture weights — temperature-scaled source rebalancing (τ=2
    // flattens the natural mix toward uniform).
    Gate("mix_temperature_weights", (s, dir) => {
      graft.ops.Sampling.temperatureWeights(Tables.documents(s, dir), "source", 2.0)
        .orderBy("source")
    },
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |s AS (SELECT source, n, pow(CAST(n AS DOUBLE), 1.0/2.0) AS sc FROM c)
        |SELECT source, n, round(sc / (SELECT sum(sc) FROM s), 9) AS weight
        |FROM s ORDER BY source""".stripMargin),

    // Shard packing — fixed-token-budget shard assignment via the
    // distributed two-phase prefix sum (the oracle's global window is
    // the semantics; the Spark plan never forms a global window).
    Gate("pack_shards", (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Packing.assignShards(d, "doc_id", "n_tokens", 5000L)
        .select(col("doc_id"), col("n_tokens"), col("cum_w"), col("shard"))
        .orderBy("doc_id")
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_w,
        |  CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |    - n_tokens) / 5000.0) AS BIGINT) AS shard
        |FROM d ORDER BY doc_id""".stripMargin),

    // Deterministic weighted source interleaving (training-order
    // mixing): stride scheduling on exact decimal ranks — a source with
    // inv_w 0.5 appears twice as often as one with 1.0. Per-source rank
    // comes from the distributed groupwise prefix rank, never a
    // per-source single-reducer window. First 100 mixed positions gated.
    Gate("mix_interleave", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val inv = d.select(col("source")).distinct()
        .withColumn("inv_w", expr(
          """CAST(CASE CAST(substring(source, 4) AS INT) % 3
            |  WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 ELSE 0.25 END AS DECIMAL(7,6))""".stripMargin))
      graft.ops.Mixing.interleaveBySource(d, "source", Seq(col("doc_id")), inv)
        .orderBy(col("mix_pos_micro"), col("source"), col("grp_rank"))
        .limit(100)
        .select(col("doc_id"), col("source"), col("grp_rank"), col("mix_pos_micro"))
    },
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS grp_rank
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, grp_rank,
        |    CAST(grp_rank * (CASE CAST(substring(source, 4) AS INT) % 3
        |           WHEN 0 THEN 1000000 WHEN 1 THEN 500000 ELSE 250000 END)
        |      AS BIGINT) AS mix_pos_micro
        |  FROM r)
        |SELECT doc_id, source, grp_rank, mix_pos_micro
        |FROM m ORDER BY mix_pos_micro, source, grp_rank LIMIT 100""".stripMargin),

    // Greedy token-budget selection: fill a 10k-token training budget
    // with the highest-stopword-density (quality proxy) docs first —
    // hard ceiling, the first budget-crossing doc is cut. The order is
    // total (score desc, doc_id); the Spark plan is the two-phase
    // prefix sum over that order, never a single-partition window.
    Gate("pack_budget_select", (s, dir) => {
      val d = Tables.documents(s, dir)
      val scored = d.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.wordOccurrences(lower(col("text")),
            TextAnalysis.englishStopwords).as("stop_cnt"))
        .withColumn("score", expr("(stop_cnt * 1000) div greatest(n_tokens, 1)"))
      graft.ops.Packing.selectByTokenBudget(scored,
          Seq(col("score").desc, col("doc_id").asc), "n_tokens", 10000L)
        .select(col("doc_id"), col("n_tokens"), col("score"), col("cum_w"))
        .orderBy("doc_id")
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> w IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by','from'))) AS BIGINT) AS stop_cnt
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_tokens, stop_cnt,
        |    (stop_cnt * 1000) // greatest(n_tokens, 1) AS score
        |  FROM t),
        |c AS (
        |  SELECT doc_id, n_tokens, score,
        |    CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_w
        |  FROM s)
        |SELECT doc_id, n_tokens, score, cum_w
        |FROM c WHERE cum_w <= 10000
        |ORDER BY doc_id""".stripMargin),

    // Sequence packing (concat-and-chunk): the corpus token stream laid
    // end-to-end in doc_id order and cut into 256-token training
    // sequences, docs crossing boundaries — one row per doc×sequence
    // slice. Same one-corpus-shuffle prefix sum as pack_shards; the
    // slice fan-out is narrow. The oracle runs the global-window form.
    Gate("pack_sequences", (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Packing.packSequences(d, "doc_id", "n_tokens", 256L)
        .select(col("doc_id"), col("n_tokens"), col("seq_id"),
          col("tok_start"), col("tok_len"), col("seq_off"))
        .orderBy("doc_id", "seq_id")
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum
        |  FROM d),
        |e AS (
        |  SELECT doc_id, n_tokens, cum - n_tokens AS start, cum,
        |    unnest(range((cum - n_tokens) // 256, (cum - 1) // 256 + 1)) AS seq_id
        |  FROM c WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens, seq_id,
        |  greatest(seq_id * 256 - start, 0) AS tok_start,
        |  least((seq_id + 1) * 256 - start, n_tokens)
        |    - greatest(seq_id * 256 - start, 0) AS tok_len,
        |  greatest(start - seq_id * 256, 0) AS seq_off
        |FROM e ORDER BY doc_id, seq_id""".stripMargin),

    // ML — quality-classifier training as full-batch gradient descent
    // in EXACT fixed point (Regress.logisticGdFixedPoint: algebraic
    // fast-sigmoid link in micros, DECIMAL gradient sums, truncating
    // division — every iteration replays bit-for-bit in the oracle's
    // unrolled CTE chain). One hash aggregate per iteration, O(dim)
    // driver rows: the shape that trains on 100 TB. Features: bias,
    // order price in 10k$ units, order year offset; label = 'F' status.
    Gate("ml_logreg_gd", (s, dir) => {
      val o = Tables.orders(s, dir)
      graft.ops.Regress.logisticGdFixedPoint(o,
        Seq(lit(1L),
          call_function("div", (col("o_totalprice") * 100).cast("long"),
            lit(1000000L)),
          (year(col("o_orderdate")) - 1995).cast("long")),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L),
        iters = 3)
    },
      // Bit-exact unrolled replay of the 3 fixed-point GD iterations:
      // integer fast-sigmoid, HUGEINT gradient sums, // division (the
      // truncation twin of Spark DIV, pinned by sql_intdiv_semantics).
      """WITH base AS (
        |  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
        |    CAST(1 AS BIGINT) AS x0,
        |    CAST(o_totalprice * 100 AS BIGINT) // 1000000 AS x1,
        |    CAST(year(o_orderdate) - 1995 AS BIGINT) AS x2
        |  FROM orders),
        |nn AS (SELECT count(*) AS n FROM base),
        |ga AS (SELECT sum((y*1000000 - 500000) * x0) AS g0,
        |              sum((y*1000000 - 500000) * x1) AS g1,
        |              sum((y*1000000 - 500000) * x2) AS g2 FROM base),
        |wa AS (SELECT CAST(g0 // (n*2) AS BIGINT) AS w0,
        |              CAST(g1 // (n*2) AS BIGINT) AS w1,
        |              CAST(g2 // (n*2) AS BIGINT) AS w2 FROM ga, nn),
        |rb AS (SELECT y, x0, x1, x2,
        |    y*1000000 - (500000 + (z*500000) // (1000000 + abs(z))) AS r
        |  FROM (SELECT y, x0, x1, x2, w0*x0 + w1*x1 + w2*x2 AS z
        |        FROM base, wa)),
        |gb AS (SELECT sum(r*x0) AS g0, sum(r*x1) AS g1, sum(r*x2) AS g2 FROM rb),
        |wb AS (SELECT wa.w0 + CAST(gb.g0 // (n*2) AS BIGINT) AS w0,
        |              wa.w1 + CAST(gb.g1 // (n*2) AS BIGINT) AS w1,
        |              wa.w2 + CAST(gb.g2 // (n*2) AS BIGINT) AS w2
        |       FROM gb, wa, nn),
        |rc AS (SELECT y, x0, x1, x2,
        |    y*1000000 - (500000 + (z*500000) // (1000000 + abs(z))) AS r
        |  FROM (SELECT y, x0, x1, x2, w0*x0 + w1*x1 + w2*x2 AS z
        |        FROM base, wb)),
        |gc AS (SELECT sum(r*x0) AS g0, sum(r*x1) AS g1, sum(r*x2) AS g2 FROM rc),
        |wc AS (SELECT wb.w0 + CAST(gc.g0 // (n*2) AS BIGINT) AS w0,
        |              wb.w1 + CAST(gc.g1 // (n*2) AS BIGINT) AS w1,
        |              wb.w2 + CAST(gc.g2 // (n*2) AS BIGINT) AS w2
        |       FROM gc, wb, nn)
        |SELECT n AS n_rows, w0 AS w0_micro, w1 AS w1_micro, w2 AS w2_micro
        |FROM wc, nn""".stripMargin),

    // Sketches — approx_count_distinct (HLL++) and approx_percentile,
    // hash-gated through per-type verdict rows: the sketch VALUES are
    // impl-defined, but their error CONTRACTS are engine-independent
    // facts next to the in-query exact values. exact_users is real data
    // the oracle recomputes; the booleans pin HLL relative error ≤ 15%
    // (3σ of the default 5% rsd; measured ≤ 6.7% across SFs) and the GK
    // median's rank within [0.48, 0.52] (accuracy 1000 ⇒ rank error
    // ≤ 1e-3; measured ≤ 0.5025). A sketch regression — bad merge, bad
    // accuracy plumbing — flips a hash-gated row.
    Gate("sketch_approx_events", (s, dir) => {
      val ev = Tables.events(s, dir)
      val agg = ev.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("_a"),
          countDistinct(col("user_id")).as("exact_users"),
          expr("approx_percentile(value, 0.5, 1000)").as("_am"),
          count(lit(1)).as("_n"))
      ev.select(col("event_type"), col("value"))
        .join(broadcast(agg), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(max(col("_a")).as("_a"), max(col("exact_users")).as("exact_users"),
          max(col("_n")).as("_n"),
          sum(when(col("value") <= col("_am"), 1L).otherwise(0L)).as("_below"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("_a") - col("exact_users")) * 100 <= col("exact_users") * 15)
            .as("hll_err_le_15pct"),
          (col("_below") * 100 >= col("_n") * 48 &&
            col("_below") * 100 <= col("_n") * 52).as("median_rank_ok"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS hll_err_le_15pct, TRUE AS median_rank_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Time series — gap-filled daily resample per user (bounded key set
    // keeps the gate output small; the operator itself is unbounded).
    Gate("ts_daily_gapfill", (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("user_id") < 50)
      graft.ops.TimeSeries.resampleDailyCounts(ev, "user_id", "ts")
        .orderBy("user_id", "day")
    },
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events WHERE user_id < 50),
        |span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM ev GROUP BY user_id),
        |days AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |         FROM span),
        |counts AS (SELECT user_id, d AS day, count(*) AS n FROM ev GROUP BY 1, 2)
        |SELECT d.user_id, d.day, COALESCE(c.n, 0) AS n
        |FROM days d LEFT JOIN counts c ON d.user_id = c.user_id AND d.day = c.day
        |ORDER BY 1, 2""".stripMargin),

    // Time series — forward fill (LOCF): nulls are synthesized
    // deterministically (value of 'click' events masked), then each
    // gap repairs to the latest preceding observation per user.
    Gate("ts_forward_fill", (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("user_id") < 50)
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("event_type") === "click", lit(null).cast("double"))
            .otherwise(col("value")).as("value"))
      graft.ops.TimeSeries.forwardFill(ev, "user_id", "ts", "value", "event_id")
        .select(col("event_id"), col("user_id"), col("value"),
          round(col("value_filled"), 6).as("value_filled"))
        .orderBy("event_id")
    },
      """WITH ev AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_type = 'click' THEN NULL ELSE value END AS value
        |  FROM events WHERE user_id < 50)
        |SELECT event_id, user_id, value,
        |  round(last_value(value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value_filled
        |FROM ev ORDER BY event_id""".stripMargin),

    // Time series — linear interpolation: the same masked gaps as the
    // LOCF query, repaired by time-proportional blending between the
    // neighboring observations instead of carry-forward (edge gaps
    // stay NULL). Pure IEEE arithmetic on epoch-micros, so the oracle
    // comparison is exact before the presentation rounding.
    Gate("ts_interpolate", (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("user_id") < 50)
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("event_type") === "click", lit(null).cast("double"))
            .otherwise(col("value")).as("value"))
      graft.ops.TimeSeries.interpolateLinear(ev, "user_id", "ts", "value", "event_id")
        .select(col("event_id"), col("user_id"), col("value"),
          round(col("value_interp"), 6).as("value_interp"))
        .orderBy("event_id")
    },
      """WITH ev AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_type = 'click' THEN NULL ELSE value END AS value
        |  FROM events WHERE user_id < 50),
        |f AS (
        |  SELECT event_id, user_id, value, epoch_us(ts) AS t,
        |    last_value(value IGNORE NULLS) OVER w_back AS pv,
        |    last_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER w_back AS pt,
        |    first_value(value IGNORE NULLS) OVER w_fwd AS nv,
        |    first_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER w_fwd AS nt
        |  FROM ev
        |  WINDOW
        |    w_back AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    w_fwd AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id, value,
        |  round(CASE WHEN value IS NOT NULL THEN value
        |             WHEN pt = nt THEN pv
        |             ELSE pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
        |        END, 6) AS value_interp
        |FROM f ORDER BY event_id""".stripMargin),

    // Time series — exact-integer EWMA over per-user inter-arrival gaps
    // with lull flagging (cadence anomaly screen): the leaky integrator
    // e = (gap + 7e)/8 in truncating BIGINT micros, seeded with the
    // first gap, flag when a gap exceeds 4x the smoothed state BEFORE
    // the update. One hash agg + per-key sorted fold, no windows; the
    // oracle replays the recurrence as a recursive CTE (depth = the
    // deepest user's event count, ~90 at every SF).
    Gate("ts_ewma_gaps", (s, dir) => {
      graft.ops.TimeSeries.ewmaGaps(
          Tables.events(s, dir).filter(col("user_id") < 40),
          "user_id", "ts", "event_id", kDenom = 8, burstFactor = 4)
        .orderBy("user_id", "event_id")
    },
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id < 40),
        |r AS (
        |  SELECT b.user_id, b.event_id, b.t, b.rn,
        |    b.t - a.t AS gap_micros, b.t - a.t AS ewma_micros,
        |    FALSE AS is_lull
        |  FROM e a JOIN e b ON a.user_id = b.user_id AND a.rn = 1 AND b.rn = 2
        |  UNION ALL
        |  SELECT n.user_id, n.event_id, n.t, n.rn,
        |    n.t - r.t,
        |    (n.t - r.t + 7 * r.ewma_micros) // 8,
        |    n.t - r.t > 4 * r.ewma_micros
        |  FROM r JOIN e n ON n.user_id = r.user_id AND n.rn = r.rn + 1)
        |SELECT user_id, event_id,
        |  CAST(gap_micros AS BIGINT) AS gap_micros,
        |  CAST(ewma_micros AS BIGINT) AS ewma_micros, is_lull
        |FROM r ORDER BY user_id, event_id""".stripMargin),

    // Holt linear-trend smoothing (the EWMA family + a trend state) on
    // per-user value series in BIGINT micros. The trend state goes
    // negative on decaying series, so the division sign convention is
    // part of the contract: both engines TRUNCATE toward zero (Spark
    // div == DuckDB //, measured on negatives). The oracle is a
    // recursive-CTE replay of both recurrences, so the hash certifies
    // every level/trend/forecast cell across ~90 chained steps per key.
    // Forecast backtest — the eval family meeting time series: per-key
    // MAE and worst error of Holt's ONE-STEP-AHEAD forecasts (each
    // prediction was made before observing its row, so the residuals
    // are honest out-of-sample errors, not fit residuals). Exact
    // integers end to end: abs diffs of micros, trunc-div mean.
    Gate("ts_forecast_backtest", (s, dir) => {
      val fc = holtForecasts(s, dir)
      fc.groupBy("user_id").agg(
          count(lit(1)).as("n_forecasts"),
          expr("sum(abs(value_micro - forecast_micro)) div count(1)")
            .as("mae_micro"),
          max(abs(col("value_micro") - col("forecast_micro")))
            .as("worst_err_micro"))
        .orderBy("user_id")
    },
      // Recursive replay of BOTH Holt recurrences; DuckDB's `//`
      // truncates toward zero on every sign (measured: -7 // 2 = -3),
      // exactly like Spark's `div` — the negative-trend cells certify it.
      s"""WITH RECURSIVE $holtSql
        |SELECT user_id, count(*) AS n_forecasts,
        |  CAST(sum(abs(x - f)) // count(*) AS BIGINT) AS mae_micro,
        |  CAST(max(abs(x - f)) AS BIGINT) AS worst_err_micro
        |FROM r WHERE rn >= 2
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    Gate("ts_holt_trend", (s, dir) => {
      holtForecasts(s, dir)
        .orderBy("user_id", "event_id")
    },
      s"""WITH RECURSIVE $holtSql
        |SELECT user_id, event_id, x AS value_micro,
        |  CAST(f AS BIGINT) AS forecast_micro,
        |  CAST(l AS BIGINT) AS level_micro,
        |  CAST(b AS BIGINT) AS trend_micro
        |FROM r WHERE rn >= 2 ORDER BY user_id, event_id""".stripMargin),

    // Seasonal decomposition (TimeSeries.seasonalDecompose) — per-type
    // daily revenue split into trend + day-of-week seasonal + residual,
    // all exact trunc-micros (centered 7-day MA keeps its ×7 scaling
    // until one DIV; detrended values are pure integers; phase is
    // day_num % 7, immune to dayofweek-numbering differences). The
    // daily series is calendar-bounded per key, so the per-key range
    // window is safe at any corpus scale; edge days pin NULL
    // trend/residual. The oracle replays the whole pipeline through
    // window frames.
    Gate("ts_seasonal_decompose", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day_num"))
        .agg(sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("v_cents"))
      graft.ops.TimeSeries.seasonalDecompose(daily, "event_type",
          "day_num", "v_cents")
        .orderBy("event_type", "day_num")
    },
      // Window-frame replay of the centered MA + per-phase seasonal
      // means; `//` and `div` share trunc-toward-zero (negative detrended
      // sums exercise it).
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
        |      AS day_num,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |         AS BIGINT) AS v_cents
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT *,
        |    sum(v_cents) OVER (PARTITION BY event_type ORDER BY day_num
        |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7,
        |    count(v_cents) OVER (PARTITION BY event_type ORDER BY day_num
        |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7
        |  FROM daily),
        |tr AS (
        |  SELECT *,
        |    CASE WHEN n7 = 7 THEN (1000000 * t7) // 7 END AS trend_micro,
        |    CASE WHEN n7 = 7 THEN 7 * v_cents - t7 END AS det7,
        |    day_num % 7 AS phase
        |  FROM w),
        |se AS (
        |  SELECT event_type, phase,
        |    CAST((1000000 * sum(det7)) // (7 * count(det7)) AS BIGINT)
        |      AS seasonal_micro
        |  FROM tr WHERE det7 IS NOT NULL GROUP BY 1, 2)
        |SELECT tr.event_type, tr.day_num, tr.v_cents,
        |  CAST(tr.trend_micro AS BIGINT) AS trend_micro, se.seasonal_micro,
        |  CAST(1000000 * tr.v_cents - tr.trend_micro - se.seasonal_micro
        |       AS BIGINT) AS resid_micro
        |FROM tr LEFT JOIN se ON tr.event_type = se.event_type
        |  AND tr.phase = se.phase
        |ORDER BY 1, 2""".stripMargin),

    // Business-day SLA census: order→ship lag in BUSINESS days by
    // closed-form integer weekday arithmetic (no calendar table, no
    // engine dow() numbering surface — weekday-ness is (d+3) mod 7 ≤ 4
    // on epoch days, prefix-counted via a 7-entry LUT), rolled up per
    // order month.
    Gate("ts_business_day_lag", (s, dir) => {
      val j = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          graft.ops.TimeSeries.businessDaysBetween(
            expr("datediff(to_date(o_orderdate), DATE'1970-01-01')"),
            expr("datediff(to_date(l_shipdate), DATE'1970-01-01')")).as("bd"))
      j.groupBy("y", "m")
        .agg(count(lit(1)).as("n"), sum(col("bd")).as("sum_bdays"),
          min(col("bd")).as("min_bdays"), max(col("bd")).as("max_bdays"))
        .orderBy("y", "m")
    },
      """WITH j AS (
        |  SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS a,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |f AS (
        |  SELECT y, m,
        |    (5 * (b // 7) + [0,1,2,2,2,3,4][(b % 7) + 1])
        |      - (5 * (a // 7) + [0,1,2,2,2,3,4][(a % 7) + 1]) AS bd
        |  FROM j)
        |SELECT CAST(y AS BIGINT) AS y, CAST(m AS BIGINT) AS m,
        |  count(*) AS n, CAST(sum(bd) AS BIGINT) AS sum_bdays,
        |  CAST(min(bd) AS BIGINT) AS min_bdays,
        |  CAST(max(bd) AS BIGINT) AS max_bdays
        |FROM f GROUP BY y, m ORDER BY y, m""".stripMargin),

    // Two-sided CUSUM changepoint detection over per-priority WEEKLY
    // revenue (345 weeks per key — calendar-bounded series). Exact
    // integer recurrences s± = max(0, s±' ± (x − target) − kappa) in
    // cents, strict-> alarm, alarming side resets (changePOINTS,
    // plural); per-key target/slack/threshold are derived from the
    // series' own trunc-mean and joined in as columns. The oracle
    // replays the fold as a recursive CTE — a missed reset, an
    // off-by-one week, or an inclusive-vs-strict alarm flips the hash.
    Gate("ts_cusum_changepoints", (s, dir) => {
      val weekly = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"),
          expr("datediff(to_date(o_orderdate), DATE'1970-01-01') div 7")
            .cast("long").as("week_num"))
        .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("rev_cents"))
      val stats = weekly.groupBy("o_orderpriority")
        .agg(expr("sum(rev_cents) div count(1)").as("mu"))
      graft.ops.TimeSeries.cusum(weekly.join(stats, "o_orderpriority"),
          "o_orderpriority", "week_num", col("rev_cents"),
          col("mu"), expr("mu div 20"), expr("mu div 2"))
        .orderBy("o_orderpriority", "week_num")
    },
      // Recursive-CTE replay of the CUSUM fold: emitted s± are
      // post-update PRE-reset; the carried state applies the reset.
      """WITH RECURSIVE wk AS (
        |  SELECT o_orderpriority AS k,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7
        |      AS BIGINT) AS week_num,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
        |  FROM orders GROUP BY 1, 2),
        |st AS (SELECT k, sum(x) // count(*) AS mu FROM wk GROUP BY 1),
        |e AS (
        |  SELECT wk.k, week_num, x, mu, mu // 20 AS kp, mu // 2 AS h,
        |    row_number() OVER (PARTITION BY wk.k ORDER BY week_num) AS rn
        |  FROM wk JOIN st USING (k)),
        |r AS (
        |  SELECT k, week_num, x, mu, kp, h, rn,
        |    greatest(0, x - mu - kp) AS sp, greatest(0, mu - kp - x) AS sn
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT n.k, n.week_num, n.x, n.mu, n.kp, n.h, n.rn,
        |    greatest(0, (CASE WHEN r.sp > r.h THEN 0 ELSE r.sp END)
        |      + n.x - n.mu - n.kp),
        |    greatest(0, (CASE WHEN r.sn > r.h THEN 0 ELSE r.sn END)
        |      + n.mu - n.kp - n.x)
        |  FROM r JOIN e n ON n.k = r.k AND n.rn = r.rn + 1)
        |SELECT k AS o_orderpriority, week_num, CAST(x AS BIGINT) AS x,
        |  CAST(sp AS BIGINT) AS s_pos, CAST(sn AS BIGINT) AS s_neg,
        |  sp > h AS alarm_up, sn > h AS alarm_down
        |FROM r ORDER BY o_orderpriority, week_num""".stripMargin),

    // Count-Min sketch (ops/Sketch): ONE capped hash agg builds the
    // 4×1024-cell summary, then every live event_type plus three absent
    // probes is point-estimated. The oracle recomputes exact counts;
    // est_ge_true is the provable one-sided CMS guarantee, and
    // est_eq_true is measured-then-pinned for THIS key set (5 live keys
    // spread over 1024 columns × 4 independent hash rows — verified
    // collision-free at all three SFs before pinning; the spec owns the
    // forced-collision behavior).
    // Spark's native approximate-percentile sketch (percentile_approx,
    // the KLL-family summary — THE quantile path at 100 TB, where the
    // exact form needs a value-grain prefix-sum pass) verdict-gated
    // like HLL: estimates must be REAL data elements whose exact rank
    // (recomputed) sits within the sketch's documented 1/accuracy rank
    // error of the target. The estimates themselves are merge-order-
    // dependent, so only the guarantees gate — never raw values.
    Gate("sketch_approx_percentile", (s, dir) => {
      val v = Tables.orders(s, dir).select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
      val ps = Seq(1, 5, 25, 50, 75, 95, 99)
      val est = v.agg(
        percentile_approx(col("cents"),
          array(ps.map(p => lit(p / 100.0)): _*), lit(10000)).as("ests"),
        count(lit(1)).as("n"))
      val e = est.select(col("n"),
          posexplode(col("ests")).as(Seq("i", "est")))
        .withColumn("p", element_at(array(ps.map(lit): _*), col("i") + 1))
      v.crossJoin(broadcast(e))
        .groupBy(col("p"), col("n"), col("est"))
        .agg(sum(when(col("cents") <= col("est"), 1L).otherwise(0L))
            .as("_rank"),
          sum(when(col("cents") === col("est"), 1L).otherwise(0L))
            .as("_hits"))
        .select(col("p"), col("n"),
          (col("_hits") > 0L).as("est_is_member"),
          // the rank contract holds for SOME rank inside the estimate's
          // tie span [count(<est)+1, count(<=est)] — gate on interval
          // overlap with target ± eps, not the single upper-rank point
          // (a heavily tied value overshoots count(<=est) by the whole
          // tie width even when the sketch met its guarantee)
          (((col("_rank") - col("_hits") + 1L) * 10000L <=
              col("p") * col("n") * 100L + col("n") + 10000L) &&
            (col("_rank") * 10000L >=
              col("p") * col("n") * 100L - col("n") - 10000L))
            .as("rank_within_eps"))
        .orderBy("p")
    },
      // Probe list + exact row count; both quantile-sketch guarantees
      // measured then pinned.
      """WITH ps(p) AS (VALUES (1), (5), (25), (50), (75), (95), (99)),
        |n AS (SELECT count(*) AS n FROM orders)
        |SELECT CAST(p AS INTEGER) AS p, n.n AS n,
        |  TRUE AS est_is_member, TRUE AS rank_within_eps
        |FROM ps, n ORDER BY p""".stripMargin),

    // Misra–Gries heavy hitters — the DETERMINISTIC frequent-items
    // sketch (k=32 counters, n/33 error). Key domain is a planted
    // skew: 30% of events collapse onto 7 hot keys, the rest spread
    // over the user tail (offset past the hot range) — so true heavy
    // hitters exist AND eviction churn is real. The verdict emits one
    // row per TRUE heavy key (exact counts, oracle-replayed) and pins
    // the two MG guarantees measured: every heavy key survived the
    // sketch, and its estimate sits in [c − n/33, c]. The surviving
    // sub-threshold counter SET is partition-layout-dependent by
    // design, so only the guarantees gate — never raw counters.
    Gate("sketch_misra_gries", (s, dir) => {
      val keyed = Tables.events(s, dir).select(
        when(pmod(col("user_id"), lit(10)) < 3, pmod(col("user_id"), lit(7)))
          .otherwise(col("user_id") + 1000000L).as("k"))
      val sk = graft.ops.Sketch.misraGries(keyed, col("k"), 32)
      val exact = keyed.groupBy(col("k")).agg(count(lit(1)).as("n_true"))
      val tot = keyed.agg(count(lit(1)).as("n"))
      exact.crossJoin(broadcast(tot))
        .filter(col("n_true") * 33 > col("n"))
        .join(sk, col("k") === col("key"), "left")
        .select(col("k"), col("n_true"),
          col("est").isNotNull.as("present_in_sketch"),
          (col("est").isNotNull && col("est") <= col("n_true") &&
            (col("n_true") - col("est")) * 33 <= col("n")).as("est_in_bound"))
        .orderBy("k")
    },
      // Exact heavy-key replay over the planted-skew derivation; the two
      // MG guarantees measured then pinned.
      """WITH kx AS (
        |  SELECT CASE WHEN user_id % 10 < 3 THEN user_id % 7
        |              ELSE user_id + 1000000 END AS k
        |  FROM events),
        |c AS (SELECT k, count(*) AS n_true FROM kx GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM kx)
        |SELECT k, CAST(n_true AS BIGINT) AS n_true,
        |  TRUE AS present_in_sketch, TRUE AS est_in_bound
        |FROM c, t WHERE n_true * 33 > n ORDER BY k""".stripMargin),

    Gate("sketch_countmin", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val sk = graft.ops.Sketch.countMin(ev, "event_type", depth = 4, width = 1024)
      val probes = ev.select(col("event_type").as("key")).distinct()
        .unionByName(Seq("ghost_a", "ghost_b", "ghost_c").toDF("key"))
      val truth = ev.groupBy(col("event_type").as("key")).agg(count(lit(1)).as("_n"))
      graft.ops.Sketch.cmsEstimate(sk, probes, "key", depth = 4, width = 1024)
        .join(truth, Seq("key"), "left")
        .select(col("key"), coalesce(col("_n"), lit(0L)).as("n_true"),
          (col("est") >= coalesce(col("_n"), lit(0L))).as("est_ge_true"),
          (col("est") === coalesce(col("_n"), lit(0L))).as("est_eq_true"))
        .orderBy("key")
    },
      // Verdict-row gate (sketch estimates are not SQL-expressible): the
      // oracle recomputes every exact count; est_ge_true is the provable
      // one-sided CMS guarantee, est_eq_true measured-then-pinned for
      // this collision-free key set (see the query comment).
      """WITH t AS (
        |  SELECT event_type AS key, count(*) AS n_true
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT key, n_true FROM t
        |  UNION ALL SELECT 'ghost_a', 0
        |  UNION ALL SELECT 'ghost_b', 0
        |  UNION ALL SELECT 'ghost_c', 0)
        |SELECT key, CAST(n_true AS BIGINT) AS n_true,
        |  TRUE AS est_ge_true, TRUE AS est_eq_true
        |FROM p ORDER BY key""".stripMargin),

    // Planner-stats composition: equi-join cardinality estimated from
    // two Count-Min sketches ALONE (|A ⋈ B| = Σ_k f_A·f_B as the min
    // cell-wise inner product) — |lineitem ⋈ lineitem('R')| on
    // l_partkey without touching either table at estimate time.
    // Verdict rows: exact_join_size is oracle-recomputed; the
    // one-sided (est ≥ exact, collisions only add) and within-50%
    // bounds are pinned. The width is SIZED FROM THE KEY CARDINALITY
    // (r14, the production answer: relative excess ≈ distinct-keys/w,
    // so w = nextPow2(4·P̂) from a cheap HLL pre-pass keeps the excess
    // ≤ ~25% at EVERY scale — the fixed 65536 floor measured ~30% at
    // sf0.1's 20k keys and 3× over at sf1.0's 200k; in production the
    // planner's column stats supply P̂ for free).
    Gate("sketch_cm_join_size", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val a = li.select(col("l_partkey"))
      val b = li.filter(col("l_returnflag") === "R").select(col("l_partkey"))
      val keys = a.agg(approx_count_distinct(col("l_partkey")))
        .first().getLong(0)
      val d = 5
      // width math stays in Long end-to-end (r15): Integer.highestOneBit
      // on a .toInt of 4·keys−1 overflows past ~2^29 keys and *2 wraps
      // to 0/negative at 2^30 — exactly the under-width regime the
      // sizing exists to prevent. Clamp at 2^27 cells (5×2^27 Long
      // counters ≈ 5 GiB, the sane per-sketch ceiling) before toInt.
      val w = math.min(1L << 27, math.max(65536L,
        java.lang.Long.highestOneBit(math.max(1L, 4L * keys - 1L)) * 2L))
        .toInt
      val est = graft.ops.Sketch.cmsJoinSizeEstimate(
        graft.ops.Sketch.countMin(a, "l_partkey", d, w),
        graft.ops.Sketch.countMin(b, "l_partkey", d, w), d)
      val exact = a.groupBy("l_partkey").agg(count(lit(1)).as("_na"))
        .join(b.groupBy("l_partkey").agg(count(lit(1)).as("_nb")),
          Seq("l_partkey"))
        .agg(coalesce(sum(col("_na") * col("_nb")), lit(0L))
          .as("exact_join_size"))
      exact.crossJoin(est)
        .select(col("exact_join_size"),
          (col("join_size_est") >= col("exact_join_size")).as("est_ge_exact"),
          (col("join_size_est") * 100 <= col("exact_join_size") * 150)
            .as("est_within_50pct"))
    },
      """WITH a AS (
        |  SELECT l_partkey AS k, count(*) AS n FROM lineitem GROUP BY 1),
        |b AS (
        |  SELECT l_partkey AS k, count(*) AS n FROM lineitem
        |  WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT) AS exact_join_size,
        |  TRUE AS est_ge_exact, TRUE AS est_within_50pct
        |FROM a JOIN b USING (k)""".stripMargin),

    // AMS tug-of-war F2 sketch: per-event-type second moment of the
    // user_id frequency vector — self-join size / skew mass — from a
    // 5×256 signed-counter sketch. Verdict rows: f2_exact is real data
    // the oracle recomputes (Σ count²); est_in_30pct pins the median-
    // of-rows estimator's accuracy on this corpus; merge_exact pins
    // SIGNED linearity — the sketch of the full stream equals the
    // cell-wise SUM of two half-stream sketches exactly (the property
    // Count-Min's min-estimate lacks), certified by a full-outer
    // null-safe cell compare riding the same result row.
    Gate("sketch_ams_f2", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("event_id"))
      val sk = graft.ops.Sketch.amsSketch(ev, "user_id", depth = 5,
        width = 256, groupCols = Seq("event_type"))
      val est = graft.ops.Sketch.amsF2Estimate(sk, depth = 5,
        groupCols = Seq("event_type"))
      val exact = ev.groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("_n"))
        .groupBy("event_type").agg(sum(col("_n") * col("_n")).as("f2_exact"))
      val half = (p: Int) => graft.ops.Sketch.amsSketch(
        ev.filter(pmod(col("event_id"), lit(2)) === p), "user_id",
        depth = 5, width = 256, groupCols = Seq("event_type"))
      val merged = half(0).unionByName(half(1))
        .groupBy("event_type", "r", "c").agg(sum("cell").as("mcell"))
      val mergeOk = sk.withColumnRenamed("cell", "fcell")
        .join(merged, Seq("event_type", "r", "c"), "full")
        .groupBy("event_type")
        .agg(expr("every(coalesce(fcell, 0L) = coalesce(mcell, 0L))")
          .as("merge_exact"))
      exact.join(est, Seq("event_type")).join(mergeOk, Seq("event_type"))
        .select(col("event_type"), col("f2_exact"),
          (abs(col("f2_est") - col("f2_exact")) * 100 <=
            col("f2_exact") * 30).as("est_in_30pct"),
          col("merge_exact"))
        .orderBy("event_type")
    },
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(n * n) AS BIGINT) AS f2_exact,
        |  TRUE AS est_in_30pct, TRUE AS merge_exact
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Spark's native HLL++ sketch (approx_count_distinct — THE way to
    // count distincts at 100 TB, where exact count-distinct shuffles
    // every key) verdict-gated against the exact count: the oracle
    // recomputes n_exact, and est_within_10pct (default rsd 5%) is
    // measured at all three SFs before pinning. The exact distinct here
    // is the verdict harness, not the recommended plan.
    Gate("sketch_hll_distinct", (s, dir) => {
      Tables.events(s, dir).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id")).as("_est"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("_est") - col("n_exact")) * 10 <= col("n_exact"))
            .as("est_within_10pct"))
        .orderBy("event_type")
    },
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS est_within_10pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // KMV distinct sketch (Sketch.kmv) — per-quarter distinct-part
    // census through the k-minimum-values sketch: exact BIGINT truth
    // beside pinned estimator-quality booleans. Set sizes cross the
    // k=256 boundary across SFs (119 parts/qtr at sf0.001 → ~14k at
    // sf0.1), so the exact-when-small branch AND the (k-1)/u_k order-
    // statistic estimator are both load-bearing: at small SF the sketch
    // IS the distinct set (est must equal truth exactly — pinned), at
    // large SF the 20% bound (~3σ at k=256) must hold. One O(k)-buffer
    // hash agg; the distinct domain never shuffles.
    Gate("sketch_kmv_distinct", (s, dir) => {
      val k = 256
      val li = Tables.lineitem(s, dir).select(
        concat(year(col("l_shipdate")), lit("-Q"), quarter(col("l_shipdate")))
          .as("qtr"),
        col("l_partkey"))
      val sk = graft.ops.Sketch.kmv(li, "qtr", col("l_partkey"), k)
        .withColumn("_est", graft.ops.Sketch.kmvEstimate(col("kh"), k))
      val exact = li.groupBy("qtr")
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
      exact.join(sk, Seq("qtr"))
        .select(col("qtr"), col("n_exact"),
          when(size(col("kh")) < k, col("_est") === col("n_exact").cast("double"))
            .otherwise(abs(col("_est") - col("n_exact")) * 5 <= col("n_exact"))
            .as("est_ok"),
          (size(col("kh")) === least(lit(k), col("n_exact").cast("int")))
            .as("sketch_size_sound"))
        .orderBy("qtr")
    },
      // Estimator-quality booleans pinned TRUE; the exact census is the
      // oracle's own recomputation.
      """SELECT CAST(year(l_shipdate) AS VARCHAR) || '-Q' ||
        |    CAST(quarter(l_shipdate) AS VARCHAR) AS qtr,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
        |  TRUE AS est_ok, TRUE AS sketch_size_sound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // KMV set algebra (Sketch.kmvSetOps) — the operation neither CMS
    // nor HLL supports: Jaccard / intersection / union estimates
    // between per-year Q1 vs Q3 part sets computed from the two O(k)
    // sketches ALONE (merge-dedup-trim is exactly the union's sketch).
    // Exact truth columns (n_a/n_b/n_inter/n_union/j_exact_micro) ride
    // beside the estimator verdicts so the oracle recomputes the whole
    // set-overlap census independently; ~65%-of-universe quarterly sets
    // put true J near 0.5 — the regime where a broken estimator can't
    // hide at either end of [0,1].
    Gate("sketch_kmv_jaccard", (s, dir) => {
      val k = 256
      val base = Tables.lineitem(s, dir)
        .filter(quarter(col("l_shipdate")).isin(1, 3))
        .select(year(col("l_shipdate")).cast("long").as("yr"),
          quarter(col("l_shipdate")).as("q"), col("l_partkey"))
      def side(q: Int, as: String) = graft.ops.Sketch.kmv(
        base.filter(col("q") === q), "yr", col("l_partkey"), k)
        .withColumnRenamed("kh", as)
      val est = graft.ops.Sketch.kmvSetOps(
        side(1, "kh_a").join(side(3, "kh_b"), Seq("yr")), "kh_a", "kh_b", k)
      val exact = base
        .groupBy(col("yr"), col("l_partkey"))
        .agg(max(when(col("q") === 1, 1L).otherwise(0L)).as("ina"),
          max(when(col("q") === 3, 1L).otherwise(0L)).as("inb"))
        .groupBy(col("yr"))
        .agg(sum(col("ina")).as("n_a"), sum(col("inb")).as("n_b"),
          sum(col("ina") * col("inb")).as("n_inter"),
          count(lit(1)).as("n_union"))
      exact.join(est, Seq("yr"))
        .withColumn("j_exact_micro",
          expr("CAST((1000000 * n_inter) DIV n_union AS BIGINT)"))
        .select(col("yr"), col("n_a"), col("n_b"), col("n_inter"),
          col("n_union"), col("j_exact_micro"),
          (abs(col("j_est") - col("n_inter").cast("double") /
            col("n_union").cast("double")) <= lit(0.12)).as("j_est_ok"),
          (abs(col("inter_est") - col("n_inter")) * 4 <=
            col("n_inter").cast("double")).as("inter_est_ok"),
          (size(col("_comb")) === least(lit(k), col("n_union").cast("int")))
            .as("union_sketch_sound"))
        .orderBy("yr")
    },
      """WITH b AS (
        |  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
        |    quarter(l_shipdate) AS q, l_partkey
        |  FROM lineitem WHERE quarter(l_shipdate) IN (1, 3)),
        |m AS (
        |  SELECT yr, l_partkey,
        |    max(CASE WHEN q = 1 THEN 1 ELSE 0 END) AS ina,
        |    max(CASE WHEN q = 3 THEN 1 ELSE 0 END) AS inb
        |  FROM b GROUP BY 1, 2)
        |SELECT yr, CAST(sum(ina) AS BIGINT) AS n_a,
        |  CAST(sum(inb) AS BIGINT) AS n_b,
        |  CAST(sum(ina * inb) AS BIGINT) AS n_inter,
        |  CAST(count(*) AS BIGINT) AS n_union,
        |  CAST((1000000 * sum(ina * inb)) // count(*) AS BIGINT) AS j_exact_micro,
        |  TRUE AS j_est_ok, TRUE AS inter_est_ok, TRUE AS union_sketch_sound
        |FROM m GROUP BY yr ORDER BY yr""".stripMargin)
  )
}
