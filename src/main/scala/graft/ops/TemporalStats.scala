package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Exact-integer temporal statistics: time-weighted averages over the
  * event stream and latency percentiles from bounded-support
  * histograms. Extension surface beyond reference parity (north star
  * repo:BASELINE.json); the reference generates expressions only
  * (/root/reference/polarify/main.py:49-388).
  */
object TemporalStats {

  // -------------------------------------------------------------------
  // ax_twap: TIME-WEIGHTED average of the event `value` per type — the
  // correct mean for irregularly-sampled observations (sensor levels,
  // account balances, prices): each reading is held until the user's
  // next event, so its weight is the interval it was live, not 1.
  // Plain AVG over-counts chatty periods; TWAP is the fix every
  // finance/telemetry stack reaches for.
  //
  // Exactness: values quantize to integer cents (round(·100), the
  // ax_decimal_sum discipline); timestamps to integer epoch SECONDS
  // (unix_micros div 10⁶ — floored identically in both engines);
  // num = Σ cents·Δt and den = Σ Δt are exact int64 (cents ≤ ~10⁵,
  // Δt ≤ corpus span ⇒ products ≤ ~10¹¹; sums < 2^63 through sf1 —
  // beyond, DECIMAL(38,0), same plan). Zero-length intervals are
  // dropped: they contribute 0 to BOTH sums, and excluding them makes
  // the final division provably nonzero-denominator (ANSI-safe).
  //
  // Scale shape: ONE lead() window keyed on the HIGH-CARDINALITY
  // user_id (the inverse of the ntile trap — millions of tiny
  // partitions), then one map-side-combined aggregate to |types|
  // rows. The interval belongs to its STARTING event's type.
  // -------------------------------------------------------------------
  private def twap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"), col("user_id"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        expr("unix_micros(ts) div 1000000L").as("su"))
      .withColumn("dt", lead(col("su"), 1).over(w) - col("su"))
      .filter(col("dt") > 0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("cents") * col("dt")).as("num"),
        sum(col("dt")).as("den"))
      .withColumn("twap_cents", expr("num div den"))
      .orderBy("event_type")
  }

  private val twapSql =
    """WITH e AS (SELECT event_type, user_id, ts, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents,
      |    epoch_us(ts) // 1000000 AS su
      |  FROM events),
      |w AS (SELECT event_type, cents,
      |    LEAD(su) OVER (PARTITION BY user_id ORDER BY ts, event_id) - su
      |      AS dt
      |  FROM e)
      |SELECT event_type, COUNT(*) AS n_intervals,
      |  CAST(SUM(cents * dt) AS BIGINT) AS num,
      |  CAST(SUM(dt) AS BIGINT) AS den,
      |  CAST(SUM(cents * dt) // SUM(dt) AS BIGINT) AS twap_cents
      |FROM w WHERE dt > 0 GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_latency_histogram: order-to-ship latency percentiles per order
  // priority — the SLA report — computed EXACTLY from the
  // (priority, days) histogram, never a rank window over fact rows.
  // This is the bounded-support specialization of the two-pass
  // selection family (ax_exact_percentile): calendar-day latency has
  // a few thousand distinct values no matter how many rows back them,
  // so the fact collapses in ONE map-side-combined aggregate and the
  // cumulative walk runs over the KB-scale histogram. The percentile
  // definition is the exact order statistic: lower median = smallest
  // d with cum(d) ≥ (n+1) div 2, p90 = smallest d with cum(d) ≥
  // ⌈9n/10⌉ = (9n+9) div 10 — integer ranks, no interpolation to
  // drift. Latency uses pure DATE arithmetic (both engines cast to
  // DATE then count calendar days — no timestamp boundary semantics).
  //
  // Scale shape: the lineitem/orders equi-join is the honest
  // fact-fact co-shuffle on the order key (ax_shipmode_priority
  // discipline); everything after the histogram aggregate is
  // histogram-sized. The per-priority windows run over ≤ |priorities|
  // × |distinct days| rows — the documented small-key-window-over-
  // aggregate shape.
  // -------------------------------------------------------------------
  /** Frame-parameterized histogram-percentile core over a (prio, days)
    * value frame — exposed for SelectionFuzzSpec, which cross-checks
    * the cumulative rank selection (lower median, ⌈9n/10⌉ p90) against
    * in-memory order statistics on random distributions.
    */
  private[ops] def latencyPercentilesOf(values: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = values.groupBy("prio", "days").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("prio").orderBy("days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("prio")
    h.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wTot))
      .groupBy("prio")
      .agg(min(col("n")).as("n"),
        min(col("days")).as("min_days"),
        min(when(expr("cum >= (n + 1) div 2"), col("days"))).as("med_days"),
        min(when(expr("cum >= (9 * n + 9) div 10"), col("days"))).as("p90_days"),
        max(col("days")).as("max_days"))
      .orderBy("prio")
  }

  private def latencyHistogram(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"),
        col("o_orderpriority").as("prio"))
    latencyPercentilesOf(
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("prio"),
          datediff(col("sd"), col("od")).cast("long").as("days")))
  }

  private val latencyHistogramSql =
    """WITH j AS (SELECT o_orderpriority AS prio,
      |    CAST(datediff('day', CAST(o_orderdate AS DATE),
      |                  CAST(l_shipdate AS DATE)) AS BIGINT) AS days
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |h AS (SELECT prio, days, COUNT(*) AS cnt FROM j GROUP BY 1, 2),
      |c AS (SELECT *,
      |    SUM(cnt) OVER (PARTITION BY prio ORDER BY days) AS cum,
      |    SUM(cnt) OVER (PARTITION BY prio) AS n
      |  FROM h)
      |SELECT prio, CAST(MIN(n) AS BIGINT) AS n, MIN(days) AS min_days,
      |  CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN days END) AS BIGINT)
      |    AS med_days,
      |  CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN days END) AS BIGINT)
      |    AS p90_days,
      |  MAX(days) AS max_days
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_new_returning: the daily NEW vs RETURNING user split — the
  // growth-accounting decomposition every activity dashboard leads
  // with (is today's volume acquisition or retention?). A user is
  // "new" on their first-ever active day, "returning" on every later
  // active day.
  //
  // Scale shape: two chained aggregates on the HIGH-cardinality user
  // key — (user, day) dedup, then min(day) per user — followed by a
  // broadcast-free equi-join of two user-keyed aggregates and a final
  // calendar-sized rollup. No window anywhere: "first day" is an
  // ordinary min aggregate, and the join keys on user_id so both
  // sides co-partition. Output is |days| rows.
  // -------------------------------------------------------------------
  private def newReturning(spark: SparkSession, dir: String): DataFrame = {
    val ud = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .distinct()
    val first = ud.groupBy("user_id").agg(min(col("day")).as("first_day"))
    ud.join(first, Seq("user_id"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
      .withColumn("n_returning", col("n_active") - col("n_new"))
      .orderBy("day")
  }

  private[ops] val newReturningSql =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    strftime(ts, '%Y-%m-%d') AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY 1)
      |SELECT day, COUNT(*) AS n_active,
      |  CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new,
      |  CAST(COUNT(*) - SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_returning
      |FROM ud JOIN f USING (user_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_dow_hour_heat: the DAY-OF-WEEK × HOUR activity heatmap — the
  // first chart on every ops dashboard, and the table capacity
  // planning and anomaly baselines read from. Day-of-week is computed
  // PORTABLY as integer date arithmetic — ISO dow from days since the
  // 1970-01-01 (Thursday) epoch anchor: ((days mod 7) + 3) mod 7 + 1,
  // 1 = Monday — because the engines' dayofweek() builtins disagree
  // on week start (Spark 1=Sunday, DuckDB isodow 1=Monday) and
  // locale-name formatting is worse. Shares in exact ppm of the
  // corpus total (1-row aggregate, crossJoin-broadcast attach).
  //
  // Scale shape: ONE map-side-combined aggregate straight to ≤ 7×24
  // rows; nothing downstream is corpus-proportional.
  // -------------------------------------------------------------------
  private def dowHourHeat(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(
        expr("((datediff(to_date(ts), DATE '1970-01-01') % 7) + 3) % 7 + 1")
          .cast("long").as("iso_dow"),
        hour(col("ts")).cast("long").as("hh"))
      .groupBy("iso_dow", "hh").agg(count(lit(1)).as("n_events"))
    val tot = ev.agg(sum(col("n_events")).as("total"))
    ev.crossJoin(broadcast(tot))
      .select(col("iso_dow"), col("hh"), col("n_events"),
        expr("(n_events * 1000000L) div total").as("share_ppm"))
      .orderBy("iso_dow", "hh")
  }

  private val dowHourHeatSql =
    """WITH e AS (SELECT
      |    ((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7) + 3)
      |      % 7 + 1 AS iso_dow,
      |    hour(ts) AS hh
      |  FROM events),
      |h AS (SELECT iso_dow, hh, COUNT(*) AS n_events FROM e GROUP BY 1, 2),
      |t AS (SELECT SUM(n_events) AS total FROM h)
      |SELECT CAST(iso_dow AS BIGINT) AS iso_dow, CAST(hh AS BIGINT) AS hh,
      |  n_events,
      |  CAST(n_events * 1000000 // total AS BIGINT) AS share_ppm
      |FROM h, t ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_wow_growth: WEEK-OVER-WEEK volume growth per event type — the
  // trend line every metric review opens with. Weeks are PORTABLE
  // integer buckets (days-since-1970-01-01 div 7 — no engine week-of-
  // year/locale semantics); "previous" is the previous OBSERVED week
  // (lag over the per-type weekly aggregate). The signed change is
  // emitted as the raw difference `delta` — NEVER divided, because
  // Spark's `div` truncates toward zero while DuckDB's `//` floors,
  // and they disagree exactly on negative growth — while the
  // non-negative ratio n·1000 div prev carries the magnitude.
  //
  // Scale shape: one map-side aggregate to |types|·|weeks| rows; the
  // lag window runs over that calendar-bounded aggregate.
  // -------------------------------------------------------------------
  private def wowGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wk = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"),
        expr("datediff(to_date(ts), DATE '1970-01-01') div 7")
          .cast("long").as("week_idx"))
      .groupBy("event_type", "week_idx").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("week_idx")
    wk.withColumn("prev_n", lag(col("n"), 1).over(w))
      .filter(col("prev_n").isNotNull)
      .select(col("event_type"), col("week_idx"), col("n"), col("prev_n"),
        (col("n") - col("prev_n")).as("delta"),
        expr("(n * 1000L) div prev_n").as("ratio_permille"))
      .orderBy("event_type", "week_idx")
  }

  private val wowGrowthSql =
    """WITH wk AS (SELECT event_type,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
      |      AS week_idx,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |l AS (SELECT *,
      |    LAG(n) OVER (PARTITION BY event_type ORDER BY week_idx) AS prev_n
      |  FROM wk)
      |SELECT event_type, CAST(week_idx AS BIGINT) AS week_idx, n, prev_n,
      |  CAST(n - prev_n AS BIGINT) AS delta,
      |  CAST(n * 1000 // prev_n AS BIGINT) AS ratio_permille
      |FROM l WHERE prev_n IS NOT NULL ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_backtest_naive: FORECAST BACKTESTING as an operator — score the
  // two baselines every forecasting effort must beat, on the corpus's
  // own history: naive (tomorrow = today) and seasonal-naive
  // (tomorrow = same weekday last week), day-ahead, per event type.
  // Errors are exact integer absolute deviations; the output is the
  // per-type scorecard (scored days, Σ|err| for both baselines, and
  // the winner) — if seasonal-naive wins, the series has weekly
  // structure worth modeling; if naive wins, it doesn't. No division
  // anywhere: the comparison is on equal-length sums.
  //
  // Scale shape: daily counts collapse the corpus in one map-side
  // aggregate; both lags are windows over the calendar-bounded
  // (type, day) table; scoring starts at day 8 so both baselines
  // score the SAME days (else the comparison is apples-to-oranges).
  // -------------------------------------------------------------------
  private def backtestNaive(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"),
        expr("datediff(to_date(ts), DATE '1970-01-01')").cast("long")
          .as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("p1", lag(col("cnt"), 1).over(w))
      .withColumn("p7", lag(col("cnt"), 7).over(w))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 7)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("cnt") - col("p1"))).as("ae_naive"),
        sum(abs(col("cnt") - col("p7"))).as("ae_snaive"))
      .withColumn("winner",
        when(col("ae_snaive") < col("ae_naive"), "seasonal")
          .when(col("ae_naive") < col("ae_snaive"), "naive")
          .otherwise("tie"))
      .orderBy("event_type")
  }

  private val backtestNaiveSql =
    """WITH daily AS (SELECT event_type,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |l AS (SELECT *,
      |    LAG(cnt, 1) OVER (PARTITION BY event_type ORDER BY day) AS p1,
      |    LAG(cnt, 7) OVER (PARTITION BY event_type ORDER BY day) AS p7,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily)
      |SELECT event_type, COUNT(*) AS n_scored,
      |  CAST(SUM(ABS(cnt - p1)) AS BIGINT) AS ae_naive,
      |  CAST(SUM(ABS(cnt - p7)) AS BIGINT) AS ae_snaive,
      |  CASE WHEN SUM(ABS(cnt - p7)) < SUM(ABS(cnt - p1)) THEN 'seasonal'
      |       WHEN SUM(ABS(cnt - p1)) < SUM(ABS(cnt - p7)) THEN 'naive'
      |       ELSE 'tie' END AS winner
      |FROM l WHERE rn > 7 GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_changepoint: OFFLINE CHANGEPOINT detection per event type — the
  // single most-probable level-shift day in the daily volume series,
  // by the exact-integer CUSUM criterion: with C_t the cumulative
  // count through day t (of n days, total S), the deviation
  // D_t = n·C_t − t·S is n·(C_t − (t/n)·S) — the classic CUSUM excess
  // scaled by n so it stays in exact BIGINT (no rational means). The
  // changepoint is argmax |D_t| (earliest day on ties — which also
  // guarantees the argmax is never the last row for n ≥ 2, since
  // D_n ≡ 0, so both side means below are division-safe). Emits the
  // split-point day plus the exact before/after mean rates in
  // permille — the "did the level shift and by how much" audit.
  //
  // Scale shape: the corpus collapses in ONE map-side-combined
  // aggregate to |types|·|days| rows; every window below runs over
  // that calendar-bounded table (the documented small-window-over-
  // aggregate shape, never over fact rows). Magnitudes: |D_t| ≤
  // n·S ≤ days·|events| — int64-safe through sf100.
  // -------------------------------------------------------------------
  private def changepoint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"),
        expr("datediff(to_date(ts), DATE '1970-01-01')").cast("long")
          .as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val wTot = Window.partitionBy("event_type")
    val dev = daily
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("c", sum(col("cnt")).over(wOrd))
      .withColumn("n", count(lit(1)).over(wTot))
      .withColumn("s", sum(col("cnt")).over(wTot))
      .filter(col("n") >= 2)
      .withColumn("abs_dev", abs(col("n") * col("c") - col("t") * col("s")))
    val wSel = Window.partitionBy("event_type")
      .orderBy(col("abs_dev").desc, col("day").asc)
    dev.withColumn("rk", row_number().over(wSel))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        col("day").as("cp_day"),
        date_format(date_add(lit("1970-01-01").cast("date"),
          col("day").cast("int")), "yyyy-MM-dd").as("cp_date"),
        col("abs_dev").as("dev_scaled"),
        expr("(c * 1000L) div t").as("mean_before_permille"),
        expr("((s - c) * 1000L) div (n - t)").as("mean_after_permille"))
      .orderBy("event_type")
  }

  private val changepointSql =
    """WITH daily AS (SELECT event_type,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY day) AS c,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n,
      |    SUM(cnt) OVER (PARTITION BY event_type) AS s
      |  FROM daily),
      |d AS (SELECT *, ABS(n * c - t * s) AS abs_dev FROM w WHERE n >= 2),
      |r AS (SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY event_type ORDER BY abs_dev DESC, day) AS rk
      |  FROM d)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days,
      |  CAST(day AS BIGINT) AS cp_day,
      |  strftime(DATE '1970-01-01' + CAST(day AS INTEGER), '%Y-%m-%d')
      |    AS cp_date,
      |  CAST(abs_dev AS BIGINT) AS dev_scaled,
      |  CAST(c * 1000 // t AS BIGINT) AS mean_before_permille,
      |  CAST((s - c) * 1000 // (n - t) AS BIGINT) AS mean_after_permille
      |FROM r WHERE rk = 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_runs_test: the WALD–WOLFOWITZ runs audit per event type — is
  // the daily volume series random around its median, or does it
  // trend/cluster? Days are signed above/below the series' own lower
  // median (exact order statistic via the histogram-selection
  // discipline, ax_latency_histogram); tie days (= median) are
  // dropped per the standard test; runs = 1 + sign changes over the
  // kept days in day order. The expected run count under randomness,
  // E[R] = 2ab/(a+b) + 1, is emitted in exact permille (a, b ≥ 1
  // whenever both signs occur; single-sign series emit expected for
  // that degenerate case too since a+b ≥ 1 after the kept-row
  // filter). Observed ≪ expected ⇒ trending; ≫ ⇒ oscillating.
  //
  // Scale shape: identical substrate to ax_changepoint — one
  // map-side aggregate to the calendar-bounded daily table, then
  // median selection + lag over ≤ |types|·|days| rows.
  // -------------------------------------------------------------------
  private def runsTest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"),
        expr("datediff(to_date(ts), DATE '1970-01-01')").cast("long")
          .as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("event_type").orderBy("cnt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("event_type")
    val med = daily.groupBy("event_type", "cnt").agg(count(lit(1)).as("f"))
      .withColumn("cum", sum(col("f")).over(wCum))
      .withColumn("n", sum(col("f")).over(wTot))
      .groupBy("event_type")
      .agg(min(when(expr("cum >= (n + 1) div 2"), col("cnt")))
        .as("median_cnt"))
    val signed = daily.join(med, Seq("event_type"))
      .withColumn("sign",
        when(col("cnt") > col("median_cnt"), 1L)
          .when(col("cnt") < col("median_cnt"), -1L).otherwise(0L))
      .filter(col("sign") =!= 0L)
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    signed
      .withColumn("prev", lag(col("sign"), 1).over(wOrd))
      .withColumn("chg",
        when(col("prev").isNotNull && col("prev") =!= col("sign"), 1L)
          .otherwise(0L))
      .groupBy("event_type")
      .agg(min(col("median_cnt")).as("median_cnt"),
        sum(when(col("sign") === 1L, 1L).otherwise(0L)).as("n_above"),
        sum(when(col("sign") === -1L, 1L).otherwise(0L)).as("n_below"),
        (sum(col("chg")) + 1L).as("n_runs"))
      .withColumn("expected_runs_permille",
        expr("(2000L * n_above * n_below) div (n_above + n_below) + 1000L"))
      .orderBy("event_type")
  }

  private val runsTestSql =
    """WITH daily AS (SELECT event_type,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |h AS (SELECT event_type, cnt, COUNT(*) AS f FROM daily GROUP BY 1, 2),
      |c AS (SELECT *,
      |    SUM(f) OVER (PARTITION BY event_type ORDER BY cnt) AS cum,
      |    SUM(f) OVER (PARTITION BY event_type) AS n
      |  FROM h),
      |med AS (SELECT event_type,
      |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN cnt END) AS median_cnt
      |  FROM c GROUP BY 1),
      |sg AS (SELECT d.event_type, d.day, m.median_cnt,
      |    CASE WHEN d.cnt > m.median_cnt THEN 1
      |         WHEN d.cnt < m.median_cnt THEN -1 ELSE 0 END AS sign
      |  FROM daily d JOIN med m USING (event_type)),
      |k AS (SELECT *,
      |    LAG(sign) OVER (PARTITION BY event_type ORDER BY day) AS prev
      |  FROM sg WHERE sign <> 0)
      |SELECT event_type, CAST(MIN(median_cnt) AS BIGINT) AS median_cnt,
      |  CAST(SUM(CASE WHEN sign = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_above,
      |  CAST(SUM(CASE WHEN sign = -1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_below,
      |  CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> sign
      |    THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_runs,
      |  CAST(2000 * SUM(CASE WHEN sign = 1 THEN 1 ELSE 0 END)
      |    * SUM(CASE WHEN sign = -1 THEN 1 ELSE 0 END)
      |    // COUNT(*) + 1000 AS BIGINT) AS expected_runs_permille
      |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_trend_fit: exact-integer LINEAR TREND fit per event type — the
  // OLS slope of daily volume on the day index, carried as an exact
  // rational (slope_num/slope_den from the closed-form normal
  // equations: num = n·Σty − Σt·Σy, den = n·Σt² − (Σt)², den > 0 for
  // ≥ 2 distinct days). Division only happens once: slope_micro =
  // num·10⁶ div den, events/day in micro-units, sign-faithful —
  // Spark's `div` and DuckDB's integer `//` BOTH truncate toward
  // zero (verified on this very query's negative slopes), so the
  // quotient is portable as-is. The trend verdict is the num's sign.
  //
  // Scale shape: the same one-aggregate daily substrate; the
  // per-type sums are a second KB-scale aggregate. Magnitudes:
  // num·10⁶ ≤ days²·|events|·10⁶ — int64-safe at gate scales and
  // flagged for DECIMAL(38,0) beyond (ax_decimal_sum discipline).
  // -------------------------------------------------------------------
  private def trendFit(spark: SparkSession, dir: String): DataFrame = {
    val daily = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"),
        expr("datediff(to_date(ts), DATE '1970-01-01')").cast("long")
          .as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("day")).as("st"),
        sum(col("cnt")).as("sy"),
        sum(col("day") * col("cnt")).as("sty"),
        sum(col("day") * col("day")).as("stt"))
      .filter(col("n_days") >= 2)
      .withColumn("slope_num",
        col("n_days") * col("sty") - col("st") * col("sy"))
      .withColumn("slope_den",
        col("n_days") * col("stt") - col("st") * col("st"))
      .select(col("event_type"), col("n_days"), col("slope_num"),
        col("slope_den"),
        expr("(slope_num * 1000000L) div slope_den").as("slope_micro"),
        when(col("slope_num") > 0, "up")
          .when(col("slope_num") < 0, "down").otherwise("flat")
          .as("trend"))
      .orderBy("event_type")
  }

  private val trendFitSql =
    """WITH daily AS (SELECT event_type,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type, COUNT(*) AS n_days, SUM(day) AS st,
      |    SUM(cnt) AS sy, SUM(day * cnt) AS sty, SUM(day * day) AS stt
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n_days,
      |  CAST(n_days * sty - st * sy AS BIGINT) AS slope_num,
      |  CAST(n_days * stt - st * st AS BIGINT) AS slope_den,
      |  CAST((n_days * sty - st * sy) * 1000000
      |    // (n_days * stt - st * st) AS BIGINT) AS slope_micro,
      |  CASE WHEN n_days * sty - st * sy > 0 THEN 'up'
      |       WHEN n_days * sty - st * sy < 0 THEN 'down'
      |       ELSE 'flat' END AS trend
      |FROM s WHERE n_days >= 2 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_weekend_lift: WEEKEND vs WEEKDAY volume lift per event type —
  // the day-mix decomposition behind staffing and anomaly baselines
  // (a Saturday "drop" is usually just the weekend mix). Both sides
  // are mean daily volume over the type's ACTIVE days (portable ISO
  // dow from the epoch-day anchor, the ax_dow_hour_heat formula);
  // the lift is the exact rational (S_we·n_wd_days·1000) div
  // (S_wd·n_we_days) — no floating means, and the raw pieces ship
  // alongside so the ratio is auditable. Types without both weekday
  // and weekend activity drop out (division-safe, matched in the
  // oracle).
  //
  // Scale shape: one map-side-combined aggregate to |types|·|days|
  // rows, then a second KB-scale aggregate. Nothing downstream is
  // corpus-proportional.
  // -------------------------------------------------------------------
  private def weekendLift(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"),
        expr("datediff(to_date(ts), DATE '1970-01-01')").cast("long")
          .as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      .withColumn("is_we", expr("((day % 7) + 3) % 7 + 1 >= 6"))
      .groupBy("event_type")
      .agg(sum(when(col("is_we"), col("cnt")).otherwise(0L)).as("s_we"),
        sum(when(col("is_we"), 1L).otherwise(0L)).as("d_we"),
        sum(when(!col("is_we"), col("cnt")).otherwise(0L)).as("s_wd"),
        sum(when(!col("is_we"), 1L).otherwise(0L)).as("d_wd"))
      .filter(col("d_we") > 0 && col("d_wd") > 0 && col("s_wd") > 0)
      .select(col("event_type"), col("s_we"), col("d_we"), col("s_wd"),
        col("d_wd"),
        expr("(s_we * d_wd * 1000L) div (s_wd * d_we)")
          .as("lift_permille"))
      .orderBy("event_type")

  private val weekendLiftSql =
    """WITH daily AS (SELECT event_type,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type,
      |    ((day % 7) + 3) % 7 + 1 >= 6 AS is_we, cnt FROM daily),
      |s AS (SELECT event_type,
      |    SUM(CASE WHEN is_we THEN cnt ELSE 0 END) AS s_we,
      |    SUM(CASE WHEN is_we THEN 1 ELSE 0 END) AS d_we,
      |    SUM(CASE WHEN is_we THEN 0 ELSE cnt END) AS s_wd,
      |    SUM(CASE WHEN is_we THEN 0 ELSE 1 END) AS d_wd
      |  FROM t GROUP BY 1)
      |SELECT event_type, CAST(s_we AS BIGINT) AS s_we,
      |  CAST(d_we AS BIGINT) AS d_we, CAST(s_wd AS BIGINT) AS s_wd,
      |  CAST(d_wd AS BIGINT) AS d_wd,
      |  CAST(s_we * d_wd * 1000 // (s_wd * d_we) AS BIGINT)
      |    AS lift_permille
      |FROM s WHERE d_we > 0 AND d_wd > 0 AND s_wd > 0
      |ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_order_gap_stats: REPEAT-PURCHASE CADENCE — exact percentiles of
  // the days between a customer's consecutive orders, per market
  // segment: the replenishment-cycle table that churn models and
  // "send the reminder when the customer is due" campaigns read.
  // Gaps come from ONE lag() window over the HIGH-cardinality
  // o_custkey (each partition is one customer's short order history —
  // the documented inverse of the ntile trap); the percentile
  // selection reuses the bounded-support histogram core
  // (latencyPercentilesOf): calendar-day gaps have a few thousand
  // distinct values no matter how many customers back them, so the
  // selection runs over a KB-scale histogram. Same-day repeat orders
  // count as gap 0 — real cadence signal, kept.
  // -------------------------------------------------------------------
  private def orderGapStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    val gaps = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("od"))
      .withColumn("gap",
        datediff(col("od"), lag(col("od"), 1).over(w)).cast("long"))
      .filter(col("gap").isNotNull)
    val seg = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    latencyPercentilesOf(
      gaps.join(seg, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("prio"), col("gap").as("days")))
      .select(col("prio").as("segment"), col("n").as("n_gaps"),
        col("min_days").as("min_gap"), col("med_days").as("med_gap"),
        col("p90_days").as("p90_gap"), col("max_days").as("max_gap"))
      .orderBy("segment")
  }

  private val orderGapStatsSql =
    """WITH g AS (SELECT o_custkey,
      |    datediff('day',
      |      LAG(CAST(o_orderdate AS DATE)) OVER
      |        (PARTITION BY o_custkey
      |         ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
      |      CAST(o_orderdate AS DATE)) AS gap
      |  FROM orders),
      |j AS (SELECT c_mktsegment AS segment, CAST(gap AS BIGINT) AS days
      |  FROM g JOIN customer ON o_custkey = c_custkey
      |  WHERE gap IS NOT NULL),
      |h AS (SELECT segment, days, COUNT(*) AS cnt FROM j GROUP BY 1, 2),
      |c AS (SELECT *,
      |    SUM(cnt) OVER (PARTITION BY segment ORDER BY days) AS cum,
      |    SUM(cnt) OVER (PARTITION BY segment) AS n
      |  FROM h)
      |SELECT segment, CAST(MIN(n) AS BIGINT) AS n_gaps,
      |  MIN(days) AS min_gap,
      |  CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN days END) AS BIGINT)
      |    AS med_gap,
      |  CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN days END)
      |    AS BIGINT) AS p90_gap,
      |  MAX(days) AS max_gap
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_weekend_lift", weekendLift, weekendLiftSql),
    Gate("ax_order_gap_stats", orderGapStats, orderGapStatsSql),
    Gate("ax_changepoint", changepoint, changepointSql),
    Gate("ax_runs_test", runsTest, runsTestSql),
    Gate("ax_trend_fit", trendFit, trendFitSql),
    Gate("ax_backtest_naive", backtestNaive, backtestNaiveSql),
    Gate("ax_wow_growth", wowGrowth, wowGrowthSql),
    Gate("ax_twap", twap, twapSql),
    Gate("ax_latency_histogram", latencyHistogram, latencyHistogramSql),
    Gate("ax_new_returning", newReturning, newReturningSql),
    Gate("ax_dow_hour_heat", dowHourHeat, dowHourHeatSql)
  )
}
