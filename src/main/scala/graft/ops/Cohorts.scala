package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate

/** User-lifecycle analytics over the event log: funnel staging, cohort
  * retention, and gap-filled resampling — the three standard shapes of
  * product/behavior analysis a 100 TB event pipeline must serve.
  *
  * Scale notes common to all three: every per-user computation rides a
  * SINGLE hash shuffle on `user_id` (consecutive window functions over
  * the same partition spec reuse the child's partitioning — Catalyst
  * plans them as stacked Window nodes over one Exchange), and the final
  * reductions are partial-agg friendly. Nothing here widens with the
  * event count except that one keyed exchange.
  */
object Cohorts {

  // -------------------------------------------------------------------
  // ax_funnel_stages: ordered conversion funnel view → click → purchase.
  // A user "reaches" a stage only if the stage event happens AT OR AFTER
  // the time they reached the previous stage (the classic ordered-funnel
  // semantics; unordered counting wildly overstates conversion). Each
  // stage timestamp is a windowed conditional MIN that references the
  // previous stage's column, so the three stages are three chained
  // projections over ONE user_id exchange — not three scans, not three
  // shuffles. The output is a single row of stage counts.
  // -------------------------------------------------------------------
  private def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("vt",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("ct",
        min(when(col("event_type") === "click" && col("ts") >= col("vt"),
          col("ts"))).over(w))
      .withColumn("pt",
        min(when(col("event_type") === "purchase" && col("ts") >= col("ct"),
          col("ts"))).over(w))
      .select("user_id", "vt", "ct", "pt").distinct()
      .agg(
        count(lit(1)).as("n_users"),
        count(col("vt")).as("n_view"),
        count(col("ct")).as("n_view_click"),
        count(col("pt")).as("n_full_funnel"))
  }

  private val funnelStagesSql =
    """WITH w1 AS (
      |  SELECT user_id, event_type, ts,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id) AS vt
      |  FROM events),
      |w2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= vt THEN ts END)
      |    OVER (PARTITION BY user_id) AS ct
      |  FROM w1),
      |w3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= ct THEN ts END)
      |    OVER (PARTITION BY user_id) AS pt
      |  FROM w2),
      |u AS (SELECT DISTINCT user_id, vt, ct, pt FROM w3)
      |SELECT COUNT(*) AS n_users, COUNT(vt) AS n_view,
      |  COUNT(ct) AS n_view_click, COUNT(pt) AS n_full_funnel
      |FROM u""".stripMargin

  // -------------------------------------------------------------------
  // ax_retention_cohorts: classic cohort retention — users grouped by
  // the calendar day of their FIRST event (one windowed MIN over the
  // same user_id exchange), then distinct active users counted per
  // (cohort day, day offset) for the first week. COUNT(DISTINCT) here
  // is the real thing, not approx, so the oracle can hash-check it;
  // at 100 TB you'd swap in approx_count_distinct per cell or keep
  // exact — the Expand-based distinct aggregate is still one shuffle
  // on the (cohort, offset, user) triple.
  // -------------------------------------------------------------------
  private def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    graft.Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .withColumn("cohort", min(col("d")).over(w))
      .withColumn("offset", datediff(col("d"), col("cohort")))
      .filter(col("offset") <= 7)
      .groupBy("cohort", "offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        col("offset").cast("long").as("offset"), col("n_active"))
      .orderBy("cohort_day", "offset")
  }

  private val retentionCohortsSql =
    """WITH f AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d,
      |    MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort
      |  FROM events)
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
      |  CAST(date_diff('day', cohort, d) AS BIGINT) AS "offset",
      |  COUNT(DISTINCT user_id) AS n_active
      |FROM f
      |WHERE date_diff('day', cohort, d) <= 7
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_hourly_gapfill: resample the event stream to a dense hourly
  // grid, zero-filling hours with no traffic — the prerequisite for any
  // time-series model over event counts (a sparse groupBy silently
  // omits empty buckets). The grid is generated from the global
  // [min,max] hour (a 1-row aggregate) × the distinct event types, so
  // it is tiny and STAYS tiny at 100 TB (hours grow with wall time,
  // not data volume); the sparse counts are broadcast into a left join
  // against it — the fact table is touched exactly once.
  // -------------------------------------------------------------------
  private def hourlyGapfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
    // localCheckpoint materializes the tiny (h, type, cnt) aggregate so
    // the three consumers below share ONE scan of the fact table (and
    // no persist entry is left behind for the session to leak)
    val counts = ev.groupBy("h", "event_type").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // bounds and the type roster come from the already-reduced counts
    // aggregate (thousands of rows), NOT from the fact table
    val hours = counts.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("h"))
    val types = counts.select("event_type").distinct()
    hours.crossJoin(broadcast(types))
      .join(broadcast(counts), Seq("h", "event_type"), "left")
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), coalesce(col("cnt"), lit(0L)).as("n"))
      .orderBy("hour", "event_type")
  }

  private val hourlyGapfillSql =
    """WITH ev AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
      |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM ev),
      |hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |          FROM b),
      |types AS (SELECT DISTINCT event_type FROM ev),
      |counts AS (SELECT h, event_type, COUNT(*) AS cnt FROM ev GROUP BY 1, 2)
      |SELECT strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour, g.event_type,
      |  COALESCE(c.cnt, 0) AS n
      |FROM (SELECT h, event_type FROM hours CROSS JOIN types) g
      |LEFT JOIN counts c ON g.h = c.h AND g.event_type = c.event_type
      |ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_forward_fill: LOCF (last observation carried forward) — the
  // other half of resampling that zero-fill gap-filling can't express:
  // state-like series (balances, gauges, last-seen prices) must carry
  // the LAST OBSERVED value across silent hours, not zero. Dense grid
  // as in ax_hourly_gapfill (generated from the reduced aggregate, the
  // fact table is scanned once), then `last(v, ignoreNulls) OVER` a
  // per-type window — partitioned by the series key, never a global
  // unpartitioned window (LOCF at scale is per-key state, exactly like
  // its streaming twin `flatMapGroupsWithState`). Hours before a
  // type's first observation stay 0 by the COALESCE.
  // -------------------------------------------------------------------
  private def forwardFill(spark: SparkSession, dir: String): DataFrame = {
    val sums = graft.Tables.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("h", "event_type").agg(sum(col("c")).as("v"))
      .localCheckpoint()
    val hours = sums.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("h"))
    val types = sums.select("event_type").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("h")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    hours.crossJoin(broadcast(types))
      .join(broadcast(sums), Seq("h", "event_type"), "left")
      .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("v").as("raw_cents"),
        coalesce(col("filled"), lit(0L)).as("filled_cents"))
      .orderBy("hour", "event_type")
  }

  private val forwardFillSql =
    """WITH ev AS (SELECT date_trunc('hour', ts) AS h, event_type,
      |    CAST(round(value*100) AS BIGINT) AS c FROM events),
      |sums AS (SELECT h, event_type, CAST(SUM(c) AS BIGINT) AS v
      |         FROM ev GROUP BY 1, 2),
      |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM sums),
      |hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |          FROM b),
      |types AS (SELECT DISTINCT event_type FROM sums),
      |grid AS (
      |  SELECT g.h, g.event_type, s.v
      |  FROM (SELECT h, event_type FROM hours CROSS JOIN types) g
      |  LEFT JOIN sums s ON g.h = s.h AND g.event_type = s.event_type)
      |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
      |  v AS raw_cents,
      |  COALESCE(last_value(v IGNORE NULLS) OVER (
      |    PARTITION BY event_type ORDER BY h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
      |    AS filled_cents
      |FROM grid ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_error_spikes: trailing-window anomaly detection — hours where a
  // type's event count exceeds 2× its trailing-24h hourly average. The
  // fact table is FIRST reduced to the tiny (type, hour, n) series
  // (partial-agg groupBy), and only that series carries the RANGE
  // window (range, not rows: silent hours must count as zero in the
  // average, and a range frame over epoch-hours does that without
  // materializing them). The 2× test is integer cross-multiplication:
  // n·24 > 2·trailing ⇔ n > 2·(trailing/24).
  // -------------------------------------------------------------------
  private def errorSpikes(spark: SparkSession, dir: String): DataFrame = {
    val hourly = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .withColumn("he", expr("unix_timestamp(h) div 3600"))
    val w = Window.partitionBy("event_type").orderBy("he")
      .rangeBetween(-24, -1)
    hourly
      .withColumn("trailing", sum(col("n")).over(w))
      .filter(col("trailing").isNotNull &&
        col("n") * 24 > col("trailing") * 2)
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n"), col("trailing"))
      .orderBy("event_type", "hour")
  }

  private val errorSpikesSql =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |he AS (SELECT *, epoch(h) // 3600 AS he FROM hourly),
      |t AS (SELECT event_type, h, n,
      |    SUM(n) OVER (PARTITION BY event_type ORDER BY he
      |      RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS "trailing"
      |  FROM he)
      |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, n,
      |  CAST("trailing" AS BIGINT) AS "trailing"
      |FROM t
      |WHERE "trailing" IS NOT NULL AND n * 24 > "trailing" * 2
      |ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_rolling_dau: DAU next to rolling 7-day distinct users (WAU) per
  // day — the engagement pair every product dashboard leads with, and
  // the canonical "distinct over a sliding window" problem: COUNT
  // (DISTINCT) OVER a range frame doesn't exist in either engine, and
  // HLL sketches would make it approximate. The exact scale shape is
  // EXPAND-TO-WINDOW: dedup (user, day) once, explode each active day
  // to the ≤7 window days it contributes to (bounded 7× fan-out of the
  // already-deduped table, NOT of raw events), dedup (user, window
  // day), count. Two keyed aggregates, no window operator, no
  // per-day re-scan; the 7× factor is the price of exactness and is
  // why real dashboards cap the window (30-day MAU uses the same
  // shape at 30×, or switches to mergeable HLL — dd_hll_merge).
  // Window days are clamped to OBSERVED days so no phantom trailing
  // days appear.
  // -------------------------------------------------------------------
  /** exact per-day rolling-7 distinct users (d, n_wau7) — shared by
    * the exact report and the HLL twin's tolerance gate
    */
  private def wauExact(spark: SparkSession, dir: String): DataFrame = {
    val active = graft.Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val days = active.select(col("d")).distinct()
    active
      .select(col("user_id"),
        explode(expr("sequence(d, date_add(d, 6))")).as("wd"))
      .distinct()
      .join(days.select(col("d").as("wd")).hint("broadcast"), Seq("wd"),
        "left_semi")
      .groupBy(col("wd").as("d"))
      .agg(count(lit(1)).as("n_wau7"))
  }

  private def rollingDau(spark: SparkSession, dir: String): DataFrame = {
    val dau = graft.Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
      .groupBy("d").agg(count(lit(1)).as("n_dau"))
    dau.join(wauExact(spark, dir), "d")
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("n_dau"), col("n_wau7"))
      .orderBy("day")
  }

  // -------------------------------------------------------------------
  // ax_rolling_wau_hll: the AT-SCALE twin of ax_rolling_dau's window
  // metric — per-day HLL sketches (a few KB each, the same rollup
  // table as dd_hll_merge) unioned over the 7-day window, so the
  // rolling distinct estimate touches ONLY 7 sketches per day and the
  // raw events exactly once ever. This is the formulation that
  // survives a 30- or 90-day window where the exact expand-to-window
  // path pays window-times fan-out: sketch unions are O(window · days),
  // independent of event volume. Tolerance-gated per day against the
  // exact twin (2% band, lgk-12 error ≲1%), same pattern as
  // ax_ntile_approx next to ax_ntile_bins.
  // -------------------------------------------------------------------
  private def rollingWauHll(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val days = daily.select(col("d"))
    val est = daily
      .select(col("sk"), explode(expr("sequence(d, date_add(d, 6))")).as("wd"))
      .join(days.select(col("d").as("wd")).hint("broadcast"), Seq("wd"),
        "left_semi")
      .groupBy(col("wd").as("d"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    est.join(wauExact(spark, dir), "d")
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("n_wau7"),
        (abs(col("est") - col("n_wau7")) <= col("n_wau7") * 0.02)
          .cast("long").as("approx_ok"))
      .orderBy("day")
  }

  private val rollingWauHllSql =
    """WITH active AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |days AS (SELECT DISTINCT d FROM active),
      |win AS (
      |  SELECT DISTINCT a.user_id, dd.d AS wd
      |  FROM active a JOIN days dd ON dd.d BETWEEN a.d AND a.d + 6)
      |SELECT strftime(wd, '%Y-%m-%d') AS day, COUNT(*) AS n_wau7,
      |  CAST(1 AS BIGINT) AS approx_ok
      |FROM win GROUP BY wd ORDER BY day""".stripMargin

  private val rollingDauSql =
    """WITH active AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |days AS (SELECT DISTINCT d FROM active),
      |win AS (
      |  SELECT DISTINCT a.user_id, dd.d AS wd
      |  FROM active a JOIN days dd ON dd.d BETWEEN a.d AND a.d + 6),
      |dau AS (SELECT d, COUNT(*) AS n_dau FROM active GROUP BY 1),
      |wau AS (SELECT wd AS d, COUNT(*) AS n_wau7 FROM win GROUP BY 1)
      |SELECT strftime(dau.d, '%Y-%m-%d') AS day, n_dau, n_wau7
      |FROM dau JOIN wau USING (d) ORDER BY day""".stripMargin

  // -------------------------------------------------------------------
  // ax_attribution_linear: MULTI-TOUCH ATTRIBUTION — each purchase's
  // value is split EQUALLY across every view/click touch by the same
  // user in the preceding 24 h (linear attribution; ax_asof_view_
  // purchase is the last-touch special case). Credit is exact integer
  // division (cents div n — remainders truncate identically in both
  // engines), so per-channel credited revenue hash-matches.
  //
  // Scale shape: the point-in-interval join uses the ax_interval_
  // errors discipline — both sides bin to the DAY, purchases explode
  // to the ≤2 day-bins their look-back window touches, the join is a
  // plain equi-join on (user, day) with the exact time predicate as a
  // residual filter — never a per-user non-equi nested loop. Each
  // touch lives in exactly one bin, so no pair dedup is needed. The
  // per-purchase touch count is a window keyed on the purchase id
  // (high cardinality), then one small groupBy per channel. The
  // oracle runs the naive non-equi join (DuckDB IEJoin — fine at
  // oracle scale).
  // -------------------------------------------------------------------
  private def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.events(spark, dir)
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts").as("tts"),
        col("event_type").as("channel"),
        expr("CAST(unix_seconds(ts) div 86400 AS BIGINT)").as("day"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"),
        col("event_id").as("pid"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("day", explode(array(
        expr("CAST(unix_seconds(pts) div 86400 AS BIGINT)"),
        expr("CAST(unix_seconds(pts) div 86400 - 1 AS BIGINT)"))))
    purchases.join(touches, Seq("user_id", "day"))
      .filter(col("tts") >= col("pts") - expr("INTERVAL 24 HOURS") &&
        col("tts") < col("pts"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("pid")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touches"),
        sum(expr("cents div n")).as("credited_cents"))
      .orderBy("channel")
  }

  private val attributionLinearSql =
    """WITH t AS (SELECT user_id, ts AS tts, event_type AS channel
      |  FROM events WHERE event_type IN ('view', 'click')),
      |p AS (SELECT user_id, ts AS pts, event_id AS pid,
      |    CAST(round(value*100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |pairs AS (SELECT p.pid, p.cents, t.channel
      |  FROM p JOIN t ON p.user_id = t.user_id
      |    AND t.tts >= p.pts - INTERVAL 24 HOURS AND t.tts < p.pts),
      |n AS (SELECT *, COUNT(*) OVER (PARTITION BY pid) AS n FROM pairs)
      |SELECT channel, COUNT(*) AS n_touches,
      |  CAST(SUM(cents // n) AS BIGINT) AS credited_cents
      |FROM n GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_cohort_ltv: the cohort LIFETIME-VALUE curve — retention's
  // revenue sibling: purchase value accumulated per signup cohort by
  // age-in-days. "Does week-1 spend predict the cohort's eventual
  // value" is THE unit-economics question, and it reads directly off
  // this table. Same single user_id exchange as ax_retention_cohorts
  // (cohort = windowed MIN day over the user key), values in exact
  // integer cents; the running total is a window over the
  // (cohort, age) AGGREGATE — calendar² rows at most, never events —
  // at observed ages (gap ages carry no purchases and are skipped;
  // the cum is right-continuous across them).
  // -------------------------------------------------------------------
  private def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val daily = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("cohort", min(col("d")).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(col("cohort"), datediff(col("d"), col("cohort")).cast("long")
        .as("age"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("cents"))
    val cum = Window.partitionBy("cohort").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_cents", sum(col("cents")).over(cum))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        col("age"), col("n_purchases"), col("cents"), col("cum_cents"))
      .orderBy("cohort_day", "age")
  }

  private val cohortLtvSql =
    """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort
      |           FROM events GROUP BY 1),
      |p AS (SELECT e.user_id,
      |    datediff('day', f.cohort, CAST(e.ts AS DATE)) AS age, f.cohort,
      |    CAST(round(e.value * 100) AS BIGINT) AS cents
      |  FROM events e JOIN f USING (user_id)
      |  WHERE e.event_type = 'purchase'),
      |d AS (SELECT cohort, age, COUNT(*) AS n_purchases,
      |        SUM(cents) AS cents
      |      FROM p GROUP BY 1, 2)
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
      |  CAST(age AS BIGINT) AS age, n_purchases,
      |  CAST(cents AS BIGINT) AS cents,
      |  CAST(SUM(cents) OVER (PARTITION BY cohort ORDER BY age) AS BIGINT)
      |    AS cum_cents
      |FROM d ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_activity_streaks: GAPS-AND-ISLANDS — the distribution of
  // consecutive-calendar-day activity streaks across all users, the
  // engagement table behind "3-day streak" product mechanics and
  // habit-formation analyses. The island id is the classic constant:
  // day − row_number() is invariant within a run of consecutive days
  // and jumps at every gap — ONE window over the HIGH-cardinality
  // user key (each partition is one user's ≤|days| active days), no
  // self-joins, no recursion. Everything after the (user, island)
  // aggregate is a histogram: streak length → islands, distinct
  // users, share of all islands in exact ppm.
  // -------------------------------------------------------------------
  private def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("day")
    val islands = graft.Tables.events(spark, dir)
      .select(col("user_id"),
        expr("datediff(to_date(ts), DATE '1970-01-01')").cast("long")
          .as("day"))
      .distinct()
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("streak_len"))
    val h = islands.groupBy("streak_len")
      .agg(count(lit(1)).as("n_islands"),
        countDistinct(col("user_id")).as("n_users"))
    val tot = h.agg(sum(col("n_islands")).as("total"))
    h.crossJoin(broadcast(tot))
      .select(col("streak_len"), col("n_islands"), col("n_users"),
        expr("(n_islands * 1000000L) div total").as("share_ppm"))
      .orderBy("streak_len")
  }

  private val activityStreaksSql =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
      |  FROM events),
      |isl AS (SELECT user_id,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
      |      AS island
      |  FROM ud),
      |runs AS (SELECT user_id, island, COUNT(*) AS streak_len
      |  FROM isl GROUP BY 1, 2),
      |h AS (SELECT streak_len, COUNT(*) AS n_islands,
      |    COUNT(DISTINCT user_id) AS n_users
      |  FROM runs GROUP BY 1),
      |t AS (SELECT SUM(n_islands) AS total FROM h)
      |SELECT CAST(streak_len AS BIGINT) AS streak_len, n_islands, n_users,
      |  CAST(n_islands * 1000000 // total AS BIGINT) AS share_ppm
      |FROM h, t ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_budget_pacing: FIRST-CROSSING analysis — for each customer, the
  // order at which cumulative spend exceeds their budget (100× account
  // balance — a deterministic stand-in for a contract cap), rolled up
  // per market segment: how many customers exhaust, and the exact
  // median order-index at exhaustion. The running-sum-then-first-
  // crossing shape is the budget/quota/credit-limit pacing primitive
  // (ad pacing, prepaid burn-down, credit exposure all compute it).
  //
  // Scale shape: ONE cumulative window over the HIGH-cardinality
  // o_custkey (each partition = one customer's short order history),
  // then a per-customer min-rank aggregate and a segment rollup; the
  // median-at-exhaustion selection runs on the (segment, k) histogram
  // — order indexes have tiny bounded support. Negative balances
  // cross at their first order: deterministic, matched in the oracle.
  // -------------------------------------------------------------------
  private def budgetPacing(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"),
        (expr("CAST(round(c_acctbal) AS BIGINT)") * 100L).as("budget"))
    val firstCross = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("od"),
        expr("CAST(round(o_totalprice) AS BIGINT)").as("dollars"))
      .withColumn("cum", sum(col("dollars")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("k", row_number().over(w).cast("long"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("o_custkey")
      .agg(min(col("c_mktsegment")).as("segment"),
        min(when(col("cum") > col("budget"), col("k"))).as("k_exhaust"))
    val wCum = Window.partitionBy("segment").orderBy("k_exhaust")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("segment")
    val medK = firstCross.filter(col("k_exhaust").isNotNull)
      .groupBy("segment", "k_exhaust").agg(count(lit(1)).as("f"))
      .withColumn("cum", sum(col("f")).over(wCum))
      .withColumn("n", sum(col("f")).over(wTot))
      .groupBy("segment")
      .agg(min(when(expr("cum >= (n + 1) div 2"), col("k_exhaust")))
        .as("med_order_k"))
    firstCross.groupBy("segment")
      .agg(count(lit(1)).as("n_cust"),
        count(col("k_exhaust")).as("n_exhausted"))
      .join(medK, Seq("segment"), "left")
      .orderBy("segment")
  }

  private val budgetPacingSql =
    """WITH o AS (SELECT o_custkey, o_orderkey,
      |    CAST(o_orderdate AS DATE) AS od,
      |    CAST(round(o_totalprice) AS BIGINT) AS dollars
      |  FROM orders),
      |r AS (SELECT o_custkey,
      |    SUM(dollars) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey)
      |      AS k
      |  FROM o),
      |fc AS (SELECT r.o_custkey, MIN(c.c_mktsegment) AS segment,
      |    MIN(CASE WHEN r.cum > CAST(round(c.c_acctbal) AS BIGINT) * 100
      |        THEN r.k END) AS k_exhaust
      |  FROM r JOIN customer c ON r.o_custkey = c.c_custkey
      |  GROUP BY 1),
      |h AS (SELECT segment, k_exhaust, COUNT(*) AS f FROM fc
      |  WHERE k_exhaust IS NOT NULL GROUP BY 1, 2),
      |cu AS (SELECT *,
      |    SUM(f) OVER (PARTITION BY segment ORDER BY k_exhaust) AS cum,
      |    SUM(f) OVER (PARTITION BY segment) AS n
      |  FROM h),
      |med AS (SELECT segment,
      |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN k_exhaust END)
      |      AS med_order_k
      |  FROM cu GROUP BY 1)
      |SELECT fc.segment, COUNT(*) AS n_cust,
      |  COUNT(fc.k_exhaust) AS n_exhausted,
      |  CAST(med.med_order_k AS BIGINT) AS med_order_k
      |FROM fc LEFT JOIN med ON fc.segment = med.segment
      |GROUP BY 1, med.med_order_k ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_decile_lift: the GAINS/LIFT table — per engagement-decile share
  // of purchase value vs share of users, the chart every
  // targeting/curation decision reads ("does the top activity decile
  // carry outsized value"). The textbook phrasing is ntile(10) OVER
  // (ORDER BY score) — a GLOBAL SORT into one ordering, the classic
  // scale-killer this repo's window discipline bans. The scalable
  // phrasing used here: deciles are exact ORDER STATISTICS read off the
  // per-SCORE histogram — decile(u) = (10 · |users with smaller score|)
  // div n — so the only window runs over the DISTINCT-SCORE histogram
  // (bounded by score cardinality, not user count), ties share a decile
  // deterministically, and users attach their decile by an equi-join on
  // score. All arithmetic exact integers (cents, ppm shares,
  // truncating div on both engines).
  //
  // Scale shape: one events scan → per-user aggregate (the one
  // user-keyed exchange) → distinct-score histogram (tiny) + 1-row
  // totals, both broadcast back → 10-row final aggregate. No ntile, no
  // global sort, nothing data-proportional after the first aggregate.
  // -------------------------------------------------------------------
  /** Decile by order statistics off the distinct-score histogram —
    * decile(row) = (10 · |rows with strictly smaller score|) div n, so
    * ties share a decile deterministically and the only window is over
    * score CARDINALITY, never row count. Input must carry a `score`
    * column; all other columns pass through, plus `decile` and the
    * broadcast totals (`nu` rows, for the lift denominator). Exposed
    * for the fuzz differential (SelectionFuzzSpec).
    */
  private[ops] def decileAssign(u: DataFrame): DataFrame = {
    val totals = u.agg(count(lit(1)).as("nu"))
    val hist = u.groupBy("score").agg(count(lit(1)).as("c"))
      .withColumn("below",
        coalesce(sum(col("c")).over(
          Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("score"), col("below"))
    u.join(broadcast(hist), "score")
      .crossJoin(broadcast(totals))
      .withColumn("decile", expr("(10 * below) div nu"))
      .drop("below")
  }

  private def decileLift(spark: SparkSession, dir: String): DataFrame = {
    val u = graft.Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L))
          .as("score"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L))
          .as("cents"))
    val tot = u.agg(sum(col("cents")).as("tot"))
    decileAssign(u)
      .crossJoin(broadcast(tot))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"),
        sum(col("cents")).as("value_cents"),
        max(col("tot")).as("tot"), max(col("nu")).as("nu"))
      .select(col("decile"), col("n_users"), col("value_cents"),
        expr("(1000000 * value_cents) div tot").as("value_share_ppm"),
        expr("(((1000000 * value_cents) div tot) * nu) div n_users")
          .as("lift_ppm"))
      .orderBy("decile")
  }

  private val decileLiftSql =
    """WITH u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS score,
      |    SUM(CASE WHEN event_type = 'purchase'
      |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS cents
      |  FROM events GROUP BY 1),
      |n AS (SELECT COUNT(*) AS nu, SUM(cents) AS tot FROM u),
      |h AS (SELECT score, COUNT(*) AS c FROM u GROUP BY 1),
      |hh AS (SELECT score,
      |    COALESCE(SUM(c) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM h),
      |d AS (SELECT u.user_id, u.cents,
      |    CAST((10 * hh.below) // n.nu AS BIGINT) AS decile
      |  FROM u JOIN hh USING (score), n)
      |SELECT decile, COUNT(*) AS n_users,
      |  CAST(SUM(cents) AS BIGINT) AS value_cents,
      |  CAST((1000000 * SUM(cents)) // MIN(n.tot) AS BIGINT)
      |    AS value_share_ppm,
      |  CAST((((1000000 * SUM(cents)) // MIN(n.tot)) * MIN(n.nu)) // COUNT(*)
      |    AS BIGINT) AS lift_ppm
      |FROM d, n GROUP BY decile ORDER BY decile""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_decile_lift", decileLift, decileLiftSql),
    Gate("ax_activity_streaks", activityStreaks, activityStreaksSql),
    Gate("ax_budget_pacing", budgetPacing, budgetPacingSql),
    Gate("ax_cohort_ltv", cohortLtv, cohortLtvSql),
    Gate("ax_attribution_linear", attributionLinear, attributionLinearSql),
    Gate("ax_rolling_dau", rollingDau, rollingDauSql),
    Gate("ax_rolling_wau_hll", rollingWauHll, rollingWauHllSql),
    Gate("ax_error_spikes", errorSpikes, errorSpikesSql),
    Gate("ax_funnel_stages", funnelStages, funnelStagesSql),
    Gate("ax_retention_cohorts", retentionCohorts, retentionCohortsSql),
    Gate("ax_hourly_gapfill", hourlyGapfill, hourlyGapfillSql),
    Gate("ax_forward_fill", forwardFill, forwardFillSql)
  )
}
