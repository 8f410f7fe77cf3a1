package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate

/** Relational analytics surface over the driver's TPC-H-ish tables —
  * the category sweep of SURVEY.md §2b (joins, aggregations, grouping
  * sets, windows, sorts/top-k, set ops), each written the way it must be
  * written for a 1000-executor / 100 TB cluster:
  *
  *   - monetary values quantized to integer cents (`round(v*100)` →
  *     BIGINT) so aggregates are exact, deterministic, and
  *     oracle-comparable (double sums are order-dependent);
  *   - dimension joins broadcast (`broadcast(customer)`) — no shuffle of
  *     the fact table;
  *   - top-k via `orderBy.limit` (planned as TakeOrderedAndProject:
  *     per-partition heaps + single driver merge, never a global sort)
  *     or per-group via `row_number` window with explicit tiebreaks;
  *   - aggregations are hash-based with map-side partial aggregation;
  *     output ordered by group keys for deterministic comparison.
  */
object Analytics {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** exact integer cents from a 2-decimal double price */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  // -------------------------------------------------------------------
  // TPC-H Q1-style pricing summary: scan → partial agg → 6-group final
  // agg. One narrow shuffle of 6 rows per mapper at any scale.
  // -------------------------------------------------------------------
  private def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("sum_disc_price_cents"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  private val pricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
      |  CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
      |  COUNT(*) AS cnt
      |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  // -------------------------------------------------------------------
  // Broadcast dimension join: fact `orders` never shuffles; `customer`
  // (the dim) broadcasts. At 100 TB the fact side stays
  // shuffle-free; only the 6-row aggregate moves.
  // -------------------------------------------------------------------
  private def revenueBySegment(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer").select("c_custkey", "c_mktsegment")
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        sum(cents(col("o_totalprice"))).as("revenue_cents"),
        count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  private val revenueBySegmentSql =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // Anti / semi joins (NOT EXISTS / EXISTS). Spark plans broadcast-hash
  // anti when the right side is small; at scale the build side is the
  // distinct key set, not the full table.
  // -------------------------------------------------------------------
  private def custNoOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey")
      .orderBy("c_custkey")

  private val custNoOrdersSql =
    """SELECT c_custkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  private def custSemiNation(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_nationkey")

  private val custSemiNationSql =
    """SELECT c_nationkey, COUNT(*) AS n_customers FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // Per-group top-k: row_number window with explicit tiebreak — the
  // scalable dedup/top-k idiom (partition-local sort, no global sort).
  // Two gates plan the same query, under the same oracle:
  //   - ax_topn_rewrite on the session itself, where graft.plans'
  //     RewriteTopNPerGroup turns the row_number ≤ k idiom into bounded
  //     per-group HEAPS (partial before the exchange, final after) —
  //     no sort of anything larger than k rows, where the stock plan
  //     local-sorts every partition twice around the shuffle;
  //   - ax_topk_per_segment on Sessions.stockPlans, the stock Window
  //     plan: the baseline the rewrite is measured against.
  // The rewrite must be invisible in the answer and visible only in
  // the plan (TopNPerGroupSpec, SessionSeamSpec).
  // -------------------------------------------------------------------
  private def topkPerSegment(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer").select("c_custkey", "c_mktsegment")
    val joined = orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("price_cents").desc, col("o_orderkey").asc)
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy("c_mktsegment", "rn")
  }

  private def stockTopkPerSegment(spark: SparkSession, dir: String): DataFrame =
    topkPerSegment(graft.Sessions.stockPlans(spark), dir)

  private val topkPerSegmentSql =
    """SELECT c_mktsegment, o_orderkey, price_cents, rn FROM (
      |  SELECT c_mktsegment, o_orderkey,
      |    CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey ASC) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey) q
      |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin

  // -------------------------------------------------------------------
  // Global top-k: orderBy+limit → TakeOrderedAndProject (no full sort).
  // -------------------------------------------------------------------
  private def top100Orders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
      .orderBy(col("price_cents").desc, col("o_orderkey").asc)
      .limit(100)

  private val top100OrdersSql =
    """SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_cents
      |FROM orders ORDER BY price_cents DESC, o_orderkey ASC LIMIT 100""".stripMargin

  // -------------------------------------------------------------------
  // Grouping sets / rollup (null indicators coalesced for deterministic
  // cross-engine ordering).
  // -------------------------------------------------------------------
  private def rollupLineitem(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("cnt"), col("sum_qty"))
      .orderBy("flag", "status")

  private[ops] val rollupLineitemSql =
    """SELECT coalesce(l_returnflag,'ALL') AS flag,
      |  coalesce(l_linestatus,'ALL') AS status,
      |  COUNT(*) AS cnt, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin

  // -------------------------------------------------------------------
  // Full cube over the same keys (rollup's sibling grouping-set op).
  // -------------------------------------------------------------------
  private def cubeLineitem(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("cnt"), col("sum_qty"))
      .orderBy("flag", "status")

  private val cubeLineitemSql =
    """SELECT coalesce(l_returnflag,'ALL') AS flag,
      |  coalesce(l_linestatus,'ALL') AS status,
      |  COUNT(*) AS cnt, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin

  // -------------------------------------------------------------------
  // Pivot (wide conditional aggregation). The value list is explicit —
  // at scale an implicit pivot would first run a distinct job over the
  // pivot column; with known domains that scan is free. Planned as
  // stock Spark, so the inner aggregate is never served from a lineitem
  // rollup the session registered earlier: the plan shows the pivot
  // whatever ran before it (ax_mv_rewrite pins MV serving).
  // -------------------------------------------------------------------
  private def pivotLineitem(spark: SparkSession, dir: String): DataFrame =
    t(graft.Sessions.stockPlans(spark), dir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity").cast("long")))
      .orderBy("l_returnflag")

  private val pivotLineitemSql =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS F,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS O
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // Set op: INTERSECT distinct (hash-based, partial-aggregated).
  // -------------------------------------------------------------------
  private def buyersIntersect(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(col("o_custkey").as("custkey"))
      .intersect(t(spark, dir, "customer").select(col("c_custkey").as("custkey")))
      .orderBy("custkey")

  private val buyersIntersectSql =
    """SELECT o_custkey AS custkey FROM orders
      |INTERSECT SELECT c_custkey FROM customer ORDER BY custkey""".stripMargin

  // -------------------------------------------------------------------
  // Batch tumbling-window aggregation over the events table (hour
  // buckets; the Structured Streaming twin lives in graft.streaming).
  // Timestamps rendered as strings for engine-neutral comparison.
  // -------------------------------------------------------------------
  private def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("value"))).as("sum_value_cents"))
      .orderBy("hour", "event_type")

  private[ops] val eventsHourlySql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM events GROUP BY 1,2 ORDER BY hour, event_type""".stripMargin

  // -------------------------------------------------------------------
  // Sessionization: per-user 30-min-gap sessions via session_window
  // (one shuffle on user_id; Spark merges windows in state — the same
  // definition streams with bounded state, see graft.streaming). The
  // oracle is the classic gap-and-islands SQL: new session when the gap
  // to the previous event is >= 30 min (Spark's [start, last+gap)
  // exclusivity), running-sum the flags, aggregate per island.
  // -------------------------------------------------------------------
  private def sessionize(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.sessionsByUser(graft.Tables.events(spark, dir))
      .orderBy("user_id", "session_start")

  private val sessionizeSql =
    """WITH ordered AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |islands AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM ordered)
      |SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      |  user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM islands GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // -------------------------------------------------------------------
  // Exact distinct counting (shuffle on (type,user) then count) — the
  // exact twin; the approximate HLL version is in Dedup (not
  // oracle-comparable by construction).
  // -------------------------------------------------------------------
  private def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")

  private val distinctUsersSql =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // Exact percentiles (quartiles of price-in-cents per return flag).
  // Integer cents input + quartile fractions make the interpolation
  // `a + frac*(b-a)` exact in IEEE double (frac ∈ {0,.25,.5,.75}, spans
  // < 2^50), so Spark `percentile` and DuckDB `quantile_cont` agree
  // bit-for-bit; ×4 turns every quartile into an exact integer.
  // At scale this is a sort-free TypedImperativeAggregate (partial
  // aggregation per mapper, merge on 6 groups) — for wide-cardinality
  // columns swap to `approx_percentile` (t-digest) and drop the oracle.
  // -------------------------------------------------------------------
  private def percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .withColumn("c", cents(col("l_extendedprice")))
      .groupBy("l_returnflag")
      .agg(expr("percentile(c, array(0.25D, 0.5D, 0.75D))").as("ps"),
        count(lit(1)).as("cnt"))
      .select(col("l_returnflag"),
        (element_at(col("ps"), 1) * 4).cast("long").as("p25_x4"),
        (element_at(col("ps"), 2) * 4).cast("long").as("p50_x4"),
        (element_at(col("ps"), 3) * 4).cast("long").as("p75_x4"),
        col("cnt"))
      .orderBy("l_returnflag")

  private val percentilesSql =
    """SELECT l_returnflag,
      |  CAST(quantile_cont(c, 0.25) * 4 AS BIGINT) AS p25_x4,
      |  CAST(quantile_cont(c, 0.5)  * 4 AS BIGINT) AS p50_x4,
      |  CAST(quantile_cont(c, 0.75) * 4 AS BIGINT) AS p75_x4,
      |  COUNT(*) AS cnt
      |FROM (SELECT l_returnflag, CAST(round(l_extendedprice*100) AS BIGINT) AS c
      |      FROM lineitem)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_approx_quantiles: the WIDE-CARDINALITY percentile path the exact
  // query above points at — `approx_percentile` (KLL-style rank sketch,
  // a TypedImperativeAggregate with mergeable partials, so it scales to
  // any column cardinality without the exact operator's per-group value
  // buffer). The sketch value is engine-specific, so the gate contract
  // is the dd_approx_users tolerance pattern: emit the EXACT quartiles
  // (oracle-reproducible) plus `approx_ok` = all three sketch quartiles
  // within 2% of exact (accuracy 10000 → rank error ≤ n/10000, far
  // inside 2% of value on this distribution); the oracle asserts the
  // literal 1.
  // -------------------------------------------------------------------
  private def approxQuantiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .withColumn("c", cents(col("l_extendedprice")))
      .groupBy("l_returnflag")
      .agg(expr("percentile(c, array(0.25D, 0.5D, 0.75D))").as("ex"),
        expr("approx_percentile(c, array(0.25D, 0.5D, 0.75D), 10000)").as("ap"),
        count(lit(1)).as("cnt"))
      .select(col("l_returnflag"),
        (element_at(col("ex"), 1) * 4).cast("long").as("p25_x4"),
        (element_at(col("ex"), 2) * 4).cast("long").as("p50_x4"),
        (element_at(col("ex"), 3) * 4).cast("long").as("p75_x4"),
        expr("forall(zip_with(ap, ex, (a, b) -> abs(a - b) <= b * 0.02D), x -> x)")
          .cast("long").as("approx_ok"),
        col("cnt"))
      .orderBy("l_returnflag")

  private val approxQuantilesSql =
    """SELECT l_returnflag,
      |  CAST(quantile_cont(c, 0.25) * 4 AS BIGINT) AS p25_x4,
      |  CAST(quantile_cont(c, 0.5)  * 4 AS BIGINT) AS p50_x4,
      |  CAST(quantile_cont(c, 0.75) * 4 AS BIGINT) AS p75_x4,
      |  CAST(1 AS BIGINT) AS approx_ok,
      |  COUNT(*) AS cnt
      |FROM (SELECT l_returnflag, CAST(round(l_extendedprice*100) AS BIGINT) AS c
      |      FROM lineitem)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // Skew-salted fact-fact join: lineitem⋈orders with the orders side
  // replicated across `SaltFactor` salts and lineitem rows scattered by
  // a hash salt, so one hot orderkey spreads over SaltFactor reducers
  // instead of melting one. Same result as the plain join (the oracle
  // IS the plain join); the salt only reshapes the shuffle. At 100 TB
  // you'd salt only the keys a stats pass flags as hot, or lean on AQE
  // skew-split when the skew is mild.
  // -------------------------------------------------------------------
  private val SaltFactor = 8

  private def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .withColumn("salt",
        pmod(hash(col("l_partkey"), col("l_linenumber")), lit(SaltFactor)))
    val ord = t(spark, dir, "orders")
      .withColumn("salt", explode(array((0 until SaltFactor).map(lit): _*)))
    // MERGE hint: at test SF the replicated orders side is small enough
    // that AQE would broadcast it, which silently skips the very
    // shuffle the salt exists to reshape; force the at-scale plan.
    li.join(ord.hint("MERGE"),
        li("l_orderkey") === ord("o_orderkey") && li("salt") === ord("salt"))
      .groupBy("o_orderpriority")
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  private val saltedJoinSql =
    """SELECT o_orderpriority,
      |  CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_skew_profile: the measurement pass that DECIDES whether the
  // salted join above is needed — per-key cardinality distribution of
  // a join/grouping key, in one partial-agg groupBy + a 1-row global
  // aggregate + a top-k heap. Emits the 10 heaviest keys with their
  // permille share of all rows, carrying the global skew ratio
  // (hottest key vs mean key, ×1e3) on every row. At 100 TB this is
  // the cheap pre-flight that picks between a plain shuffle, AQE
  // skew-split, or explicit salting of the flagged keys — and its own
  // plan must not melt under the very skew it measures: per-key counts
  // partial-aggregate map-side, so the hot key contributes ONE row per
  // mapper to the shuffle, not its raw multiplicity.
  // -------------------------------------------------------------------
  private def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    val perKey = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val g = perKey.agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
      max(col("n")).as("max_n"))
    perKey.orderBy(col("n").desc, col("user_id").asc).limit(10)
      .crossJoin(broadcast(g))
      .select(col("user_id"), col("n"),
        expr("n * 1000 div n_rows").as("share_pm"),
        col("n_keys"), col("n_rows"),
        expr("max_n * n_keys * 1000 div n_rows").as("skew_ratio_e3"))
      .orderBy(col("n").desc, col("user_id").asc)
  }

  private val skewProfileSql =
    """WITH pk AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
      |g AS (SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
      |             CAST(MAX(n) AS BIGINT) AS max_n FROM pk)
      |SELECT user_id, n, n * 1000 // n_rows AS share_pm,
      |  n_keys, n_rows, max_n * n_keys * 1000 // n_rows AS skew_ratio_e3
      |FROM (SELECT * FROM pk ORDER BY n DESC, user_id ASC LIMIT 10) t, g
      |ORDER BY n DESC, user_id ASC""".stripMargin

  // -------------------------------------------------------------------
  // Window-function breadth in one pass: row_number / lag / lead /
  // ntile / cume_dist over the same (partition, order) — ONE shuffle +
  // ONE sort serves all five (they share the window spec; Spark plans a
  // single Window operator). Order is made total with the orderkey
  // tiebreak so every function is deterministic; cume_dist (a ratio of
  // two integers) is floored to micro-units for bit-stable comparison.
  // -------------------------------------------------------------------
  private[ops] def windowSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(spark, dir, "orders")
      .withColumn("seq", row_number().over(w))
      .withColumn("gap_days",
        datediff(col("o_orderdate"), lag("o_orderdate", 1).over(w)).cast("long"))
      .withColumn("next_price_cents", cents(lead("o_totalprice", 1).over(w)))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("cd_e6", floor(cume_dist().over(w) * 1000000).cast("long"))
      .select(col("o_orderkey"), col("o_custkey"), col("seq").cast("long").as("seq"),
        col("gap_days"), col("next_price_cents"), col("quartile"), col("cd_e6"))
      .orderBy("o_orderkey")
  }

  private[ops] val windowSuiteSql =
    """SELECT o_orderkey, o_custkey,
      |  CAST(row_number() OVER w AS BIGINT) AS seq,
      |  CAST(datediff('day', lag(o_orderdate, 1) OVER w, o_orderdate) AS BIGINT) AS gap_days,
      |  CAST(round(lead(o_totalprice, 1) OVER w * 100) AS BIGINT) AS next_price_cents,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cd_e6
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // Fuzzy matching: edit distance against a probe (codegen'd built-in
  // `levenshtein`, identical algorithm in DuckDB). Embarrassingly
  // parallel scan; a fuzzy self-JOIN at scale would block first (LSH
  // on n-grams — the Dedup machinery) and verify with this distance.
  // -------------------------------------------------------------------
  private val FuzzyProbe = "Customer#000000000"

  private def fuzzyName(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .withColumn("dist", levenshtein(col("c_name"), lit(FuzzyProbe)).cast("long"))
      .groupBy("c_mktsegment", "dist")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment", "dist")

  private val fuzzyNameSql =
    s"""SELECT c_mktsegment, CAST(levenshtein(c_name, '$FuzzyProbe') AS BIGINT) AS dist,
       |  COUNT(*) AS n
       |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_er_blocked: BLOCKED entity resolution — the fuzzy-match shape
  // that scales. A naive fuzzy join is n² distance evaluations; the
  // standard fix is blocking: equi-join on a cheap block key (here the
  // last 3 name chars, which survive the synthetic typo), THEN verify
  // candidates with the expensive edit distance. Distance work drops
  // from |A|·|B| to Σ per-block products, and the equi-join
  // shuffles/broadcasts like any other join — this is exactly how
  // LSH near-dup dedup works, with the block key as the "signature".
  // The dirty side is derived deterministically (every 7th customer's
  // name loses its 10th character) so DuckDB replays it; the audit row
  // reports candidate count vs verified matches — the blocking
  // efficiency a real ER pipeline monitors.
  // -------------------------------------------------------------------
  private def erBlocked(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").select(col("c_custkey"), col("c_name"))
    val dirty = cust.filter(pmod(col("c_custkey"), lit(7)) === 0)
      .select(col("c_custkey").as("src_key"),
        concat(substring(col("c_name"), 1, 9), expr("substring(c_name, 11)"))
          .as("dirty_name"))
    val cand = dirty.join(cust,
      expr("right(dirty_name, 3)") === expr("right(c_name, 3)"))
    val verified = cand
      .withColumn("dist", levenshtein(col("dirty_name"), col("c_name")))
      .filter(col("dist") <= 2)
    verified.agg(
      count(lit(1)).as("n_matches"),
      countDistinct(col("src_key")).as("n_src_matched"),
      sum(when(col("src_key") === col("c_custkey"), 1L).otherwise(0L))
        .as("n_true_matches"),
      sum(col("dist").cast("long")).as("dist_sum"))
  }

  private val erBlockedSql =
    """WITH dirty AS (
      |  SELECT c_custkey AS src_key,
      |    substring(c_name, 1, 9) || substring(c_name, 11) AS dirty_name
      |  FROM customer WHERE c_custkey % 7 = 0),
      |verified AS (
      |  SELECT d.src_key, c.c_custkey,
      |    levenshtein(d.dirty_name, c.c_name) AS dist
      |  FROM dirty d JOIN customer c
      |    ON right(d.dirty_name, 3) = right(c.c_name, 3)
      |  WHERE levenshtein(d.dirty_name, c.c_name) <= 2)
      |SELECT COUNT(*) AS n_matches,
      |  COUNT(DISTINCT src_key) AS n_src_matched,
      |  CAST(SUM(CASE WHEN src_key = c_custkey THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_true_matches,
      |  CAST(SUM(dist) AS BIGINT) AS dist_sum
      |FROM verified""".stripMargin

  // -------------------------------------------------------------------
  // ax_ship_priority: the classic "shipping priority" 3-way star join
  // (TPC-H Q3 shape, adapted to this schema): customers of one segment,
  // their orders placed before a cutoff, revenue from line items
  // shipped after it — top 10 orders by revenue. The scale plan:
  // customer(filtered) broadcasts into orders, the filtered orders side
  // (selective: one segment × date cut) broadcasts into the LINEITEM
  // scan, so the fact table never shuffles, and the top-k is a
  // TakeOrderedAndProject. At a scale where orders outgrow the
  // broadcast threshold, AQE falls back to a shuffled hash join on
  // o_orderkey — still one keyed exchange of the fact side.
  // -------------------------------------------------------------------
  private[ops] def shipPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderdate") < lit("1999-07-01"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") > lit("1999-07-01"))
    li.join(broadcast(orders), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("o_orderkey").asc)
      .limit(10)
  }

  private[ops] val shipPrioritySql =
    """SELECT l.l_orderkey AS o_orderkey,
      |  strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  CAST(SUM(CAST(round(l.l_extendedprice*(1.0-l.l_discount)*100) AS BIGINT))
      |    AS BIGINT) AS revenue_cents
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1999-07-01'
      |  AND l.l_shipdate > TIMESTAMP '1999-07-01'
      |GROUP BY 1, 2
      |ORDER BY revenue_cents DESC, o_orderkey ASC LIMIT 10""".stripMargin

  // -------------------------------------------------------------------
  // ax_trailing_revenue: event-time RANGE-frame window — for every
  // order, the customer's revenue over the trailing 90 DAYS (not 90
  // rows): `rangeBetween(-90, 0)` over the epoch-day order key. Range
  // frames are the piece of window breadth ax_window_suite doesn't
  // cover, and the portable formulation matters: both engines define
  // the frame by VALUE distance, so same-day peer rows are all
  // included regardless of tie order — the result is deterministic
  // without a unique sort key. One exchange on the customer key.
  // -------------------------------------------------------------------
  private def trailingRevenue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("epoch_day"))
      .rangeBetween(-90, 0)
    spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
          .as("epoch_day"),
        cents(col("o_totalprice")).as("price_cents"))
      .withColumn("trailing90_cents", sum(col("price_cents")).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("epoch_day"),
        col("trailing90_cents"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private[ops] val trailingRevenueSql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
      |    AS epoch_day,
      |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
      |    RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS trailing90_cents
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // ax_nation_volume: the "local supplier volume" query (TPC-H Q5
  // shape) — revenue from line items where the ordering CUSTOMER and
  // the supplying SUPPLIER sit in the same nation, one order-date year,
  // grouped by nation. Distinctive because the join graph has a CYCLE
  // (lineitem→orders→customer→nation and lineitem→supplier→nation must
  // agree on the nation): Catalyst resolves it with all four dimension
  // tables broadcast and the c_nationkey = s_nationkey equality applied
  // as a residual on the fact row — the lineitem table still never
  // shuffles. The date filter is pushed into the orders scan before its
  // broadcast (explain shows PushedFilters on o_orderdate).
  // -------------------------------------------------------------------
  private def nationVolume(spark: SparkSession, dir: String): DataFrame = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nation = spark.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey"), col("n_name"))
    spark.read.parquet(s"$dir/lineitem.parquet")
      .join(broadcast(orders), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("n_name").asc)
  }

  private val nationVolumeSql =
    """SELECT n.n_name,
      |  CAST(SUM(CAST(round(l.l_extendedprice*(1.0-l.l_discount)*100) AS BIGINT))
      |    AS BIGINT) AS revenue_cents
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  AND c.c_nationkey = s.s_nationkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1
      |ORDER BY revenue_cents DESC, n_name ASC""".stripMargin

  // -------------------------------------------------------------------
  // ax_revenue_share: ratio-to-report — each segment's share of total
  // revenue. The textbook formulation is `sum(x) OVER ()`, and at scale
  // it is a trap: an unpartitioned window moves EVERY row to one
  // reducer. The scale-right form aggregates per segment (partial aggs,
  // 5-row result), then crossJoin-broadcasts the 1-row total — no row
  // ever sees a single-reducer exchange. Share in exact parts-per-
  // million via integer floor division, staged as
  // (1000·rev) div (total div 1000) so every intermediate stays under
  // 2^55 through sf100 (1e6·rev overflows int64 already at sf1, where
  // Spark wraps silently but DuckDB widens to HUGEINT — the divergence
  // would land exactly at scale).
  // -------------------------------------------------------------------
  private def revenueShare(spark: SparkSession, dir: String): DataFrame = {
    val seg = t(spark, dir, "orders")
      .join(broadcast(t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"))
    val total = seg.agg(sum(col("revenue_cents")).as("total_cents"))
    seg.crossJoin(broadcast(total))
      .select(col("c_mktsegment"), col("revenue_cents"),
        expr("(1000 * revenue_cents) div (total_cents div 1000)").as("share_ppm"))
      .orderBy("c_mktsegment")
  }

  private val revenueShareSql =
    """WITH seg AS (
      |  SELECT c_mktsegment,
      |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |      AS revenue_cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1)
      |SELECT c_mktsegment, revenue_cents,
      |  CAST((1000 * revenue_cents) //
      |       ((SELECT SUM(revenue_cents) FROM seg) // 1000)
      |    AS BIGINT) AS share_ppm
      |FROM seg ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_excess_shippers: the TPC-H Q20 SHAPE — "suppliers who dominate
  // a part": every supplier with some part for which they shipped MORE
  // THAN A FIFTH of that part's total quantity. The naive formulation is a
  // correlated EXISTS against a per-part scalar subquery — per
  // candidate row, a re-aggregation of the part's lineitems. The
  // scale-right decorrelation: ONE composite-key fact shuffle
  // (groupBy(part, supplier) partial-aggregates map-side), then the
  // per-part total comes from a window over the 100×-smaller
  // (part, supplier) AGGREGATE — the fact table never re-shuffles and
  // no per-part scalar query ever runs. The dominance test
  // `5·qty_sp > qty_p` (more than a fifth of the part's total — the
  // threshold is the shape's parameter; TPC-H's own is one half of
  // availqty) stays in exact integer arithmetic (quantities
  // are integral doubles; both engines round-then-sum as BIGINT).
  // Supplier and nation dims broadcast onto the handful of dominant
  // rows. Output deterministic: unique s_name tiebreak.
  // -------------------------------------------------------------------
  private def excessShippers(spark: SparkSession, dir: String): DataFrame = {
    val sp = t(spark, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("qty_sp"))
    val w = Window.partitionBy("l_partkey")
    sp.withColumn("qty_p", sum(col("qty_sp")).over(w))
      .filter(col("qty_sp") * 5 > col("qty_p"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("dominated_parts"),
        sum(col("qty_sp")).as("dominated_qty"))
      .join(broadcast(t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      // the contract aggregates per supplier NAME (the SQL's GROUP BY
      // s_name, n_name) — keys and names are 1:1 in clean TPC-H data,
      // but the grain is the name, so re-aggregate the (already tiny)
      // qualifying rows after the dim join; the round-11 sf1 replica
      // (key-shifted copies sharing names) caught the finer-grain drift
      .groupBy(col("s_name"), col("n_name"))
      .agg(sum(col("dominated_parts")).as("dominated_parts"),
        sum(col("dominated_qty")).as("dominated_qty"))
      .select(col("s_name"), col("n_name").as("nation"),
        col("dominated_parts"), col("dominated_qty"))
      .orderBy(col("dominated_parts").desc, col("s_name").asc)
      .limit(50)
  }

  private val excessShippersSql =
    """WITH sp AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty_sp
      |  FROM lineitem GROUP BY 1, 2),
      |d AS (SELECT *, SUM(qty_sp) OVER (PARTITION BY l_partkey) AS qty_p
      |      FROM sp)
      |SELECT s_name, n_name AS nation,
      |  CAST(COUNT(*) AS BIGINT) AS dominated_parts,
      |  CAST(SUM(qty_sp) AS BIGINT) AS dominated_qty
      |FROM d
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE 5 * qty_sp > qty_p
      |GROUP BY s_name, n_name
      |ORDER BY dominated_parts DESC, s_name ASC LIMIT 50""".stripMargin

  // -------------------------------------------------------------------
  // ax_nullsafe_join: NULL-SAFE equality join (`<=>` / IS NOT DISTINCT
  // FROM). Plain `=` never matches NULL — rows with a missing join key
  // silently vanish from inner joins, the classic silent-data-loss bug
  // in pipelines whose keys are genuinely optional. The null-safe
  // operator treats NULL as a value (NULL <=> NULL is true), so the
  // missing-key populations join to each other and stay visible. The
  // fixture derives an optional bucket (keys 0-2 become NULL) from each
  // half of orders; the audit shows the NULL bucket pairing up like any
  // other — with plain `=` that row would not exist. Plans as a normal
  // hash join (null-safe equality is still an equi-key).
  // -------------------------------------------------------------------
  private def nullsafeJoin(spark: SparkSession, dir: String): DataFrame = {
    def side(parity: Int, n: String) =
      t(spark, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(2)) === parity)
        .withColumn("bkt",
          when(pmod(expr("o_orderkey div 2"), lit(10)) < 3, lit(null))
            .otherwise(pmod(expr("o_orderkey div 2"), lit(10))))
        .groupBy("bkt").agg(count(lit(1)).as(n))
    val e = side(0, "n_even")
    val o = side(1, "n_odd")
    e.join(o, e("bkt") <=> o("bkt"))
      .select(e("bkt"), col("n_even"), col("n_odd"))
      .orderBy(e("bkt").asc_nulls_first)
  }

  private val nullsafeJoinSql =
    """WITH e AS (
      |  SELECT CASE WHEN (o_orderkey // 2) % 10 < 3 THEN NULL
      |              ELSE (o_orderkey // 2) % 10 END AS bkt, COUNT(*) AS n_even
      |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
      |o AS (
      |  SELECT CASE WHEN (o_orderkey // 2) % 10 < 3 THEN NULL
      |              ELSE (o_orderkey // 2) % 10 END AS bkt, COUNT(*) AS n_odd
      |  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1)
      |SELECT e.bkt, e.n_even, o.n_odd
      |FROM e JOIN o ON e.bkt IS NOT DISTINCT FROM o.bkt
      |ORDER BY e.bkt NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // ax_late_suppliers: the TPC-H Q21 "suppliers who kept orders
  // waiting" shape — for finalized orders with MULTIPLE suppliers where
  // EXACTLY ONE shipped late (>90 days after the order date), blame
  // that supplier; count blamed orders per supplier of one nation. The
  // textbook phrasing is a double-correlated EXISTS + NOT EXISTS pair
  // (two extra passes over the fact). The scale-correct plan used here
  // DECORRELATES BY AGGREGATION: one orderkey-equi join of lineitem to
  // the filtered orders, then ONE per-order aggregate computes the
  // supplier count, the late-supplier count, and the blamed supplier
  // (max over a one-element set, guarded by n_late = 1) — the join
  // output is already hash-placed on the order key, so the aggregate
  // reuses that partitioning and the fact shuffles ONCE total. The
  // supplier→nation dim side broadcasts. Oracle: the identical
  // decorrelated aggregation in DuckDB (the EXISTS form is equivalent
  // by construction: n_supps>1 ⇔ another supplier exists; n_late=1 ⇔
  // no OTHER supplier was late).
  // -------------------------------------------------------------------
  private def lateSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val late = datediff(col("l_shipdate"), col("o_orderdate")) > 90
    // TWO-LEVEL aggregation instead of the double countDistinct: the
    // multi-distinct form planned an Expand that tripled every joined
    // row before the aggregate and chained three exchanges (round-14
    // plan audit). Per-(order, supplier) pre-aggregation is exact —
    // n_supps = COUNT of (order, supp) groups, n_late = SUM of the
    // per-supp any-late flag, late_supp = MAX over flagged supps —
    // and shuffles the reduced per-supplier rows once (guide §2.3:
    // aggregate before you shuffle).
    val perOrder = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(t(spark, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("l_suppkey"))
      .agg(max(when(late, 1L).otherwise(0L)).as("any_late"))
      .groupBy("o_orderkey")
      .agg(
        count(lit(1)).as("n_supps"),
        sum(col("any_late")).as("n_late"),
        max(when(col("any_late") === 1L, col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supps") > 1 && col("n_late") === 1)
    val supp = t(spark, dir, "supplier")
      .join(broadcast(t(spark, dir, "nation")
          .filter(col("n_name") === "NATION_19").select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    perOrder.groupBy("late_supp").agg(count(lit(1)).as("numwait"))
      .join(broadcast(supp), col("late_supp") === col("s_suppkey"))
      // per-NAME grain, as the SQL's GROUP BY s.s_name declares (see
      // excessShippers — same sf1-replica-caught drift): re-aggregate
      // the per-key counts over the handful of blamed suppliers
      .groupBy("s_name").agg(sum(col("numwait")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }

  private val lateSuppliersSql =
    """WITH j AS (
      |  SELECT l.l_orderkey, l.l_suppkey,
      |    CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE)
      |      + INTERVAL 90 DAY AS late
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE o.o_orderstatus = 'F'),
      |per_order AS (
      |  SELECT l_orderkey,
      |    COUNT(DISTINCT l_suppkey) AS n_supps,
      |    COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
      |    MAX(CASE WHEN late THEN l_suppkey END) AS late_supp
      |  FROM j GROUP BY 1
      |  HAVING COUNT(DISTINCT l_suppkey) > 1
      |     AND COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) = 1)
      |SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM per_order p
      |JOIN supplier s ON p.late_supp = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE n.n_name = 'NATION_19'
      |GROUP BY 1
      |ORDER BY numwait DESC, s_name ASC LIMIT 100""".stripMargin

  // -------------------------------------------------------------------
  // ax_small_quantity: the TPC-H Q17 "small-quantity order revenue"
  // SHAPE — revenue from lineitems whose quantity is below one fifth of
  // the part's own average quantity, for a dimension-filtered part
  // subset. The textbook phrasing is a correlated scalar subquery
  // (`l_quantity < 0.2 * (SELECT avg(l_quantity) WHERE l_partkey = …)`)
  // — a per-row re-aggregation. The scale-right decorrelation here is
  // ONE shuffle of the (dimension-pruned) fact on l_partkey and a
  // window over that same partitioning for the per-part sum/count — no
  // second join, no scalar subquery, and the window key is the
  // join key itself (millions of ~7-row partitions — the opposite of
  // the low-cardinality-window trap). The dimension filter
  // (p_size <= 5, the Brand#23/MED BOX analogue) broadcasts and prunes
  // the fact BEFORE the shuffle. The 1/5-of-average test stays in
  // exact integers: qty < sum/(5·cnt)  ⇔  5·qty·cnt < sum — no
  // double-precision average ever materializes, so Spark and DuckDB
  // agree bit-for-bit at any scale.
  // -------------------------------------------------------------------
  private def smallQuantity(spark: SparkSession, dir: String): DataFrame = {
    val smallParts = t(spark, dir, "part")
      .filter(col("p_size") <= 5)
      .select(col("p_partkey"), col("p_brand"))
    val f = t(spark, dir, "lineitem")
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("p_brand"),
        round(col("l_quantity")).cast("long").as("qty"),
        cents(col("l_extendedprice")).as("price_cents"))
    val w = Window.partitionBy("l_partkey")
    f.withColumn("sum_q", sum(col("qty")).over(w))
      .withColumn("cnt_q", count(lit(1)).over(w))
      .filter(col("qty") * 5 * col("cnt_q") < col("sum_q"))
      .groupBy("p_brand")
      .agg(sum(col("price_cents")).as("small_rev_cents"),
        count(lit(1)).as("small_lines"))
      .orderBy("p_brand")
  }

  private val smallQuantitySql =
    """WITH f AS (
      |  SELECT l.l_partkey, p.p_brand,
      |    CAST(round(l.l_quantity) AS BIGINT) AS qty,
      |    CAST(round(l.l_extendedprice*100) AS BIGINT) AS price_cents
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  WHERE p.p_size <= 5),
      |s AS (
      |  SELECT *, SUM(qty) OVER (PARTITION BY l_partkey) AS sum_q,
      |         COUNT(*) OVER (PARTITION BY l_partkey) AS cnt_q
      |  FROM f)
      |SELECT p_brand,
      |  CAST(SUM(price_cents) AS BIGINT) AS small_rev_cents,
      |  COUNT(*) AS small_lines
      |FROM s WHERE 5 * qty * cnt_q < sum_q
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_idle_customers: the TPC-H Q22 "global sales opportunity" SHAPE —
  // customers from a nation subset whose balance exceeds the average
  // POSITIVE balance of that subset, and who have placed no RECENT
  // orders (none since 1999 — every synthetic customer has some order,
  // so the interesting population is the lapsed one, exactly Q22's
  // spirit). Two classic decorrelations in one query: (1) the
  // scalar-subquery threshold becomes a 1-row aggregate
  // crossJoin-broadcast onto the customer scan (no per-row subquery, no
  // unpartitioned window); the above-average test stays exact-integer —
  // bal > sum/n ⇔ bal·n > sum; (2) NOT EXISTS(recent orders) becomes a
  // LEFT ANTI join against the DISTINCT custkey projection of the
  // date-pruned orders scan — at 100 TB the anti join shuffles only the
  // narrow key column of each side, with map-side partial distinct
  // collapsing the ~10-per-customer duplication before the exchange,
  // and the date filter reaching the parquet scan as a pushed predicate.
  // Output: per-nation count + total balance of the idle above-average
  // customers.
  // -------------------------------------------------------------------
  private def idleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val sel = t(spark, dir, "customer")
      .filter(col("c_nationkey") < 10)
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).as("bal_cents"))
    val thr = sel.filter(col("bal_cents") > 0)
      .agg(sum(col("bal_cents")).as("thr_sum"), count(lit(1)).as("thr_n"))
    sel.crossJoin(broadcast(thr))
      .filter(col("bal_cents") * col("thr_n") > col("thr_sum"))
      .join(t(spark, dir, "orders")
          .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
          .select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal_cents")).as("total_bal_cents"))
      .orderBy("c_nationkey")
  }

  private val idleCustomersSql =
    """WITH sel AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents
      |  FROM customer WHERE c_nationkey < 10),
      |thr AS (
      |  SELECT SUM(bal_cents) AS thr_sum, COUNT(*) AS thr_n
      |  FROM sel WHERE bal_cents > 0)
      |SELECT c_nationkey, COUNT(*) AS numcust,
      |  CAST(SUM(bal_cents) AS BIGINT) AS total_bal_cents
      |FROM sel, thr
      |WHERE bal_cents * thr_n > thr_sum
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = sel.c_custkey
      |                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_join_explosion: JOIN-CARDINALITY PRE-ESTIMATION — compute the
  // exact output size of an equi-join from per-key histograms BEFORE
  // running it: |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k). The guard every
  // pipeline needs in front of a suspicious join: the profile costs
  // two narrow key-count aggregates plus a join OF AGGREGATES (rows ∝
  // distinct keys, not facts) — orders of magnitude cheaper than
  // discovering the explosion by running it, and the same arithmetic
  // flags the skew contribution (max single-key product) that decides
  // salting. The gate then runs the real join and asserts the
  // prediction EXACTLY — for an equi-join the histogram estimate is
  // not an estimate, it is an identity, which is precisely why it is
  // trustworthy enough to gate a 100 TB job on. (The fact-side join
  // here is lineitem⋈orders per orderkey — predicted, then measured.)
  // -------------------------------------------------------------------
  private def joinExplosion(spark: SparkSession, dir: String): DataFrame = {
    val ca = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("na"))
    val cb = t(spark, dir, "orders")
      .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("nb"))
    val pred = ca.join(cb, Seq("k"))
      .agg(sum(col("na") * col("nb")).as("predicted_rows"),
        max(col("na") * col("nb")).as("max_key_rows"),
        count(lit(1)).as("n_join_keys"))
    val actual = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("actual_rows"))
    pred.crossJoin(broadcast(actual))
      .select(col("predicted_rows"), col("actual_rows"),
        (col("predicted_rows") === col("actual_rows")).cast("long")
          .as("prediction_exact"),
        col("max_key_rows"), col("n_join_keys"))
  }

  private val joinExplosionSql =
    """WITH ca AS (SELECT l_orderkey AS k, COUNT(*) AS na
      |            FROM lineitem GROUP BY 1),
      |cb AS (SELECT o_orderkey AS k, COUNT(*) AS nb
      |       FROM orders GROUP BY 1),
      |p AS (SELECT CAST(SUM(na*nb) AS BIGINT) AS predicted_rows,
      |        CAST(MAX(na*nb) AS BIGINT) AS max_key_rows,
      |        COUNT(*) AS n_join_keys
      |      FROM ca JOIN cb USING (k)),
      |a AS (SELECT COUNT(*) AS actual_rows
      |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |SELECT predicted_rows, actual_rows,
      |  CAST(CASE WHEN predicted_rows = actual_rows THEN 1 ELSE 0 END
      |    AS BIGINT) AS prediction_exact,
      |  max_key_rows, n_join_keys
      |FROM p, a""".stripMargin

  // -------------------------------------------------------------------
  // ax_order_count_dist: the TPC-H Q13 "customer distribution" SHAPE —
  // how many customers placed exactly k orders, INCLUDING k = 0. The
  // zero bucket is the whole point (and the classic bug): an inner
  // join silently drops order-less customers, so the left outer join
  // must come first and count o_orderkey (not *) so unmatched rows
  // count as 0. Double aggregation: per-customer counts (shuffle on
  // the customer key, map-side partials), then the tiny k-histogram.
  // At 100 TB the first aggregate is the only data-proportional stage;
  // the histogram is ≤ max-orders-per-customer rows. Output ordered by
  // descending customer count then k (Q13's own ordering).
  // -------------------------------------------------------------------
  private def orderCountDist(spark: SparkSession, dir: String): DataFrame = {
    val perCust = t(spark, dir, "customer")
      .select(col("c_custkey"))
      .join(t(spark, dir, "orders")
          .filter(!col("o_orderpriority").startsWith("1"))
          .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val orderCountDistSql =
    """WITH per_cust AS (
      |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      |  FROM customer c
      |  LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
      |    AND o.o_orderpriority NOT LIKE '1%'
      |  GROUP BY 1)
      |SELECT c_count, COUNT(*) AS custdist
      |FROM per_cust GROUP BY 1
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // -------------------------------------------------------------------
  // ax_target_oof: LEAKAGE-SAFE (out-of-fold) TARGET ENCODING — the
  // deployable form of ax_target_encode (Stats.scala): the tabular-ML
  // feature every training pipeline computes and most compute WRONG:
  // replacing a category with the mean of its target leaks each row's
  // own label into its feature (a rare category memorizes itself), so
  // the deployable form is OUT-OF-FOLD — row r's encoding comes only
  // from folds other than r's. The distributed form needs NO per-row
  // second pass: aggregate (category, fold) partials once, roll them up
  // to category totals, and the OOF encoding for fold f is the totals
  // MINUS f's own partial — (Σ_c − Σ_cf) smoothed toward the global
  // prior with m = 20 pseudo-counts. Folds hash from user_id (the
  // leakage unit: rows of one user share a fold). All arithmetic exact
  // integer milli-cents with truncating division on both engines; the
  // emitted leak_delta_milli per (category, fold) is the measured
  // memorization the OOF form removes.
  //
  // Scale shape: one scan → one (category × fold)-keyed partial
  // aggregate (≤ types·folds rows) → the rollup and the subtraction run
  // on that aggregate; the 1-row global prior broadcasts. Nothing after
  // the first aggregate is data-proportional; applying the encoding to
  // rows at train time is a broadcast map-side join of this ≤ 25-row
  // table.
  // -------------------------------------------------------------------
  private val TeSmooth = 20L

  private def targetOof(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_type"),
        pmod(col("user_id"), lit(5L)).as("fold"),
        round(col("value") * 100).cast("long").as("cents"))
    val cf = ev.groupBy("event_type", "fold")
      .agg(sum(col("cents")).as("sum_cf"), count(lit(1)).as("cnt_cf"))
    val c = cf.groupBy("event_type")
      .agg(sum(col("sum_cf")).as("sum_c"), sum(col("cnt_cf")).as("cnt_c"))
    val g = cf.agg(sum(col("sum_cf")).as("gsum"), sum(col("cnt_cf")).as("gcnt"))
      .select(expr("(1000 * gsum) div gcnt").as("prior_milli"))
    cf.join(broadcast(c), "event_type")
      .crossJoin(broadcast(g))
      .select(col("event_type"), col("fold"), col("cnt_cf").as("n_rows"),
        expr(s"(1000 * (sum_c - sum_cf) + $TeSmooth * prior_milli) div " +
          s"(cnt_c - cnt_cf + $TeSmooth)").as("enc_oof_milli"),
        expr(s"(1000 * sum_c + $TeSmooth * prior_milli) div " +
          s"(cnt_c + $TeSmooth)").as("enc_full_milli"))
      .withColumn("leak_delta_milli",
        col("enc_full_milli") - col("enc_oof_milli"))
      .orderBy("event_type", "fold")
  }

  private val targetOofSql =
    s"""WITH ev AS (SELECT event_type, user_id % 5 AS fold,
       |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
       |cf AS (SELECT event_type, fold, SUM(cents) AS sum_cf,
       |    COUNT(*) AS cnt_cf FROM ev GROUP BY 1, 2),
       |c AS (SELECT event_type, SUM(sum_cf) AS sum_c, SUM(cnt_cf) AS cnt_c
       |  FROM cf GROUP BY 1),
       |g AS (SELECT CAST((1000 * SUM(sum_cf)) // SUM(cnt_cf) AS BIGINT)
       |    AS prior_milli FROM cf)
       |SELECT cf.event_type, cf.fold, cf.cnt_cf AS n_rows,
       |  CAST((1000 * (c.sum_c - cf.sum_cf) + $TeSmooth * g.prior_milli) //
       |    (c.cnt_c - cf.cnt_cf + $TeSmooth) AS BIGINT) AS enc_oof_milli,
       |  CAST((1000 * c.sum_c + $TeSmooth * g.prior_milli) //
       |    (c.cnt_c + $TeSmooth) AS BIGINT) AS enc_full_milli,
       |  CAST((1000 * c.sum_c + $TeSmooth * g.prior_milli) //
       |    (c.cnt_c + $TeSmooth)
       |    - (1000 * (c.sum_c - cf.sum_cf) + $TeSmooth * g.prior_milli) //
       |    (c.cnt_c - cf.cnt_cf + $TeSmooth) AS BIGINT) AS leak_delta_milli
       |FROM cf JOIN c USING (event_type), g
       |ORDER BY event_type, fold""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_target_oof", targetOof, targetOofSql),
    Gate("ax_order_count_dist", orderCountDist, orderCountDistSql),
    Gate("ax_join_explosion", joinExplosion, joinExplosionSql),
    Gate("ax_small_quantity", smallQuantity, smallQuantitySql),
    Gate("ax_idle_customers", idleCustomers, idleCustomersSql),
    Gate("ax_late_suppliers", lateSuppliers, lateSuppliersSql),
    Gate("ax_nullsafe_join", nullsafeJoin, nullsafeJoinSql),
    Gate("ax_revenue_share", revenueShare, revenueShareSql),
    Gate("ax_excess_shippers", excessShippers, excessShippersSql),
    Gate("ax_nation_volume", nationVolume, nationVolumeSql),
    Gate("ax_trailing_revenue", trailingRevenue, trailingRevenueSql),
    Gate("ax_ship_priority", shipPriority, shipPrioritySql),
    Gate("ax_window_suite", windowSuite, windowSuiteSql),
    Gate("ax_fuzzy_name", fuzzyName, fuzzyNameSql),
    Gate("ax_er_blocked", erBlocked, erBlockedSql),
    Gate("ax_percentiles", percentiles, percentilesSql),
    Gate("ax_approx_quantiles", approxQuantiles, approxQuantilesSql),
    Gate("ax_salted_join", saltedJoin, saltedJoinSql),
    Gate("ax_skew_profile", skewProfile, skewProfileSql),
    Gate("ax_pricing_summary", pricingSummary, pricingSummarySql),
    Gate("ax_revenue_by_segment", revenueBySegment, revenueBySegmentSql),
    Gate("ax_cust_no_orders", custNoOrders, custNoOrdersSql),
    Gate("ax_cust_semi_nation", custSemiNation, custSemiNationSql),
    Gate("ax_topk_per_segment", stockTopkPerSegment, topkPerSegmentSql),
    Gate("ax_topn_rewrite", topkPerSegment, topkPerSegmentSql),
    Gate("ax_top100_orders", top100Orders, top100OrdersSql),
    Gate("ax_rollup_lineitem", rollupLineitem, rollupLineitemSql),
    Gate("ax_cube_lineitem", cubeLineitem, cubeLineitemSql),
    Gate("ax_pivot_lineitem", pivotLineitem, pivotLineitemSql),
    Gate("ax_buyers_intersect", buyersIntersect, buyersIntersectSql),
    Gate("ax_events_hourly", eventsHourly, eventsHourlySql),
    Gate("ax_sessionize", sessionize, sessionizeSql),
    Gate("ax_distinct_users", distinctUsers, distinctUsersSql)
  )
}
