package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.GraftFunctions._
import graft.polarify.Corpus
import graft.Gate

/** The SQL front door: a compiled polarify program registered in the
  * session FunctionRegistry and invoked from `spark.sql` text — the
  * analogue of calling the reference's `@polarify`-decorated function
  * (ref polarify/__init__.py:40-53), but from SQL. The registered name
  * expands during analysis into the same codegen'd CaseWhen the
  * DataFrame path plans (no UDF; see [[graft.functions.GraftFunctions]]),
  * so this query's oracle is byte-identical to `pf_signum`'s.
  */
object SqlSurface {

  private val signum = Corpus.all.find(_.name == "signum").get.program

  private val xSql = "(CAST(l_quantity AS BIGINT) - 25)"

  private def signumViaSql(spark: SparkSession, dir: String): DataFrame = {
    registerProgram(spark, "graft_signum", Seq("x"), signum)
    spark.read.parquet(s"$dir/lineitem.parquet")
      .createOrReplaceTempView("graft_sql_lineitem")
    spark.sql(
      s"""SELECT DISTINCT CAST(l_quantity AS BIGINT) - 25 AS x,
         |  CAST(graft_signum(CAST(l_quantity AS BIGINT) - 25) AS BIGINT) AS r
         |FROM graft_sql_lineitem ORDER BY x""".stripMargin)
  }

  private val signumViaSqlOracle = {
    val caseSql = signum.sql(Map("x" -> xSql))
    s"SELECT DISTINCT $xSql AS x, CAST(($caseSql) AS BIGINT) AS r " +
      "FROM lineitem ORDER BY x"
  }

  /** Full multi-table analytics through `spark.sql` TEXT — proof the
    * SQL front door plans real star-join queries, not just scalar
    * function calls. The text is the SAME shipping-priority query as
    * ax_ship_priority (whose DataFrame plan the PlanShapeSpec guards);
    * Catalyst plans both identically from either surface, which is the
    * point: surface choice must never cost plan quality.
    */
  private def shipPriorityViaSql(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet")
        .createOrReplaceTempView(s"graft_sql_$t")
    }
    spark.sql(
      """SELECT l.l_orderkey AS o_orderkey,
        |  date_format(o.o_orderdate, 'yyyy-MM-dd') AS o_orderdate,
        |  SUM(CAST(round(l.l_extendedprice*(1.0-l.l_discount)*100) AS BIGINT))
        |    AS revenue_cents
        |FROM graft_sql_lineitem l
        |JOIN graft_sql_orders o ON l.l_orderkey = o.o_orderkey
        |JOIN graft_sql_customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1999-07-01'
        |  AND l.l_shipdate > TIMESTAMP '1999-07-01'
        |GROUP BY 1, 2
        |ORDER BY revenue_cents DESC, o_orderkey ASC LIMIT 10""".stripMargin)
  }

  /** Correlated scalar subquery — "parts that hit their brand's maximum
    * price". Catalyst DECORRELATES it (RewriteCorrelatedScalarSubquery):
    * the per-brand MAX becomes one hash aggregate joined back on
    * p_brand, so the plan is two scans + a broadcast join, NOT a
    * re-executed subquery per row — the difference between O(n) and
    * O(n²) at any scale. Prices compared in exact integer cents so the
    * boundary (= MAX) is engine-portable.
    */
  private def brandMaxViaSql(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(s"$dir/part.parquet")
      .createOrReplaceTempView("graft_sql_part")
    spark.sql(
      """SELECT p.p_brand, p.p_partkey,
        |  CAST(round(p.p_retailprice*100) AS BIGINT) AS price_cents
        |FROM graft_sql_part p
        |WHERE CAST(round(p.p_retailprice*100) AS BIGINT) =
        |  (SELECT MAX(CAST(round(p2.p_retailprice*100) AS BIGINT))
        |   FROM graft_sql_part p2 WHERE p2.p_brand = p.p_brand)
        |ORDER BY p.p_brand, p.p_partkey""".stripMargin)
  }

  private val brandMaxOracle =
    """SELECT p.p_brand, p.p_partkey,
      |  CAST(round(p.p_retailprice*100) AS BIGINT) AS price_cents
      |FROM part p
      |WHERE CAST(round(p.p_retailprice*100) AS BIGINT) =
      |  (SELECT MAX(CAST(round(p2.p_retailprice*100) AS BIGINT))
      |   FROM part p2 WHERE p2.p_brand = p.p_brand)
      |ORDER BY p.p_brand, p.p_partkey""".stripMargin

  /** LATERAL correlated table subquery — per-brand top-2 parts by
    * price. The lateral subquery references the outer row (b.p_brand)
    * and returns a TABLE per row; Catalyst plans a LateralJoin and
    * rewrites the inner ORDER BY/LIMIT per key. The per-group-top-k
    * semantics match the row_number window (ax_topk_per_segment) —
    * this is the third surface for the same operator after DataFrame
    * window and TopK aggregator; surfaces must agree, so ties break on
    * the same (price DESC, key ASC) total order. Identical text runs
    * in DuckDB. It plans on [[graft.Sessions.stockPlans]]: the gate
    * shows Catalyst's own WindowGroupLimit pushdown (PlanShapeSpec),
    * which graft's TopNPerGroup rewrite would otherwise replace.
    */
  private def lateralTemplate(part: String): String =
    s"""SELECT b.p_brand, l.p_partkey, l.price_cents
       |FROM (SELECT DISTINCT p_brand FROM $part) b,
       |LATERAL (
       |  SELECT p_partkey, CAST(round(p_retailprice*100) AS BIGINT) AS price_cents
       |  FROM $part p WHERE p.p_brand = b.p_brand
       |  ORDER BY price_cents DESC, p_partkey ASC LIMIT 2) l
       |ORDER BY b.p_brand, l.price_cents DESC, l.p_partkey""".stripMargin

  private def lateralTopkViaSql(parent: SparkSession, dir: String): DataFrame = {
    val spark = graft.Sessions.stockPlans(parent)
    spark.read.parquet(s"$dir/part.parquet")
      .createOrReplaceTempView("graft_sql_part")
    spark.sql(lateralTemplate("graft_sql_part"))
  }

  /** Recursive CTE — the order-chain walk: successor edges (each
    * customer's orders linked in date order via `lead()`), walked 4
    * steps from every customer's FIRST order. Each recursion step is a
    * distributed join of the previous frontier against the edge table
    * — the iterative-query loop (transitive closure, BOM explosion,
    * graph walks) expressed in pure SQL text and planned by Spark 4's
    * recursion operator instead of a driver-side loop. Every customer
    * contributes at most one row per depth, so the traversal is
    * multi-hop yet bounded at ANY scale factor; output is the
    * per-depth accounting. Identical text runs in DuckDB.
    */
  private def recursiveTemplate(orders: String): String =
    s"""WITH RECURSIVE
       |succ AS (
       |  SELECT o_custkey AS c, o_orderkey AS k,
       |    lead(o_orderkey) OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate, o_orderkey) AS nk,
       |    CAST(round(o_totalprice*100) AS BIGINT) AS cents,
       |    row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate, o_orderkey) AS rn
       |  FROM $orders),
       |walk(c, k, nk, cents, depth) AS (
       |  SELECT c, k, nk, cents, 0 FROM succ WHERE rn = 1
       |  UNION ALL
       |  SELECT s.c, s.k, s.nk, s.cents, w.depth + 1
       |  FROM walk w JOIN succ s ON s.c = w.c AND s.k = w.nk
       |  WHERE w.depth < 4)
       |SELECT CAST(depth AS BIGINT) AS depth, COUNT(*) AS n_orders,
       |  CAST(SUM(cents) AS BIGINT) AS sum_cents
       |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin

  /** The successor-edge prefix of [[recursiveTemplate]] as standalone
    * SQL text — the NON-recursive half of the walk.
    */
  private def succSql(orders: String): String =
    s"""SELECT o_custkey AS c, o_orderkey AS k,
       |  lead(o_orderkey) OVER (PARTITION BY o_custkey
       |    ORDER BY o_orderdate, o_orderkey) AS nk,
       |  CAST(round(o_totalprice*100) AS BIGINT) AS cents,
       |  row_number() OVER (PARTITION BY o_custkey
       |    ORDER BY o_orderdate, o_orderkey) AS rn
       |FROM $orders""".stripMargin

  /** The recursive walk over a prebuilt successor view — the recursion
    * operator half of [[recursiveTemplate]], same text shape.
    */
  private def walkSql(succ: String): String =
    s"""WITH RECURSIVE
       |walk(c, k, nk, cents, depth) AS (
       |  SELECT c, k, nk, cents, 0 FROM $succ WHERE rn = 1
       |  UNION ALL
       |  SELECT s.c, s.k, s.nk, s.cents, w.depth + 1
       |  FROM walk w JOIN $succ s ON s.c = w.c AND s.k = w.nk
       |  WHERE w.depth < 4)
       |SELECT CAST(depth AS BIGINT) AS depth, COUNT(*) AS n_orders,
       |  CAST(SUM(cents) AS BIGINT) AS sum_cents
       |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin

  private def recursiveReachViaSql(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(s"$dir/orders.parquet")
      .createOrReplaceTempView("graft_sql_orders")
    // Round-14 measurement: Spark 4's recursion operator re-plans and
    // RE-EXECUTES every plain CTE referenced inside the recursive step
    // once per iteration — five full window-sort passes over orders
    // for a successor table that never changes (3.3 s at sf0.1).
    // Materialize the non-recursive prefix ONCE (still pure SQL text)
    // and let the recursion operator walk the materialized view: the
    // same fix DuckDB applies via AS MATERIALIZED in the kcore/LSH
    // oracles, applied to the Spark side. The walk itself — the
    // operator this gate exists to exercise — is unchanged SQL text
    // through UnionLoop; the oracle keeps the original single-text
    // form, and results are identical (succ is deterministic).
    spark.sql(succSql("graft_sql_orders")).localCheckpoint()
      .createOrReplaceTempView("graft_sql_succ")
    spark.sql(walkSql("graft_sql_succ"))
  }

  /** SQL PIVOT syntax — the reshape operator as TEXT (the DataFrame
    * twin is ax_pivot_lineitem). Spark parses the PIVOT clause into
    * the same Aggregate-with-pivot-expressions plan the DataFrame
    * `.pivot()` builds: one pass, one aggregate, no join — a missing
    * (flag, status) combination is a NULL cell in both engines. The
    * oracle states the identical contract as portable conditional
    * aggregation.
    */
  private def pivotViaSql(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(s"$dir/lineitem.parquet")
      .createOrReplaceTempView("graft_sql_lineitem")
    spark.sql(
      """SELECT * FROM (
        |  SELECT l_returnflag,
        |    l_linestatus,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS cents
        |  FROM graft_sql_lineitem)
        |PIVOT (SUM(cents) FOR l_linestatus IN ('F' AS f_cents, 'O' AS o_cents))
        |ORDER BY l_returnflag""".stripMargin)
  }

  private val pivotOracle =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F'
      |    THEN CAST(round(l_extendedprice*100) AS BIGINT) END) AS BIGINT)
      |    AS f_cents,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O'
      |    THEN CAST(round(l_extendedprice*100) AS BIGINT) END) AS BIGINT)
      |    AS o_cents
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** EXISTS / NOT EXISTS correlated PREDICATE subqueries — the other
    * decorrelation path next to sq_corr_brand_max's scalar subquery:
    * RewritePredicateSubquery turns them into a LEFT SEMI and a LEFT
    * ANTI join (plan-guarded), so the orders table is scanned twice
    * and hash-joined, never probed per customer row. Identical text
    * runs in DuckDB.
    */
  private def existsSemiTemplate(customer: String, orders: String): String =
    s"""SELECT c.c_custkey, c.c_name
       |FROM $customer c
       |WHERE EXISTS (SELECT 1 FROM $orders o
       |              WHERE o.o_custkey = c.c_custkey
       |                AND o.o_orderpriority = '1-URGENT')
       |  AND NOT EXISTS (SELECT 1 FROM $orders o2
       |                  WHERE o2.o_custkey = c.c_custkey
       |                    AND o2.o_orderpriority = '5-LOW')
       |ORDER BY c.c_custkey""".stripMargin

  private def existsSemiViaSql(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet")
        .createOrReplaceTempView(s"graft_sql_$t")
    }
    spark.sql(existsSemiTemplate("graft_sql_customer", "graft_sql_orders"))
  }

  /** GROUP BY ROLLUP through the SQL front door — the grouping-set
    * surface sq_pivot_sql doesn't cover. Must plan the identical
    * Expand + aggregate tree as the DataFrame `.rollup` twin
    * (ax_rollup_lineitem); PlanShapeSpec pins the plan identity.
    */
  private def rollupViaSql(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(s"$dir/lineitem.parquet")
      .createOrReplaceTempView("graft_sql_lineitem")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM graft_sql_lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin)
  }

  /** event-time RANGE frame (90 PRECEDING over a value axis) through
    * the SQL front door — the window-frame surface in SQL text,
    * planning the same Window node as ax_trailing_revenue.
    */
  private def rangeFrameViaSql(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(s"$dir/orders.parquet")
      .createOrReplaceTempView("graft_sql_orders")
    spark.sql(
      """SELECT o_custkey, o_orderkey,
        |  CAST(datediff(to_date(o_orderdate), DATE '1970-01-01') AS BIGINT)
        |    AS epoch_day,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY CAST(datediff(to_date(o_orderdate), DATE '1970-01-01')
        |      AS BIGINT)
        |    RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS trailing90_cents
        |FROM graft_sql_orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  /** EXCEPT through the SQL front door — the set-op surface next to
    * the DataFrame `.intersect` twin (ax_buyers_intersect): customers
    * with no PRE-1996 order, stated as set difference (the window
    * keeps the result non-empty at every SF — the unwindowed version
    * is empty because the generated schema is referentially covered).
    * Catalyst rewrites EXCEPT to a dedup + LEFT ANTI join — the same
    * physical shape as the hand-written anti-join phrasing, so the
    * set-op surface costs nothing; the date predicate pushes into the
    * subtrahend's scan.
    */
  private def exceptViaSql(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(s"$dir/customer.parquet")
      .createOrReplaceTempView("graft_sql_customer")
    spark.read.parquet(s"$dir/orders.parquet")
      .createOrReplaceTempView("graft_sql_orders")
    spark.sql(
      """SELECT c_custkey AS custkey FROM graft_sql_customer
        |EXCEPT SELECT o_custkey FROM graft_sql_orders
        |WHERE o_orderdate < TIMESTAMP '1996-01-01'
        |ORDER BY custkey""".stripMargin)
  }

  /** The five-function window suite through the SQL front door with a
    * named WINDOW clause — what users actually type for dashboard
    * window stacks. Must plan ONE shared Window node over one sort,
    * node-identical to the DataFrame twin (ax_window_suite);
    * PlanShapeSpec pins the identity.
    */
  private def windowSuiteViaSql(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(s"$dir/orders.parquet")
      .createOrReplaceTempView("graft_sql_orders")
    spark.sql(
      """SELECT o_orderkey, o_custkey,
        |  CAST(row_number() OVER w AS BIGINT) AS seq,
        |  CAST(datediff(o_orderdate, lag(o_orderdate, 1) OVER w)
        |    AS BIGINT) AS gap_days,
        |  CAST(round(lead(o_totalprice, 1) OVER w * 100) AS BIGINT)
        |    AS next_price_cents,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cd_e6
        |FROM graft_sql_orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** UNPIVOT through the SQL front door — the wide→long melt surface
    * in SQL text, planning the same Expand over the small upstream
    * aggregate as the DataFrame `.unpivot` twin (ax_unpivot_metrics).
    */
  private def unpivotViaSql(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(s"$dir/lineitem.parquet")
      .createOrReplaceTempView("graft_sql_lineitem")
    spark.sql(
      """SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS sum_price_cents,
        |    COUNT(*) AS n_rows
        |  FROM graft_sql_lineitem GROUP BY l_returnflag)
        |UNPIVOT (value FOR metric IN (sum_qty, sum_price_cents, n_rows))
        |ORDER BY l_returnflag, metric""".stripMargin)
  }

  private val exceptOracle =
    """SELECT c_custkey AS custkey FROM customer
      |EXCEPT SELECT o_custkey FROM orders
      |WHERE o_orderdate < TIMESTAMP '1996-01-01'
      |ORDER BY custkey""".stripMargin

  /** The MV rewrite rule through the SQL front door: the user types the
    * raw-table rollup in SQL TEXT, and plans/MvRewrite serves it from
    * the maintained rollup fixture — the temp view resolves to the same
    * parquet LogicalRelation the rule matches, so surface choice does
    * not decide whether the summary is used. Plan pinned (reads the MV,
    * zero fact bytes) by MvRewriteSpec's SQL-twin test.
    */
  private def mvServeViaSql(spark: SparkSession, dir: String): DataFrame = {
    MatViews.serveFromMv(spark, dir)
    spark.read.parquet(s"$dir/lineitem.parquet")
      .createOrReplaceTempView("graft_sql_lineitem")
    spark.sql(
      """SELECT l_returnflag,
        |  SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |  SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT))
        |    AS disc_cents,
        |  COUNT(*) AS n_lines
        |FROM graft_sql_lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** The DSv2 connector through the SQL front door: the source is
    * mounted as a temp view with `USING <provider>` and the pushdown
    * aggregate is typed as SQL TEXT — same scan stack, same pushed
    * filters, same pruned read schema as the DataFrame twin
    * (PlanShapeSpec pins node-list equality), so surface choice does
    * not decide whether a custom connector's contracts fire.
    */
  private def dsv2ViaSql(spark: SparkSession, dir: String): DataFrame = {
    val path = Dsv2Source.tsvFixturePath(spark, dir)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_sql_lines
         |USING ${classOf[graft.sources.GraftLines].getName}
         |OPTIONS (path '$path')""".stripMargin)
    spark.sql(
      """SELECT source, COUNT(*) AS n_docs,
        |  SUM(n_chars) AS sum_chars
        |FROM graft_sql_lines
        |WHERE lang = 'en' AND n_chars >= 200
        |GROUP BY source ORDER BY source""".stripMargin)
  }

  /** ax_mv_minmax's min/max/sum/count rollup serve, typed as SQL text —
    * the round-11 distributive-algebra tier gets its surface-neutrality
    * twin like every other family (MvRewriteSpec pins the SQL plan
    * reads the MV fixture).
    */
  private def mvMinMaxViaSql(spark: SparkSession, dir: String): DataFrame = {
    MatViews.serveFromMv(spark, dir)
    spark.read.parquet(s"$dir/lineitem.parquet")
      .createOrReplaceTempView("graft_sql_lineitem")
    spark.sql(
      """SELECT l_linestatus,
        |  MAX(CAST(l_quantity AS BIGINT)) AS max_qty,
        |  MIN(CAST(l_quantity AS BIGINT)) AS min_qty,
        |  SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |  COUNT(*) AS n_lines
        |FROM graft_sql_lineitem
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)
  }

  // sq_mv_attr_sql: the JOIN-BACK star rewrite through the SQL front
  // door — GROUP BY a dim attribute over the textual fact⋈dim join
  // with a dim filter, served from the FK-grain rollup re-joined to
  // the live dim exactly like the DataFrame twin (ax_mv_star_attr);
  // MvRewriteSpec pins the plan reads zero fact bytes on this surface
  // too. One definition, two surfaces.
  private def mvAttrViaSql(spark: SparkSession, dir: String): DataFrame = {
    MatViews.serveStarFkFromMv(spark, dir)
    spark.read.parquet(s"$dir/lineitem.parquet")
      .createOrReplaceTempView("graft_sql_li_attr")
    spark.read.parquet(s"$dir/orders.parquet")
      .createOrReplaceTempView("graft_sql_ord_attr")
    spark.sql(
      """SELECT o_orderstatus,
        |  SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |  COUNT(*) AS n_lines
        |FROM graft_sql_li_attr JOIN graft_sql_ord_attr
        |  ON l_orderkey = o_orderkey
        |WHERE o_orderpriority <> '3-MEDIUM'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val mvAttrOracle =
    """SELECT o.o_orderstatus,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderpriority <> '3-MEDIUM'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // sq_mv_snow_sql: the SNOWFLAKE join-back through the SQL front door
  // — GROUP BY attributes of TWO dims over the textual three-table
  // join, served from the composite-FK rollup re-joined to both live
  // dims exactly like the DataFrame twin (ax_mv_snowflake);
  // MvRewriteSpec pins zero fact bytes on this surface too.
  private def mvSnowViaSql(spark: SparkSession, dir: String): DataFrame = {
    MatViews.serveSnowFromMv(spark, dir)
    spark.read.parquet(s"$dir/lineitem.parquet")
      .createOrReplaceTempView("graft_sql_li_snow")
    spark.read.parquet(s"$dir/orders.parquet")
      .createOrReplaceTempView("graft_sql_ord_snow")
    spark.read.parquet(s"$dir/part.parquet")
      .createOrReplaceTempView("graft_sql_part_snow")
    spark.sql(
      """SELECT o_orderstatus, p_brand,
        |  SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |  COUNT(*) AS n_lines
        |FROM graft_sql_li_snow
        |JOIN graft_sql_ord_snow ON l_orderkey = o_orderkey
        |JOIN graft_sql_part_snow ON l_partkey = p_partkey
        |WHERE p_size < 25
        |GROUP BY o_orderstatus, p_brand
        |ORDER BY o_orderstatus, p_brand""".stripMargin)
  }

  private val mvSnowOracle =
    """SELECT o.o_orderstatus, p.p_brand,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_size < 25
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // sq_mv_sets_sql: GROUP BY ROLLUP through the SQL front door, served
  // from the FK-grain rollup like the DataFrame twin
  // (ax_mv_rollup_sets) — the Expand structure survives SQL parsing
  // identically, so one rewrite covers both surfaces.
  private def mvSetsViaSql(spark: SparkSession, dir: String): DataFrame = {
    MatViews.serveStarFkFromMv(spark, dir)
    spark.read.parquet(s"$dir/lineitem.parquet")
      .createOrReplaceTempView("graft_sql_li_sets")
    spark.read.parquet(s"$dir/orders.parquet")
      .createOrReplaceTempView("graft_sql_ord_sets")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |  COUNT(*) AS n_lines
        |FROM graft_sql_li_sets JOIN graft_sql_ord_sets
        |  ON l_orderkey = o_orderkey
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin)
  }

  private val mvSetsOracle =
    """SELECT o.o_orderstatus, o.o_orderpriority,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY ROLLUP (o.o_orderstatus, o.o_orderpriority)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  // a twin of a DataFrame gate reuses that gate's oracle verbatim: one
  // definition, two surfaces
  val gates: Seq[Gate] = Seq(
    Gate("sq_mv_snow_sql", mvSnowViaSql, mvSnowOracle),
    Gate("sq_mv_sets_sql", mvSetsViaSql, mvSetsOracle),
    Gate("sq_dsv2_sql", dsv2ViaSql, Dsv2Source.dsv2PushdownSql),
    Gate("sq_mv_minmax_sql", mvMinMaxViaSql, MatViews.mvMinMaxSql),
    Gate("sq_mv_attr_sql", mvAttrViaSql, mvAttrOracle),
    Gate("sq_mv_serve_sql", mvServeViaSql, MatViews.mvRewriteSql),
    Gate("sq_except_sql", exceptViaSql, exceptOracle),
    Gate("sq_rollup_sql", rollupViaSql, Analytics.rollupLineitemSql),
    Gate("sq_range_frame_sql", rangeFrameViaSql, Analytics.trailingRevenueSql),
    Gate("sq_pivot_sql", pivotViaSql, pivotOracle),
    Gate("sq_exists_semi", existsSemiViaSql,
      existsSemiTemplate("customer", "orders")),
    Gate("sq_signum_sql", signumViaSql, signumViaSqlOracle),
    Gate("sq_ship_priority_sql", shipPriorityViaSql, Analytics.shipPrioritySql),
    Gate("sq_corr_brand_max", brandMaxViaSql, brandMaxOracle),
    // literally the same text the Spark surface runs, on the raw tables
    Gate("sq_lateral_topk", lateralTopkViaSql, lateralTemplate("part")),
    Gate("sq_recursive_reach", recursiveReachViaSql,
      recursiveTemplate("orders")),
    Gate("sq_window_suite_sql", windowSuiteViaSql, Analytics.windowSuiteSql),
    Gate("sq_unpivot_sql", unpivotViaSql, Reshape.unpivotMetricsSql)
  )
}
