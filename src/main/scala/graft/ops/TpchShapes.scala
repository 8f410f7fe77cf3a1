package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate

/** Round-7 TPC-H query-shape sweep — the eight classic plan shapes not
  * yet in the gate (Q2, Q8, Q12, Q14, Q15, Q16, Q18, Q19), each written
  * the way it must be written for a 1000-executor / 100 TB cluster and
  * each with an exact-integer DuckDB oracle. The reference
  * (/root/reference/polarify/main.py) delegates all relational work to
  * its engine; these are the north-star extension surface exercising
  * Spark's join/aggregate/window planning on the driver's tables.
  *
  * Shared discipline (same as graft.ops.Analytics):
  *   - money quantized to integer cents before any aggregate;
  *   - ratios in exact parts-per-million via integer floor division,
  *     staged `(1000·num) div (den div 1000)` so intermediates stay
  *     under 2^55 through sf100 (1e6·num overflows int64 at sf1 —
  *     Spark wraps silently, DuckDB widens to HUGEINT, and the
  *     divergence would land exactly at scale);
  *   - bounded dimensions broadcast EXPLICITLY; fact-fact joins shuffle
  *     on their keys once; every ordering carries a deterministic
  *     tiebreak.
  */
object TpchShapes {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** exact integer cents from a 2-decimal double price */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  /** discounted line revenue in exact cents */
  private def discCents(): org.apache.spark.sql.Column =
    round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
      .cast("long")

  private val discCentsSql =
    "CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)"

  // -------------------------------------------------------------------
  // ax_promo_share: the TPC-H Q14 SHAPE — promotion revenue share for
  // one ship month. One dimension-joined scan, one 1-row aggregate:
  // the month filter prunes the fact FIRST (at scale it is a partition
  // predicate on a shipdate-partitioned layout), the part attributes
  // broadcast onto the surviving rows, and the conditional sum needs
  // no second pass — numerator and denominator come out of the same
  // partial→final aggregate. Share in exact ppm (staged division).
  // -------------------------------------------------------------------
  private def promoShare(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-09-01") &&
        col("l_shipdate") < lit("1997-10-01"))
      .select(col("l_partkey"), discCents().as("disc_cents"))
    val part = t(spark, dir, "part").select(col("p_partkey"), col("p_type"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("disc_cents"))
          .otherwise(lit(0L))).as("promo_cents"),
        sum(col("disc_cents")).as("total_cents"))
      .select(col("promo_cents"), col("total_cents"),
        expr("(1000 * promo_cents) div (total_cents div 1000)")
          .as("promo_ppm"))
  }

  private val promoShareSql =
    s"""WITH m AS (
       |  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
       |                       THEN $discCentsSql ELSE 0 END) AS BIGINT)
       |           AS promo_cents,
       |         CAST(SUM($discCentsSql) AS BIGINT) AS total_cents
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
       |    AND l_shipdate <  TIMESTAMP '1997-10-01')
       |SELECT promo_cents, total_cents,
       |  CAST((1000 * promo_cents) // (total_cents // 1000) AS BIGINT)
       |    AS promo_ppm
       |FROM m""".stripMargin

  // -------------------------------------------------------------------
  // ax_big_orders: the TPC-H Q18 SHAPE — large-volume orders. The
  // per-order quantity aggregate runs FIRST (map-side partials, one
  // keyed shuffle of the fact), the HAVING filter shrinks it to the
  // rare qualifying keys, and only then do orders/customer attach —
  // at 100 TB the expensive side of the join is an already-filtered
  // aggregate, so AQE broadcasts it; the orders table is never
  // shuffled (the qualifying-key side builds the hash table). Top-100
  // with an explicit orderkey tiebreak plans as TakeOrderedAndProject.
  // -------------------------------------------------------------------
  private def bigOrders(spark: SparkSession, dir: String): DataFrame = {
    val qualifying = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 250L)
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_cents"))
    val customer = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    orders.join(qualifying, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("price_cents"),
        col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey").asc)
      .limit(100)
  }

  private val bigOrdersSql =
    """WITH q AS (
      |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |           AS sum_qty
      |  FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS BIGINT)) > 250)
      |SELECT c_name, o_orderkey,
      |  CAST(round(o_totalprice*100) AS BIGINT) AS price_cents, sum_qty
      |FROM q
      |JOIN orders   ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey  = o_custkey
      |ORDER BY sum_qty DESC, o_orderkey ASC
      |LIMIT 100""".stripMargin

  // -------------------------------------------------------------------
  // ax_shipmode_priority: the TPC-H Q12 SHAPE — shipping-status
  // priority accounting. Both sides are facts, so this is the one
  // honest fact-fact keyed join of the wave (ONE co-shuffle on the
  // order key; a bucketed layout on o_orderkey/l_orderkey removes
  // even that — see graft.ops.Bucketing). The priority split is a
  // conditional aggregate, not a second join, and the output is
  // bounded by the line-status cardinality.
  // -------------------------------------------------------------------
  private def shipmodePriority(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-01-01") &&
        col("l_shipdate") < lit("1999-01-01"))
      .select(col("l_orderkey"), col("l_linestatus"))
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
          .as("high_lines"),
        sum(when(col("o_orderpriority") =!= "1-URGENT" &&
          col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
          .as("low_lines"))
      .orderBy(col("l_linestatus"))
  }

  private val shipmodePrioritySql =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS low_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      |  AND l_shipdate <  TIMESTAMP '1999-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_min_cost_supp: the TPC-H Q2 SHAPE — the minimum-cost supplier
  // per part, decorrelated. The correlated phrasing re-scans the
  // offers table once per part ("WHERE cost = (SELECT min(cost) ...
  // WHERE same part)"); the scale-right form aggregates offers ONCE
  // (per (part, supplier) min — one keyed shuffle with map-side
  // partials), then takes the per-part min as a WINDOW OVER THE
  // AGGREGATE — the window key is the part key itself, millions of
  // tiny partitions (the inverse of the low-cardinality-window trap,
  // same discipline as ax_small_quantity). Lineitem stands in for
  // partsupp: a (part, supplier) offer = the cheapest line shipped.
  // -------------------------------------------------------------------
  private def minCostSupp(spark: SparkSession, dir: String): DataFrame = {
    val offers = t(spark, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(cents(col("l_extendedprice"))).as("offer_cents"))
    val w = Window.partitionBy(col("l_partkey"))
    val best = offers
      .withColumn("min_cents", min(col("offer_cents")).over(w))
      .filter(col("offer_cents") === col("min_cents"))
      .select(col("l_partkey"), col("l_suppkey"), col("offer_cents"))
    val part = t(spark, dir, "part")
      .filter(col("p_size") === 15)
      .select(col("p_partkey"), col("p_brand"))
    val supplier = t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"))
    best.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_brand"), col("s_name"),
        col("offer_cents"))
      .orderBy(col("offer_cents").asc, col("p_partkey").asc,
        col("s_name").asc)
  }

  private val minCostSuppSql =
    """WITH offers AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(MIN(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |      AS offer_cents
      |  FROM lineitem GROUP BY 1, 2),
      |best AS (
      |  SELECT l_partkey, l_suppkey, offer_cents
      |  FROM (SELECT *, MIN(offer_cents) OVER (PARTITION BY l_partkey)
      |          AS min_cents FROM offers)
      |  WHERE offer_cents = min_cents)
      |SELECT p_partkey, p_brand, s_name, offer_cents
      |FROM best
      |JOIN part     ON l_partkey = p_partkey AND p_size = 15
      |JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY offer_cents ASC, p_partkey ASC, s_name ASC""".stripMargin

  // -------------------------------------------------------------------
  // ax_disjunct_pred: the TPC-H Q19 SHAPE — an OR of three
  // brand/size/quantity conjunctions. The classic planning hazard:
  // naively the disjunction prevents any pushdown and the join looks
  // nested-loop; Catalyst extracts the COMMON equi-key
  // (l_partkey = p_partkey) so the plan stays a single hash join with
  // the disjunction as a post-join residual, and the per-conjunct
  // quantity bounds still push to the lineitem scan as
  // `l_quantity BETWEEN 1 AND 35` (the union of the ranges). One
  // broadcast join, one 1-row aggregate.
  // -------------------------------------------------------------------
  private def disjunctPred(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), discCents().as("disc_cents"))
    val part = t(spark, dir, "part")
      .select(col("p_partkey"), col("p_type"), col("p_size"))
    val qty = col("l_quantity")
    val c1 = col("p_type") === "SMALL" && col("p_size").between(1, 10) &&
      qty.between(1, 15)
    val c2 = col("p_type") === "MEDIUM" && col("p_size").between(11, 20) &&
      qty.between(10, 25)
    val c3 = col("p_type") === "LARGE" && col("p_size").between(21, 35) &&
      qty.between(20, 35)
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(c1 || c2 || c3)
      .agg(sum(col("disc_cents")).as("revenue_cents"),
        count(lit(1)).as("n_lines"))
  }

  private val disjunctPredSql =
    s"""SELECT CAST(SUM($discCentsSql) AS BIGINT) AS revenue_cents,
       |  COUNT(*) AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_type = 'SMALL'  AND p_size BETWEEN 1  AND 10
       |        AND l_quantity BETWEEN 1  AND 15)
       |   OR (p_type = 'MEDIUM' AND p_size BETWEEN 11 AND 20
       |        AND l_quantity BETWEEN 10 AND 25)
       |   OR (p_type = 'LARGE'  AND p_size BETWEEN 21 AND 35
       |        AND l_quantity BETWEEN 20 AND 35)""".stripMargin

  // -------------------------------------------------------------------
  // ax_market_share: the TPC-H Q8 SHAPE — one nation's share of a
  // region's import revenue per order year. The fact chain is
  // lineitem ⋈ orders (the wave's second honest fact-fact co-shuffle);
  // everything else — customer (region filter), supplier (share
  // flag), nation, region — is a bounded dimension and broadcasts.
  // Numerator and denominator come out of ONE conditional aggregate
  // per year; share in exact ppm (staged division). The customer
  // filter is applied BEFORE its broadcast so the hash table carries
  // only the market region's keys.
  // -------------------------------------------------------------------
  private def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val nation = t(spark, dir, "nation")
    val region = t(spark, dir, "region")
    val asiaNations = nation
      .join(broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val marketCust = t(spark, dir, "customer")
      .join(broadcast(asiaNations),
        col("c_nationkey") === col("n_nationkey"), "left_semi")
      .select(col("c_custkey"))
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
      .join(broadcast(marketCust), col("o_custkey") === col("c_custkey"),
        "left_semi")
    val supp7 = t(spark, dir, "supplier")
      .join(broadcast(nation.filter(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"), "left_semi")
      .select(col("s_suppkey").as("share_suppkey"))
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), discCents().as("disc_cents"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp7), col("l_suppkey") === col("share_suppkey"),
        "left_outer")
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("share_suppkey").isNotNull, col("disc_cents"))
          .otherwise(0L)).as("nation_cents"),
        sum(col("disc_cents")).as("total_cents"))
      .select(col("o_year"), col("nation_cents"), col("total_cents"),
        expr("(1000 * nation_cents) div (total_cents div 1000)")
          .as("share_ppm"))
      .orderBy(col("o_year"))
  }

  private val marketShareSql =
    s"""WITH yr AS (
       |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       |    CAST(SUM(CASE WHEN s.s_suppkey IS NOT NULL
       |                  THEN $discCentsSql ELSE 0 END) AS BIGINT)
       |      AS nation_cents,
       |    CAST(SUM($discCentsSql) AS BIGINT) AS total_cents
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  LEFT OUTER JOIN (
       |    SELECT s_suppkey FROM supplier
       |    JOIN nation ON s_nationkey = n_nationkey
       |    WHERE n_name = 'NATION_7') s ON l_suppkey = s.s_suppkey
       |  WHERE o_custkey IN (
       |    SELECT c_custkey FROM customer
       |    JOIN nation  ON c_nationkey = n_nationkey
       |    JOIN region  ON n_regionkey = r_regionkey
       |    WHERE r_name = 'ASIA')
       |  GROUP BY 1)
       |SELECT o_year, nation_cents, total_cents,
       |  CAST((1000 * nation_cents) // (total_cents // 1000) AS BIGINT)
       |    AS share_ppm
       |FROM yr ORDER BY o_year""".stripMargin

  // -------------------------------------------------------------------
  // ax_top_supplier: the TPC-H Q15 SHAPE — the top revenue supplier(s)
  // for a quarter. The correlated phrasing compares each supplier to
  // "MAX over the view"; the scale-right form aggregates revenue ONCE
  // (one keyed shuffle, supplier-bounded output), reduces that
  // aggregate to a 1-row max, and crossJoin-broadcasts the scalar
  // back for the equality filter — no row ever sees a single-reducer
  // exchange, and ties surface as multiple rows (deterministic:
  // ordered by supplier key).
  // -------------------------------------------------------------------
  private def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val revenue = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1997-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(discCents()).as("revenue_cents"))
    val best = revenue.agg(max(col("revenue_cents")).as("max_cents"))
    val supplier = t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"))
    revenue.crossJoin(broadcast(best))
      .filter(col("revenue_cents") === col("max_cents"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("revenue_cents"))
      .orderBy(col("s_suppkey"))
  }

  private val topSupplierSql =
    s"""WITH revenue AS (
       |  SELECT l_suppkey,
       |    CAST(SUM($discCentsSql) AS BIGINT) AS revenue_cents
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
       |    AND l_shipdate <  TIMESTAMP '1997-04-01'
       |  GROUP BY 1)
       |SELECT s_suppkey, s_name, revenue_cents
       |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
       |WHERE revenue_cents = (SELECT MAX(revenue_cents) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  // -------------------------------------------------------------------
  // ax_parts_supp_dist: the TPC-H Q16 SHAPE — supplier diversity per
  // part class, minus excluded suppliers. The distinct-count is
  // two-stage so it scales: first a DISTINCT over the (brand, size
  // bucket, supplier) triple (one keyed shuffle with map-side
  // partials — never count(DISTINCT) straight off the fact), then a
  // plain count per class. The supplier denylist ("complaints" in
  // Q16) is a broadcast ANTI join applied to the pair table, and part
  // attributes broadcast onto the surviving pairs.
  // -------------------------------------------------------------------
  private def partsSuppDist(spark: SparkSession, dir: String): DataFrame = {
    val excluded = t(spark, dir, "supplier")
      .filter(col("s_name").endsWith("7"))
      .select(col("s_suppkey"))
    val pairs = t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
    val part = t(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"),
        expr("(p_size - 1) div 10").as("size_bucket"))
    pairs.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("size_bucket"), col("l_suppkey"))
      .distinct()
      .groupBy(col("p_brand"), col("size_bucket"))
      .agg(count(lit(1)).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
        col("size_bucket").asc)
  }

  private val partsSuppDistSql =
    """WITH pairs AS (
      |  SELECT DISTINCT p_brand, (p_size - 1) // 10 AS size_bucket,
      |    l_suppkey
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  WHERE l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7'))
      |SELECT p_brand, size_bucket, COUNT(*) AS supplier_cnt
      |FROM pairs GROUP BY 1, 2
      |ORDER BY supplier_cnt DESC, p_brand ASC, size_bucket ASC""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_promo_share", promoShare, promoShareSql),
    Gate("ax_big_orders", bigOrders, bigOrdersSql),
    Gate("ax_shipmode_priority", shipmodePriority, shipmodePrioritySql),
    Gate("ax_min_cost_supp", minCostSupp, minCostSuppSql),
    Gate("ax_disjunct_pred", disjunctPred, disjunctPredSql),
    Gate("ax_market_share", marketShare, marketShareSql),
    Gate("ax_top_supplier", topSupplier, topSupplierSql),
    Gate("ax_parts_supp_dist", partsSuppDist, partsSuppDistSql)
  )
}
