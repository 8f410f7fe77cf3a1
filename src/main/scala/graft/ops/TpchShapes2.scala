package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate

/** Round-11 completion of the TPC-H plan-shape sweep — the six classic
  * shapes the gate did not yet carry (Q4, Q6, Q7, Q9, Q10, Q11), each
  * adapted to the driver's schema (no partsupp / commitdate columns;
  * the adaptation is stated per query) and each written the way it must
  * be written for a 1000-executor / 100 TB cluster, with an
  * exact-integer DuckDB oracle. With these, all 22 TPC-H query shapes
  * have a gate entry (Q1/Q3/Q5/Q13/Q17/Q20/Q21/Q22 in Analytics,
  * Q2/Q8/Q12/Q14/Q15/Q16/Q18/Q19 in TpchShapes).
  *
  * Shared discipline (same as graft.ops.TpchShapes):
  *   - money quantized to integer cents before any aggregate;
  *   - bounded dimensions broadcast EXPLICITLY; fact-fact joins shuffle
  *     on their keys once; aggregates run BEFORE attribute attachment;
  *   - every ordering carries a deterministic tiebreak;
  *   - thresholds use integer floor division so intermediates stay
  *     under 2^63 through sf100k.
  */
object TpchShapes2 {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** discounted line revenue in exact cents */
  private def discCents(): Column =
    round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
      .cast("long")

  private val discCentsSql =
    "CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)"

  // -------------------------------------------------------------------
  // ax_order_priority: the TPC-H Q4 SHAPE — order-priority checking.
  // The driver schema has no l_commitdate/l_receiptdate, so "late" is
  // adapted to "some line shipped more than 30 days after the order
  // was placed" — the same EXISTS-correlated fact-fact shape. The
  // orders side is quarter-pruned FIRST (a partition predicate on an
  // orderdate-partitioned layout), then a LEFT SEMI join against
  // lineitem on the order key carries the date comparison as a join
  // residual — the fact is never widened, no duplicate orders survive
  // (semi join, not inner+distinct), and the tiny priority rollup is
  // a 5-group hash aggregate.
  // -------------------------------------------------------------------
  private def orderPriority(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-07-01") &&
        col("o_orderdate") < lit("1997-10-01"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    orders.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority").asc)
  }

  private val orderPrioritySql =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      |  AND o_orderdate <  TIMESTAMP '1997-10-01'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_forecast_delta: the TPC-H Q6 SHAPE — forecasting revenue change.
  // A pure scan-side query: every predicate (ship year, discount band,
  // quantity cap) is a pushable parquet filter, the projection is two
  // columns, and the answer is one map-side-combined row. This is the
  // gate's canonical "filters reach the scan" witness — at 100 TB the
  // scan reads only the 1997 partitions and row groups whose min/max
  // straddle the discount band.
  // -------------------------------------------------------------------
  private def forecastDelta(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01") &&
        col("l_discount") >= lit(0.05) && col("l_discount") <= lit(0.07) &&
        col("l_quantity") < lit(24.0))
      .agg(
        sum(round(col("l_extendedprice") * col("l_discount") * 100)
          .cast("long")).as("uplift_cents"),
        count(lit(1)).as("n_lines"))

  private val forecastDeltaSql =
    """SELECT
      |  CAST(SUM(CAST(round(l_extendedprice*l_discount*100) AS BIGINT))
      |    AS BIGINT) AS uplift_cents,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24.0""".stripMargin

  // -------------------------------------------------------------------
  // ax_volume_shipping: the TPC-H Q7 SHAPE — volume shipping between
  // two nations. The ONE fact-fact join (lineitem ⋈ orders on the
  // order key) shuffles each side once; supplier, customer and nation
  // are broadcast. The two-nation filter is applied to each broadcast
  // side BEFORE the join (supplier/customer shrink to the two nations'
  // members, so the broadcast semi-filters the fact), and the
  // direction disjunction keeps only the two cross pairs.
  // -------------------------------------------------------------------
  private def volumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val n1 = "NATION_3"
    val n2 = "NATION_9"
    val nation = t(spark, dir, "nation")
      .filter(col("n_name").isin(n1, n2))
      .select(col("n_nationkey"), col("n_name"))
    val supp = t(spark, dir, "supplier")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = t(spark, dir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("int").as("l_year"),
        discCents().as("disc_cents"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
    val ord = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(
        (col("supp_nation") === n1 && col("cust_nation") === n2) ||
          (col("supp_nation") === n2 && col("cust_nation") === n1))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("disc_cents")).as("revenue_cents"))
      .orderBy(col("supp_nation").asc, col("cust_nation").asc,
        col("l_year").asc)
  }

  private val volumeShippingSql =
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
       |  CAST(SUM($discCentsSql) AS BIGINT) AS revenue_cents
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation sn ON s_nationkey = sn.n_nationkey
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey  = c_custkey
       |JOIN nation cn ON c_nationkey = cn.n_nationkey
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate <  TIMESTAMP '1998-01-01'
       |  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_9')
       |    OR (sn.n_name = 'NATION_9' AND cn.n_name = 'NATION_3'))
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // -------------------------------------------------------------------
  // ax_product_profit: the TPC-H Q9 SHAPE — product-type profit by
  // nation and year. The driver schema has no partsupp, so unit cost
  // is adapted to 10% of the part's retail price (exact integer:
  // round(p_retailprice*10) cents/unit); profit = discounted revenue −
  // quantity·unit_cost, all in cents. The name-filtered part dim
  // broadcast-prunes the fact FIRST; orders attaches o_orderdate via
  // the single fact-fact shuffle; supplier→nation broadcast. The
  // nation×year rollup is tiny.
  // -------------------------------------------------------------------
  private def productProfit(spark: SparkSession, dir: String): DataFrame = {
    val part = t(spark, dir, "part")
      .filter(col("p_name").contains("widget"))
      .select(col("p_partkey"),
        round(col("p_retailprice") * 10).cast("long").as("unit_cost_cents"))
    val supp = t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nation = t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val ord = t(spark, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("int").as("o_year"))
    t(spark, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name"), col("o_year"),
        (discCents() -
          col("unit_cost_cents") * col("l_quantity").cast("long"))
          .as("profit_cents"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(sum(col("profit_cents")).as("profit_cents"))
      .orderBy(col("n_name").asc, col("o_year").desc)
  }

  private val productProfitSql =
    s"""SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       |  CAST(SUM($discCentsSql
       |    - CAST(round(p_retailprice*10) AS BIGINT)
       |      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS profit_cents
       |FROM lineitem
       |JOIN part     ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |JOIN orders   ON l_orderkey = o_orderkey
       |WHERE p_name LIKE '%widget%'
       |GROUP BY 1, 2 ORDER BY 1 ASC, 2 DESC""".stripMargin

  // -------------------------------------------------------------------
  // ax_returned_items: the TPC-H Q10 SHAPE — returned-item reporting.
  // The revenue-lost aggregate runs at the o_custkey grain BEFORE any
  // customer attribute attaches: the quarter-pruned orders side joins
  // the returnflag-pruned fact once (fact-fact shuffle), collapses to
  // per-customer cents, and only the ≤|customers| aggregate rows meet
  // the broadcast customer/nation dims. Top-20 with a custkey tiebreak
  // plans as TakeOrderedAndProject.
  // -------------------------------------------------------------------
  private def returnedItems(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-10-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = t(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), discCents().as("disc_cents"))
    val perCust = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("disc_cents")).as("lost_cents"))
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val nation = t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    perCust
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("lost_cents"))
      .orderBy(col("lost_cents").desc, col("c_custkey").asc)
      .limit(20)
  }

  private val returnedItemsSql =
    s"""WITH per_cust AS (
       |  SELECT o_custkey, CAST(SUM($discCentsSql) AS BIGINT) AS lost_cents
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'R'
       |    AND o_orderdate >= TIMESTAMP '1997-10-01'
       |    AND o_orderdate <  TIMESTAMP '1998-01-01'
       |  GROUP BY 1)
       |SELECT c_custkey, c_name, n_name, lost_cents
       |FROM per_cust
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |ORDER BY lost_cents DESC, c_custkey ASC
       |LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // ax_important_stock: the TPC-H Q11 SHAPE — important stock
  // identification. The driver schema has no partsupp, so "stock
  // value" is adapted to shipped discounted revenue per (supplier
  // nation, part). Q11's correlated scalar subquery (value > fraction
  // of the national total) is decorrelated into a window over the SAME
  // aggregate — one fact shuffle to the (nation, part) grain, one
  // window per nation, never a second fact scan. Q11's fixed-fraction
  // threshold empties as the part universe grows with SF, so the kept
  // set is defined SCALE-RELATIVELY: value > 2× the nation's per-part
  // mean, in exact integer floor division (2 * (total div count)) so
  // the comparison is overflow-free and engine-identical at any SF.
  // -------------------------------------------------------------------
  private def importantStock(spark: SparkSession, dir: String): DataFrame = {
    val supp = t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nation = t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val perPart = t(spark, dir, "lineitem")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("l_partkey"))
      .agg(sum(discCents()).as("value_cents"))
    val w = Window.partitionBy(col("n_name"))
    perPart
      .withColumn("nation_total_cents", sum(col("value_cents")).over(w))
      .withColumn("nation_part_cnt", count(lit(1)).over(w))
      .filter(col("value_cents") >
        expr("2 * (nation_total_cents div nation_part_cnt)"))
      .select(col("n_name"), col("l_partkey"), col("value_cents"))
      .orderBy(col("n_name").asc, col("value_cents").desc,
        col("l_partkey").asc)
  }

  private val importantStockSql =
    s"""WITH per_part AS (
       |  SELECT n_name, l_partkey,
       |    CAST(SUM($discCentsSql) AS BIGINT) AS value_cents
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation   ON s_nationkey = n_nationkey
       |  GROUP BY 1, 2)
       |SELECT n_name, l_partkey, value_cents
       |FROM (
       |  SELECT *, SUM(value_cents) OVER (PARTITION BY n_name)
       |    AS nation_total_cents,
       |    COUNT(*) OVER (PARTITION BY n_name) AS nation_part_cnt
       |  FROM per_part)
       |WHERE value_cents > 2 * (nation_total_cents // nation_part_cnt)
       |ORDER BY n_name ASC, value_cents DESC, l_partkey ASC""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_order_priority", orderPriority, orderPrioritySql),
    Gate("ax_forecast_delta", forecastDelta, forecastDeltaSql),
    Gate("ax_volume_shipping", volumeShipping, volumeShippingSql),
    Gate("ax_product_profit", productProfit, productProfitSql),
    Gate("ax_returned_items", returnedItems, returnedItemsSql),
    Gate("ax_important_stock", importantStock, importantStockSql)
  )
}
