package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the round-11 TPC-H completion batch (Q4, Q6,
  * Q7, Q9, Q10, Q11 shapes), checked on real sf0.001 data INDEPENDENTLY
  * of the DuckDB oracle, plus physical-plan pins for the shapes each
  * query was written to produce.
  */
class Tpch2SemanticsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)
  private def plan(name: String): String =
    SparkEntryPlans.executedPlan(spark, dir, name)

  test("order priority: counts bounded by the quarter's orders; semi join, no fact widening") {
    val rows = q("ax_order_priority").collect()
    assert(rows.nonEmpty)
    val quarter = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderdate") >= lit("1997-07-01") &&
        col("o_orderdate") < lit("1997-10-01")).count()
    assert(rows.map(_.getLong(1)).sum <= quarter)
    // independent recompute via inner-join + distinct order keys
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderdate") >= lit("1997-07-01") &&
        col("o_orderdate") < lit("1997-10-01"))
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val expect = ord.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .select("o_orderkey", "o_orderpriority").distinct()
      .groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(expect(r.getString(0)) == r.getLong(1)))
    assert(plan("ax_order_priority").contains("LeftSemi"),
      "the EXISTS must plan as a semi join")
  }

  test("forecast delta: filters reach the parquet scan") {
    val r = q("ax_forecast_delta").collect()(0)
    assert(r.getLong(1) > 0, "the 1997 band must be non-empty at sf0.001")
    assert(r.getLong(0) > 0)
    val p = plan("ax_forecast_delta")
    assert(p.contains("PushedFilters") &&
      (p.contains("IsNotNull(l_discount)") || p.contains("l_discount")),
      s"discount/quantity predicates must be pushed:\n$p")
  }

  test("volume shipping: only the two cross pairs surface, dims broadcast") {
    val rows = q("ax_volume_shipping").collect()
    val pairs = rows.map(r => (r.getString(0), r.getString(1))).distinct
    assert(pairs.forall { case (s, c) =>
      (s == "NATION_3" && c == "NATION_9") ||
        (s == "NATION_9" && c == "NATION_3")
    })
    rows.foreach(r => assert(r.getInt(2) == 1996 || r.getInt(2) == 1997))
    assert(plan("ax_volume_shipping").contains("BroadcastHashJoin"))
  }

  test("product profit: matches a direct recompute per nation-year") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val part = spark.read.parquet(s"$dir/part.parquet")
      .filter(col("p_name").contains("widget"))
    val supp = spark.read.parquet(s"$dir/supplier.parquet")
    val nat = spark.read.parquet(s"$dir/nation.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    val expect = li.join(part, col("l_partkey") === col("p_partkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name"), year(col("o_orderdate")).cast("int").as("y"),
        (round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long") -
          round(col("p_retailprice") * 10).cast("long") *
            col("l_quantity").cast("long")).as("p"))
      .groupBy("n_name", "y").agg(sum("p").as("p"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val rows = q("ax_product_profit").collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(expect((r.getString(0), r.getInt(1))) == r.getLong(2)))
  }

  test("returned items: top-20 plans as TakeOrderedAndProject, agg before attributes") {
    val rows = q("ax_returned_items").collect()
    assert(rows.length <= 20)
    val losses = rows.map(_.getLong(3))
    assert(losses.sameElements(losses.sortBy(-(_: Long))))
    val p = plan("ax_returned_items")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must be a heap:\n$p")
    assert(p.contains("BroadcastHashJoin"), "customer/nation must broadcast")
  }

  test("important stock: every kept part exceeds 2x its nation's per-part mean; one fact scan") {
    val rows = q("ax_important_stock").collect()
    assert(rows.nonEmpty)
    // recompute national totals and part counts from the full aggregate
    val stats = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/supplier.parquet"),
        col("l_suppkey") === col("s_suppkey"))
      .join(spark.read.parquet(s"$dir/nation.parquet"),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "l_partkey")
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 100).cast("long")).as("v"))
      .groupBy("n_name")
      .agg(sum("v").as("t"), count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (t, c) = stats(r.getString(0))
      assert(r.getLong(2) > 2 * (t / c),
        s"${r.getString(0)} part ${r.getLong(1)} below threshold")
    }
    val p = plan("ax_important_stock")
    val scans = "lineitem\\.parquet".r.findAllIn(p).length
    assert(scans == 1, s"exactly one lineitem scan expected, found $scans")
    assert(p.contains("Window"), "the national total must be a window, not a re-scan")
  }
}
