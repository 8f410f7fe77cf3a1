package graft.plans

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end proof of the TopN-per-group Catalyst extension: the rule
  * fires on the canonical row_number ≤ k idiom, the planned operator
  * replaces the full-sort WindowExec with bounded heaps, results are
  * bit-identical to the stock plan, and the guards keep the rule off
  * every non-matching shape.
  */
class TopNPerGroupSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def topkDf(k: Int): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    spark.read.parquet(s"$dir/orders.parquet")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  private def nodeNames(df: DataFrame): Seq[String] = {
    df.count() // execute so AQE finalizes
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case n => n.nodeName }
  }

  test("rule rewrites row_number <= k into the heap operator, no sort") {
    val names = nodeNames(topkDf(3))
    assert(names.exists(_.contains("TopNPerGroupFinal")), names.mkString(","))
    assert(names.exists(_.contains("TopNPerGroupPartial")))
    assert(!names.exists(_.contains("Window")), "WindowExec survived the rewrite")
    assert(!names.exists(n => n == "Sort"), "full sort survived the rewrite")
  }

  test("rewritten results are identical to the stock WindowExec plan") {
    // the And-guard keeps the rule OFF this twin (extra rn >= 1 bound),
    // so it runs through the stock Window plan in the SAME session
    val stock = topkDf(3).filter(col("rn") >= 1)
    val stockNames = nodeNames(stock)
    assert(stockNames.exists(_.contains("Window")),
      "guard failed: twin query was rewritten too")

    val a = topkDf(3).orderBy("o_custkey", "rn").collect().toSeq
    val b = stock.orderBy("o_custkey", "rn").collect().toSeq
    assert(a == b, "rewrite changed the answer")
  }

  test("rn < k form and inferred IsNotNull conjunct both rewrite") {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val df = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") < 4)
    val names = nodeNames(df)
    assert(names.exists(_.contains("TopNPerGroupFinal")))
    assert(df.groupBy("o_custkey").count()
      .filter(col("count") > 3).count() == 0, "more than k rows in a group")
  }

  test("guards: rank(), rn = 1, and multi-window shapes stay on WindowExec") {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val base = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_custkey", "o_orderkey", "o_totalprice")

    val rankDf = base.withColumn("rk", rank().over(w)).filter(col("rk") <= 3)
    assert(nodeNames(rankDf).exists(_.contains("Window")))

    val eqDf = base.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(nodeNames(eqDf).exists(_.contains("Window")))

    val multiDf = base
      .withColumn("rn", row_number().over(w))
      .withColumn("mx", max("o_totalprice").over(Window.partitionBy("o_custkey")))
      .filter(col("rn") <= 3)
    assert(nodeNames(multiDf).exists(_.contains("Window")))
  }

  test("the ax_topn_rewrite gate query plans through the heap operator") {
    val df = SparkEntry.queries("ax_topn_rewrite")(spark, dir)
    val names = nodeNames(df)
    assert(names.exists(_.contains("TopNPerGroupFinal")),
      s"gate query lost the rewrite: ${names.mkString(",")}")
    assert(!names.exists(_.contains("WindowExec")))
  }

  test("every group is capped at k and ranks are contiguous from 1") {
    val rows = topkDf(2).collect()
    val byGroup = rows.groupBy(_.getLong(0))
    byGroup.foreach { case (g, rs) =>
      val rns = rs.map(_.getInt(3)).sorted.toSeq
      assert(rns == (1 to rns.length), s"group $g ranks: $rns")
      assert(rns.length <= 2, s"group $g has ${rns.length} rows")
    }
  }
}
