package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}

class BucketingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("bucketed join plans with zero exchanges (co-located scan-to-scan SMJ)") {
    val plan = Bucketing.colocatedJoin(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin in:\n$plan")
    assert(!plan.contains("Exchange"), s"expected no Exchange in:\n$plan")
    assert(plan.contains(s"SelectedBucketsCount: ${Bucketing.Buckets} out of ${Bucketing.Buckets}")
      || plan.contains("Bucketed: true"), s"expected bucketed scans in:\n$plan")
  }

  test("bucketing changes the plan, never the result") {
    val bucketed = SparkEntry.queries("ax_bucketed_join")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderstatus")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(bucketed.toSeq === plain.toSeq)
  }
}
