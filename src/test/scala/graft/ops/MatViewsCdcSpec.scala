package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ax_mv_cdc's CLAIM is that the two max-repair paths are both real:
  * delete-affected grains recompute from the post-change state while
  * unaffected grains only merge. The tri-SF oracle proves the combined
  * answer; this spec proves the SPLIT is exercised (3 of 5 grains
  * affected, 2 merged) and that the change log really deletes a
  * current-max row — the case where a decremented rollup would be
  * silently wrong because the second-largest was never kept.
  */
class MatViewsCdcSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def base = spark.read.parquet(s"$dir/orders.parquet")
    .select(col("o_orderkey").as("k"),
      col("o_orderpriority").as("pri"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))

  test("both repair paths are exercised: 3 grains recompute, 2 merge") {
    val grains = base.select(col("pri")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(grains.length == 5, s"expected 5 priorities, got ${grains.toSeq}")
    val affected = MatViews.cdcLog(base).filter(col("op") === "D")
      .join(base, "k")
      .select(col("pri")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(affected.sameElements(grains.filter(p =>
        Set('1', '2', '3').contains(p.head))),
      s"delete-affected grains drifted: ${affected.toSeq}")
    assert(grains.length - affected.length == 2,
      "two grains must take the merge-only path")
  }

  test("the change log deletes a current-max row somewhere") {
    val grainMax = base.groupBy(col("pri"))
      .agg(max(col("cents")).as("mx"))
      .withColumnRenamed("pri", "gpri")
    val maxRows = base.join(grainMax,
      col("mx") === col("cents") && col("gpri") === col("pri"))
    val deletedKeys = MatViews.cdcLog(base).filter(col("op") === "D")
      .select(col("k")).distinct()
    val deletedMaxes = maxRows.join(deletedKeys, "k").count()
    assert(deletedMaxes > 0,
      "the log must delete at least one grain's current-max row — " +
        "otherwise the non-distributive repair path is untested")
  }

  test("the upkeep answer equals a direct Spark recompute") {
    val served = SparkEntry.queries("ax_mv_cdc")(spark, dir)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val deleted = MatViews.cdcLog(base).filter(col("op") === "D")
      .select(col("k")).distinct()
    val fin = base.join(deleted, Seq("k"), "left_anti")
      .select(col("pri"),
        when(pmod(col("k"), lit(5)) === 1, col("cents") + 777L)
          .otherwise(col("cents")).as("c"))
    val expect = fin.groupBy(col("pri"))
      .agg(sum(col("c")).as("mv_cents"), count(lit(1)).as("mv_n"),
        max(col("c")).as("mv_max"))
      .select(col("pri").as("o_orderpriority"), col("mv_cents"),
        col("mv_n"), col("mv_max"))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(served.sameElements(expect),
      "incremental upkeep diverged from the full recompute")
  }
}
