package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Relational reshaping: unpivot (wide→long melt) and explicit GROUPING
  * SETS — the complements of the pivot/rollup/cube family already in
  * [[Analytics]].
  */
object Reshape {

  // -------------------------------------------------------------------
  // ax_unpivot_metrics: melt a wide per-flag aggregate into (flag,
  // metric, value) long form — the standard shape for feeding metric
  // stores and plotting layers. Uses the native `unpivot` operator
  // (an Expand node: each input row fans out to one row per value
  // column, map-side, no shuffle beyond the small upstream aggregate).
  // Money is summed in integer cents (round-then-cast — DuckDB CAST
  // rounds while Spark truncates, so the round must be explicit).
  // -------------------------------------------------------------------
  private def unpivotMetrics(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"),
        count(lit(1)).as("n_rows"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price_cents"), col("n_rows")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")

  private[ops] val unpivotMetricsSql =
    """WITH w AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |    CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |      AS sum_price_cents,
      |    COUNT(*) AS n_rows
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
      |UNION ALL
      |SELECT l_returnflag, 'sum_price_cents', sum_price_cents FROM w
      |UNION ALL
      |SELECT l_returnflag, 'n_rows', n_rows FROM w
      |ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_grouping_sets: explicit GROUPING SETS — independent marginals
  // (per returnflag, per linestatus, grand total) in ONE pass. rollup/
  // cube are fixed lattices; arbitrary sets need the SQL form, so this
  // runs through spark.sql over a temp view. Same Expand-based plan:
  // each row replicated once per set, then a single hash aggregate —
  // one scan instead of the three a UNION ALL of separate GROUP BYs
  // would cost.
  // -------------------------------------------------------------------
  private def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(s"$dir/lineitem.parquet")
      .createOrReplaceTempView("li_gsets")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  sum(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |  count(1) AS n
        |FROM li_gsets
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY 1, 2""".stripMargin)
  }

  private val groupingSetsSql =
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |  coalesce(l_linestatus, 'ALL') AS status,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY 1, 2""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_unpivot_metrics", unpivotMetrics, unpivotMetricsSql),
    Gate("ax_grouping_sets", groupingSets, groupingSetsSql)
  )
}
