package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate

/** Backward as-of join — an operator Spark lacks natively (SURVEY.md
  * marks it an extension; DuckDB spells it `ASOF JOIN`, which is exactly
  * what the oracle uses).
  *
  * Semantics: for each left row, attach the payload of the most recent
  * right row with the same key and `right.ts <= left.ts` (inclusive);
  * null payload when no such row exists (left-outer flavor).
  *
  * Implementation is the scale-native merge formulation, NOT a range
  * join: tag and union both inputs, then one window pass
  * `last(payload, ignoreNulls) OVER (PARTITION BY key ORDER BY ts, kind
  * ROWS UNBOUNDED PRECEDING)` carries the latest right payload forward
  * into each left row. Right rows sort before left rows on timestamp
  * ties (kind 0 < 1) to make the match inclusive.
  *
  * 100 TB notes: exactly ONE shuffle of each input (hash on key), then a
  * per-partition sort — the same cost as a sort-merge join, with no
  * candidate-pair explosion no matter how the timestamps distribute (a
  * naive `l.ts >= r.ts` range join is quadratic per key). Hot keys can
  * be range-salted by time bucket if a single user's history outgrows an
  * executor; AQE skew-split handles moderate skew unaided.
  */
object AsOf {

  /** Generic backward as-of join. Right payload = every right column
    * except `key` and `ts`, delivered as a struct column named `asof`
    * (null when unmatched). Left columns pass through unchanged.
    */
  def joinBackward(left: DataFrame, right: DataFrame, key: String, ts: String): DataFrame = {
    val payloadCols = right.columns.filterNot(c => c == key || c == ts)
    require(payloadCols.nonEmpty, "right side needs at least one payload column")
    val r = right.select(
      col(key), col(ts),
      struct(payloadCols.map(col).toIndexedSeq: _*).as("__asof_payload"))
      .withColumn("__kind", lit(0))
    val l = left.withColumn("__kind", lit(1))
    val merged = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(key).orderBy(col(ts).asc, col("__kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged
      .withColumn("asof", last(col("__asof_payload"), ignoreNulls = true).over(w))
      .filter(col("__kind") === 1)
      .drop("__asof_payload", "__kind")
  }

  // -------------------------------------------------------------------
  // ax_asof_view_purchase: for every purchase event, the most recent
  // view event by the same user at-or-before the purchase. Views are
  // pre-deduplicated to one row per (user, ts) — max(event_id) — so the
  // as-of match is deterministic even if the source ever carries
  // timestamp ties (DuckDB ASOF picks an arbitrary row on duplicates).
  // -------------------------------------------------------------------
  private def asofViewPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("view_id"))
    joinBackward(purchases, views, "user_id", "ts")
      .select(col("event_id"), col("user_id"), col("asof.view_id").as("view_id"))
      .orderBy("event_id")
  }

  private val asofViewPurchaseSql =
    """WITH v AS (
      |  SELECT user_id, ts, max(event_id) AS view_id
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      |p AS (
      |  SELECT event_id, user_id, ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, v.view_id
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_asof_view_purchase", asofViewPurchase, asofViewPurchaseSql)
  )
}
