package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Data-governance planning operators: right-to-be-forgotten purge
  * cascades and retention (TTL) sweeps. Both follow the
  * `ax_vacuum_plan` discipline — the operator EMITS the audited plan
  * (which tables, how many keys, how many rows) rather than mutating
  * storage: at 100 TB you plan, review, then execute deletes, because
  * an unaudited cascade is unrecoverable.
  *
  * Extension surface beyond reference parity (north star
  * repo:BASELINE.json); the reference generates expressions only
  * (/root/reference/polarify/main.py:49-388).
  */
object Governance {

  // -------------------------------------------------------------------
  // ax_rtbf_purge: RIGHT-TO-BE-FORGOTTEN purge planning — given a
  // deletion-request key set (here the deterministic residue class
  // c_custkey ≡ 3 mod 7, standing in for the DSR inbox), walk the
  // foreign-key graph and price the cascade: customer rows directly,
  // orders via the customer FK, lineitem via the order FK
  // (two-level cascade), events via the user FK. Emits one row per
  // table: distinct purge keys touched + rows to delete.
  //
  // Scale shape: the request set is a tiny fraction of one dimension
  // (1/7 here; in practice ~10⁻⁶ of users) — it BROADCASTS to orders,
  // events and customer, so each level-1 table is pruned in one
  // broadcast SEMI join with zero fact shuffle. The level-2 lineitem
  // prune keys on the AFFECTED ORDER set, which is requests × orders-
  // per-customer — still dimension-scale, but the join is left to AQE
  // (a 1/7 residue at gate scale broadcasts; a realistic DSR batch
  // always does). Every table is scanned ONCE and only its key column
  // is read until the count. The four per-table plans collapse to
  // 1-row aggregates unioned — the output is O(#tables) regardless of
  // data size.
  // -------------------------------------------------------------------
  private def rtbfPurge(spark: SparkSession, dir: String): DataFrame = {
    val req = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("k"))
      .filter(pmod(col("k"), lit(7)) === 3)
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(req), col("o_custkey") === col("k"), "left_semi")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"))
      .join(orders.select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"))
      .join(broadcast(req), col("user_id") === col("k"), "left_semi")
    val cRow = req.agg(count(lit(1)).as("n_keys"), count(lit(1)).as("rows_purged"))
      .select(lit("customer").as("tbl"), col("n_keys"), col("rows_purged"))
    val oRow = orders.agg(countDistinct(col("o_custkey")).as("n_keys"),
        count(lit(1)).as("rows_purged"))
      .select(lit("orders").as("tbl"), col("n_keys"), col("rows_purged"))
    val lRow = li.agg(countDistinct(col("l_orderkey")).as("n_keys"),
        count(lit(1)).as("rows_purged"))
      .select(lit("lineitem").as("tbl"), col("n_keys"), col("rows_purged"))
    val eRow = ev.agg(countDistinct(col("user_id")).as("n_keys"),
        count(lit(1)).as("rows_purged"))
      .select(lit("events").as("tbl"), col("n_keys"), col("rows_purged"))
    cRow.unionAll(oRow).unionAll(lRow).unionAll(eRow).orderBy("tbl")
  }

  private val rtbfPurgeSql =
    """WITH req AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 7 = 3),
      |o AS (SELECT o_orderkey, o_custkey FROM orders
      |      WHERE o_custkey IN (SELECT k FROM req)),
      |l AS (SELECT l_orderkey FROM lineitem
      |      WHERE l_orderkey IN (SELECT o_orderkey FROM o)),
      |ev AS (SELECT user_id FROM events
      |       WHERE user_id IN (SELECT k FROM req))
      |SELECT * FROM (
      |  SELECT 'customer' AS tbl, COUNT(*) AS n_keys, COUNT(*) AS rows_purged
      |  FROM req
      |  UNION ALL
      |  SELECT 'orders', COUNT(DISTINCT o_custkey), COUNT(*) FROM o
      |  UNION ALL
      |  SELECT 'lineitem', COUNT(DISTINCT l_orderkey), COUNT(*) FROM l
      |  UNION ALL
      |  SELECT 'events', COUNT(DISTINCT user_id), COUNT(*) FROM ev
      |) ORDER BY tbl""".stripMargin

  // -------------------------------------------------------------------
  // ax_retention_sweep: retention-policy (TTL) sweep planning — price
  // the deletion of events older than the 7-day retention horizon,
  // anchored to the CORPUS's own max event time (a wall-clock anchor
  // would make the answer nondeterministic and un-oracle-able). Emits
  // one row per event type: rows to delete, distinct days covered,
  // payload chars reclaimed, and the [oldest, newest] purged-day span
  // as ISO strings — the audit a storage owner signs off before the
  // delete job runs.
  //
  // Scale shape: the anchor is a 1-row MAX aggregate crossJoin-
  // broadcast back (never a driver-side collect); the sweep itself is
  // ONE filtered scan + map-side-combined aggregate to |types| rows.
  // On a date-partitioned table the ts predicate is exactly the
  // partition-pruning shape (ax_partition_evolution measures it) —
  // the plan READS only expired partitions, which is what makes TTL
  // affordable at 100 TB. Timestamp arithmetic stays in whole-day
  // INTERVAL (micros-exact in both engines; no float epoch math).
  // -------------------------------------------------------------------
  private def retentionSweep(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val anchor = ev.agg(max(col("ts")).as("max_ts"))
    ev.crossJoin(broadcast(anchor))
      .filter(col("ts") < col("max_ts") - expr("INTERVAL 7 DAYS"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(date_format(col("ts"), "yyyy-MM-dd")).as("n_days"),
        sum(length(col("props"))).as("props_chars"),
        min(date_format(col("ts"), "yyyy-MM-dd")).as("oldest_day"),
        max(date_format(col("ts"), "yyyy-MM-dd")).as("newest_day"))
      .orderBy("event_type")
  }

  private val retentionSweepSql =
    """WITH a AS (SELECT MAX(ts) AS max_ts FROM events)
      |SELECT event_type, COUNT(*) AS n_rows,
      |  COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
      |  CAST(SUM(length(props)) AS BIGINT) AS props_chars,
      |  MIN(strftime(ts, '%Y-%m-%d')) AS oldest_day,
      |  MAX(strftime(ts, '%Y-%m-%d')) AS newest_day
      |FROM events, a WHERE ts < max_ts - INTERVAL 7 DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_rtbf_purge", rtbfPurge, rtbfPurgeSql),
    Gate("ax_retention_sweep", retentionSweep, retentionSweepSql)
  )
}
