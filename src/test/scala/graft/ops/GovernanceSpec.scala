package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Independent in-memory references for the governance/robust-stats
  * batch (RTBF purge cascade, retention sweep, MAD anomaly screen) on
  * real sf0.001 data — the oracle proves cross-engine agreement, these
  * prove the distributed formulations compute the claimed algorithm.
  */
class GovernanceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("ax_rtbf_purge cascade counts match the in-memory FK walk") {
    val custkeys = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
    val req = custkeys.filter(k => k % 7 == 3).toSet
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val affOrders = orders.filter { case (_, c) => req(c) }
    val affOrderKeys = affOrders.map(_._1).toSet
    val liRows = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey").collect().map(_.getLong(0))
      .count(affOrderKeys)
    val liKeys = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey").collect().map(_.getLong(0))
      .filter(affOrderKeys).distinct.length
    val evUsers = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id").collect().map(_.getLong(0)).filter(req)
    val got = q("ax_rtbf_purge").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("customer") === ((req.size.toLong, req.size.toLong)))
    assert(got("orders") ===
      ((affOrders.map(_._2).distinct.length.toLong, affOrders.length.toLong)))
    assert(got("lineitem") === ((liKeys.toLong, liRows.toLong)))
    assert(got("events") ===
      ((evUsers.distinct.length.toLong, evUsers.length.toLong)))
  }

  test("ax_retention_sweep matches the in-memory TTL filter") {
    val rows = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"), col("ts"), length(col("props")).as("pc"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getInt(2).toLong))
    val maxTs = rows.map(_._2.getTime).max
    val cutoff = maxTs - 7L * 24 * 3600 * 1000
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    val expired = rows.filter(_._2.getTime < cutoff)
    val expected = expired.groupBy(_._1).map { case (t, rs) =>
      val days = rs.map(r => fmt.format(r._2))
      (t, rs.length.toLong, days.distinct.length.toLong, rs.map(_._3).sum,
        days.min, days.max)
    }.toSeq.sortBy(_._1)
    val got = q("ax_retention_sweep").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).toSeq
    assert(got === expected)
    // the 7-day horizon must actually bite on the 30-day fixture
    assert(expired.nonEmpty && expired.length < rows.length)
  }

  test("ax_anomaly_mad matches the in-memory lower-median/MAD screen") {
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    val daily = spark.read.parquet(s"$dir/events.parquet")
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0), fmt.format(r.getTimestamp(1))))
      .groupBy(identity).map { case ((t, d), rs) => (t, d, rs.length.toLong) }
      .toSeq
    def lowerMedian(xs: Seq[(Long, String)]): Long = {
      // lower median under total order (value, day): rank (n+1)/2
      val sorted = xs.sortBy(x => (x._1, x._2))
      sorted((xs.size + 1) / 2 - 1)._1
    }
    val expected = daily.groupBy(_._1).map { case (t, rs) =>
      val med = lowerMedian(rs.map(r => (r._3, r._2)))
      val devs = rs.map(r => (math.abs(r._3 - med), r._2))
      val mad = lowerMedian(devs)
      (t, rs.size.toLong, med, mad,
        devs.count(_._1 > 3 * mad).toLong, devs.map(_._1).max)
    }.toSeq.sortBy(_._1)
    val got = q("ax_anomaly_mad").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
  }

  test("ax_fk_orphans matches the in-memory FK walk (zero on this schema)") {
    def keys(tbl: String, c: String): Set[Long] =
      spark.read.parquet(s"$dir/$tbl.parquet").select(c).collect()
        .map(r => r.getAs[Number](0).longValue).toSet
    def child(tbl: String, c: String): Seq[Long] =
      spark.read.parquet(s"$dir/$tbl.parquet").select(c).collect()
        .map(r => r.getAs[Number](0).longValue).toSeq
    val rels = Seq(
      ("customer.nation", child("customer", "c_nationkey"), keys("nation", "n_nationkey")),
      ("lineitem.orders", child("lineitem", "l_orderkey"), keys("orders", "o_orderkey")),
      ("lineitem.part", child("lineitem", "l_partkey"), keys("part", "p_partkey")),
      ("lineitem.supplier", child("lineitem", "l_suppkey"), keys("supplier", "s_suppkey")),
      ("orders.customer", child("orders", "o_custkey"), keys("customer", "c_custkey")))
    val expected = rels.map { case (rel, ch, pk) =>
      val orphans = ch.filterNot(pk)
      (rel, ch.size.toLong, orphans.size.toLong,
        orphans.distinct.size.toLong)
    }
    val got = q("ax_fk_orphans").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // the generated star schema is referentially intact — the audit's
    // zero certificate is itself the pinned expectation
    assert(got.forall(_._3 === 0L))
  }

  test("tx_langid_confusion aggregates the per-doc langid verdicts") {
    val per = q("tx_langid").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val total = per.length.toLong
    val expected = per.groupBy(identity).map { case ((t, p), xs) =>
      val nTrue = per.count(_._1 == t).toLong
      (t, p, xs.length.toLong, nTrue, xs.length.toLong * 1000000L / nTrue)
    }.toSeq.sortBy(x => (x._1, x._2))
    val got = q("tx_langid_confusion").collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // conservation: cells tile the corpus
    assert(got.map(_._3).sum === total)
  }
}
