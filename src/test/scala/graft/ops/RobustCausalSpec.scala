package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** In-memory references for the robust/causal batch — grouped OLS
  * elasticity, difference-in-differences, winsorized means, weekend
  * lift, and order-gap percentiles — on real sf0.001 data.
  */
class RobustCausalSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("ax_discount_elasticity matches the in-memory normal equations") {
    val brand = spark.read.parquet(s"$dir/part.parquet")
      .select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val xs = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_partkey", "l_discount", "l_quantity").collect()
      .map(r => (brand(r.getLong(0)), math.round(r.getDouble(1) * 1000),
        r.getDouble(2).toLong))
    val expected = xs.groupBy(_._1).toSeq.flatMap { case (b, rows) =>
      val n = rows.size.toLong
      val sx = rows.map(_._2).sum; val sy = rows.map(_._3).sum
      val sxy = rows.map(r => r._2 * r._3).sum
      val sxx = rows.map(r => r._2 * r._2).sum
      val num = n * sxy - sx * sy
      val den = n * sxx - sx * sx
      if (den <= 0) None
      else Some((b, n, num.toString, den.toString,
        math.floor(1000000.0 * num.toDouble / den.toDouble).toLong,
        if (num > 0) "up" else if (num < 0) "down" else "flat"))
    }.sortBy(_._1)
    // slope_num/slope_den emit as DECIMAL(38,0)-rendered strings (the
    // 2^63 moment class — MomentBoundsSpec covers the wide side)
    val got = q("ax_discount_elasticity").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(got === expected)
  }

  test("ax_diff_in_diff matches the in-memory 2x2 cell computation") {
    val rows = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id", "ts", "value").collect()
      .map(r => (r.getLong(0) % 2,
        r.getTimestamp(1).toLocalDateTime.toLocalDate.toEpochDay,
        math.round(r.getDouble(2) * 100)))
    val mid = (rows.map(_._2).min + rows.map(_._2).max) / 2
    def cell(treat: Long, post: Boolean): (Long, Long) = {
      val c = rows.filter(r => r._1 == treat && (r._2 > mid) == post)
      (c.size.toLong, c.map(_._3).sum)
    }
    def mean(c: (Long, Long)) = c._2 * 1000L / c._1
    val (c00, c01, c10, c11) =
      (cell(0, false), cell(0, true), cell(1, false), cell(1, true))
    val expected = (mean(c00), mean(c01), mean(c10), mean(c11),
      Seq(c00, c01, c10, c11).map(_._1).min,
      mean(c11) - mean(c10) - (mean(c01) - mean(c00)))
    val r = q("ax_diff_in_diff").collect().head
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5))
    assert(got === expected)
  }

  test("ax_winsor_mean matches the in-memory clamp-and-average") {
    val byType = spark.read.parquet(s"$dir/events.parquet")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100)))
      .groupBy(_._1)
    val expected = byType.toSeq.map { case (t, xs) =>
      val sorted = xs.map(_._2).sorted
      val n = sorted.size.toLong
      def sel(rank: Long) = sorted((rank - 1).toInt)
      val p05 = sel((n + 19) / 20)
      val p95 = sel((19 * n + 19) / 20)
      val winsor = sorted.map(v => math.max(p05, math.min(v, p95))).sum
      (t, n, p05, p95, sorted.sum * 1000L / n, winsor * 1000L / n)
    }.sortBy(_._1)
    val got = q("ax_winsor_mean").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
    // winsorizing pulls the mean toward the center, never past the clamps
    got.foreach { case (_, _, p05, p95, _, wm) =>
      assert(wm >= p05 * 1000 && wm <= p95 * 1000)
    }
  }

  test("ax_weekend_lift matches the in-memory active-day means") {
    val daily = spark.read.parquet(s"$dir/events.parquet")
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0),
        r.getTimestamp(1).toLocalDateTime.toLocalDate))
      .groupBy(identity).map { case ((t, d), xs) => (t, d, xs.size.toLong) }
    val expected = daily.groupBy(_._1).toSeq.flatMap { case (t, ds) =>
      val (we, wd) = ds.partition(_._2.getDayOfWeek.getValue >= 6)
      val (sWe, dWe) = (we.map(_._3).sum, we.size.toLong)
      val (sWd, dWd) = (wd.map(_._3).sum, wd.size.toLong)
      if (dWe > 0 && dWd > 0 && sWd > 0)
        Some((t, sWe, dWe, sWd, dWd, sWe * dWd * 1000L / (sWd * dWe)))
      else None
    }.sortBy(_._1)
    val got = q("ax_weekend_lift").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
  }

  test("ax_order_gap_stats matches in-memory exact gap order statistics") {
    val seg = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val gaps = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_custkey", "o_orderkey", "o_orderdate").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).toLocalDateTime.toLocalDate))
      .groupBy(_._1).toSeq.flatMap { case (ck, os) =>
        val sorted = os.sortBy(o => (o._3.toEpochDay, o._2))
        sorted.zip(sorted.tail).map { case (a, b) =>
          (seg(ck), b._3.toEpochDay - a._3.toEpochDay)
        }
      }
    val expected = gaps.groupBy(_._1).toSeq.map { case (s, gs) =>
      val sorted = gs.map(_._2).sorted
      val n = sorted.size.toLong
      def sel(rank: Long) = sorted((rank - 1).toInt)
      (s, n, sorted.head, sel((n + 1) / 2), sel((9 * n + 9) / 10),
        sorted.last)
    }.sortBy(_._1)
    val got = q("ax_order_gap_stats").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
  }
}
