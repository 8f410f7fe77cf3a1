package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** In-memory references for the revenue-concentration pair (Gini
  * coefficient, decile gains table) on real sf0.001 data.
  */
class ConcentrationSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  /** Per-customer whole-dollar spend, ascending by (spend, custkey). */
  private lazy val sortedSpend: Seq[(Long, Long)] =
    spark.read.parquet(s"$dir/orders.parquet")
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1))))
      .groupBy(_._1).map { case (c, rs) => (c, rs.map(_._2).sum) }
      .toSeq.sortBy { case (c, x) => (x, c) }

  test("ax_revenue_gini matches the rank-formula in-memory computation") {
    val n = sortedSpend.size.toLong
    val sx = sortedSpend.map(_._2).sum
    val six = sortedSpend.zipWithIndex
      .map { case ((_, x), i0) => (i0 + 1) * x }.sum
    val num = 2 * six - (n + 1) * sx
    val den = n * sx
    val row = q("ax_revenue_gini").collect().head
    // num/den emit as DECIMAL(38,0)-rendered strings (the wide terms
    // exceed int64 past ~sf0.1 — MomentBoundsSpec covers that side)
    assert((row.getLong(0), row.getLong(1), row.getString(2),
      row.getString(3), row.getLong(4)) ===
      ((n, sx, num.toString, den.toString, 1000L * num / den)))
    // Gini lives in [0, 1); the rank formula's num is non-negative
    assert(num >= 0 && num < den)
  }

  test("ax_decile_gains matches the in-memory decile split; shares sum to ~1") {
    val n = sortedSpend.size.toLong
    val sx = sortedSpend.map(_._2).sum
    val expected = sortedSpend.zipWithIndex
      .map { case ((_, x), i0) => (i0.toLong * 10 / n, x) }
      .groupBy(_._1).map { case (d, xs) =>
        val spend = xs.map(_._2).sum
        (d, xs.size.toLong, spend, spend * 1000000L / sx)
      }.toSeq.sortBy(_._1)
    val got = q("ax_decile_gains").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // deciles tile the customer base; ppm shares sum to 10^6 - O(10) trunc
    assert(got.map(_._2).sum === n)
    val shareSum = got.map(_._4).sum
    assert(shareSum > 999990L && shareSum <= 1000000L)
    // gains monotonicity: spend per decile is non-decreasing in rank
    assert(got.map(_._3) === got.map(_._3).sorted)
  }
}
