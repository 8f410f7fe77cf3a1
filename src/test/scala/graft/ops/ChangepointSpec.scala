package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** In-memory references for the series-diagnostics trio — CUSUM
  * changepoint, Wald–Wolfowitz runs, exact-integer OLS trend — on
  * real sf0.001 data.
  */
class ChangepointSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  /** (type → day-ordered daily counts with epoch-day keys) */
  private lazy val daily: Map[String, Seq[(Long, Long)]] =
    spark.read.parquet(s"$dir/events.parquet")
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0),
        r.getTimestamp(1).toLocalDateTime.toLocalDate.toEpochDay))
      .groupBy(identity).map { case ((t, d), xs) => (t, d, xs.size.toLong) }
      .toSeq.groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(x => (x._2, x._3)).sortBy(_._1) }

  test("ax_changepoint matches the in-memory CUSUM argmax") {
    val expected = daily.toSeq.collect { case (t, ds) if ds.size >= 2 =>
      val n = ds.size.toLong
      val s = ds.map(_._2).sum
      val devs = ds.zipWithIndex.map { case ((day, _), i) =>
        val tIdx = i + 1L
        val c = ds.take(i + 1).map(_._2).sum
        (day, tIdx, c, math.abs(n * c - tIdx * s))
      }
      val (day, tIdx, c, dev) =
        devs.minBy { case (d, _, _, a) => (-a, d) }
      (t, n, day, dev, c * 1000L / tIdx, (s - c) * 1000L / (n - tIdx))
    }.sortBy(_._1)
    val got = q("ax_changepoint").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSeq
    assert(got === expected)
    // the argmax is never the final day (D_n ≡ 0 and ties break earliest)
    q("ax_changepoint").collect().foreach { r =>
      val lastDay = daily(r.getString(0)).last._1
      assert(r.getLong(2) < lastDay)
    }
  }

  test("ax_runs_test matches the in-memory runs computation") {
    val expected = daily.toSeq.flatMap { case (t, ds) =>
      val counts = ds.map(_._2)
      val sorted = counts.sorted
      val med = sorted(((counts.size + 1) / 2 - 1))
      val signs = ds.collect {
        case (_, c) if c > med => 1L
        case (_, c) if c < med => -1L
      }
      if (signs.isEmpty) None
      else {
        val a = signs.count(_ == 1L).toLong
        val b = signs.count(_ == -1L).toLong
        val runs = 1L + signs.zip(signs.tail).count { case (x, y) => x != y }
        Some((t, med, a, b, runs, 2000L * a * b / (a + b) + 1000L))
      }
    }.sortBy(_._1)
    val got = q("ax_runs_test").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
  }

  test("ax_trend_fit matches the in-memory normal equations") {
    val expected = daily.toSeq.collect { case (t, ds) if ds.size >= 2 =>
      val n = ds.size.toLong
      val st = ds.map(_._1).sum
      val sy = ds.map(_._2).sum
      val sty = ds.map { case (d, c) => d * c }.sum
      val stt = ds.map { case (d, _) => d * d }.sum
      val num = n * sty - st * sy
      val den = n * stt - st * st
      (t, n, num, den, num * 1000000L / den,
        if (num > 0) "up" else if (num < 0) "down" else "flat")
    }.sortBy(_._1)
    val got = q("ax_trend_fit").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(got === expected)
    // den is the scaled variance of the day index: strictly positive
    got.foreach { case (_, _, _, den, _, _) => assert(den > 0) }
  }
}
