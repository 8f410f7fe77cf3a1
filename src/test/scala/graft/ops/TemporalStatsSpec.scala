package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** In-memory references for the temporal-statistics pair (TWAP,
  * histogram-based latency percentiles) on real sf0.001 data.
  */
class TemporalStatsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("ax_twap matches the in-memory hold-until-next-event computation") {
    val rows = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id", "ts", "event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val intervals = rows.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._2.getTime * 1000 +
        e._2.getNanos / 1000 % 1000, e._3))
      sorted.zip(sorted.tail).map { case (cur, next) =>
        def sec(t: java.sql.Timestamp) =
          Math.floorDiv(t.getTime * 1000 + t.getNanos / 1000 % 1000, 1000000L)
        (cur._4, math.round(cur._5 * 100), sec(next._2) - sec(cur._2))
      }
    }.filter(_._3 > 0).toSeq
    val expected = intervals.groupBy(_._1).map { case (t, is) =>
      val num = is.map(i => i._2 * i._3).sum
      val den = is.map(_._3).sum
      (t, is.size.toLong, num, den, num / den)
    }.toSeq.sortBy(_._1)
    val got = q("ax_twap").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
  }

  test("ax_latency_histogram matches in-memory exact order statistics") {
    val od = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_orderdate", "o_orderpriority").collect()
      .map(r => r.getLong(0) ->
        ((r.getTimestamp(1).toLocalDateTime.toLocalDate, r.getString(2))))
      .toMap
    val lat = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_shipdate").collect()
      .map { r =>
        val (odate, prio) = od(r.getLong(0))
        (prio, java.time.temporal.ChronoUnit.DAYS.between(
          odate, r.getTimestamp(1).toLocalDateTime.toLocalDate))
      }
    val expected = lat.groupBy(_._1).map { case (p, ls) =>
      val sorted = ls.map(_._2).sorted
      val n = sorted.length.toLong
      def atRank(k: Long) = sorted((k - 1).toInt)
      (p, n, sorted.head, atRank((n + 1) / 2), atRank((9 * n + 9) / 10),
        sorted.last)
    }.toSeq.sortBy(_._1)
    val got = q("ax_latency_histogram").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
  }

  test("ax_dow_hour_heat matches in-memory ISO dow/hour bucketing") {
    val rows = spark.read.parquet(s"$dir/events.parquet")
      .select("ts").collect().map { r =>
        val ldt = r.getTimestamp(0).toLocalDateTime
        (ldt.getDayOfWeek.getValue.toLong, ldt.getHour.toLong)
      }
    val total = rows.length.toLong
    val expected = rows.groupBy(identity).map { case ((d, h), xs) =>
      (d, h, xs.length.toLong, xs.length.toLong * 1000000L / total)
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = q("ax_dow_hour_heat").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // the epoch-anchor dow formula must agree with java.time's ISO dow
    assert(got.map(_._1).distinct.forall(d => d >= 1 && d <= 7))
  }

  test("ax_wow_growth matches the in-memory weekly lag computation") {
    val rows = spark.read.parquet(s"$dir/events.parquet")
      .select("event_type", "ts").collect()
      .map { r =>
        val epochDay = r.getTimestamp(1).toLocalDateTime.toLocalDate.toEpochDay
        (r.getString(0), epochDay / 7)
      }
    val weekly = rows.groupBy(identity).map { case ((t, w), xs) =>
      (t, w, xs.length.toLong)
    }.toSeq
    val expected = weekly.groupBy(_._1).toSeq.flatMap { case (t, ws) =>
      val sorted = ws.sortBy(_._2)
      sorted.zip(sorted.tail).map { case ((_, _, prev), (_, w, n)) =>
        (t, w, n, prev, n - prev, n * 1000L / prev)
      }
    }.sortBy(x => (x._1, x._2))
    val got = q("ax_wow_growth").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
  }

  test("ax_backtest_naive matches the in-memory baseline scoring") {
    val daily = spark.read.parquet(s"$dir/events.parquet")
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0),
        r.getTimestamp(1).toLocalDateTime.toLocalDate.toEpochDay))
      .groupBy(identity).map { case ((t, d), xs) => (t, d, xs.size.toLong) }
      .toSeq
    val expected = daily.groupBy(_._1).map { case (t, ds) =>
      val sorted = ds.sortBy(_._2).map(_._3)
      val scored = (7 until sorted.length).map { i =>
        (math.abs(sorted(i) - sorted(i - 1)),
          math.abs(sorted(i) - sorted(i - 7)))
      }
      val (aeN, aeS) = (scored.map(_._1).sum, scored.map(_._2).sum)
      (t, scored.length.toLong, aeN, aeS,
        if (aeS < aeN) "seasonal" else if (aeN < aeS) "naive" else "tie")
    }.toSeq.sortBy(_._1)
    val got = q("ax_backtest_naive").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(got === expected)
  }

  test("ax_target_encode shrinks toward the prior (in-memory reference)") {
    val lab = spark.read.parquet(s"$dir/part.parquet")
      .select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byBrand = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_partkey", "l_extendedprice").collect()
      .map(r => (lab(r.getLong(0)), math.round(r.getDouble(1))))
      .groupBy(_._1)
    val (nn, ss) = (byBrand.values.map(_.size.toLong).sum,
      byBrand.values.map(_.map(_._2).sum).sum)
    val prior = 1000L * ss / nn
    val expected = byBrand.map { case (b, xs) =>
      val (n, s) = (xs.size.toLong, xs.map(_._2).sum)
      (b, n, s, prior, (1000L * s + 10L * prior) / (n + 10L))
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("ax_target_encode")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // shrinkage: every encoding sits between its raw mean and the prior
    got.foreach { case (b, n, s, pr, enc) =>
      val raw = 1000L * s / n
      val (lo, hi) = (math.min(raw, pr), math.max(raw, pr))
      assert(enc >= lo - 1 && enc <= hi + 1, s"brand $b not shrunk")
    }
  }

  test("ax_cohort_ltv matches the in-memory cohort accumulation") {
    val rows = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id", "ts", "event_type", "value").collect()
      .map(r => (r.getLong(0),
        r.getTimestamp(1).toLocalDateTime.toLocalDate,
        r.getString(2), math.round(r.getDouble(3) * 100)))
    val cohort = rows.groupBy(_._1).map { case (u, es) =>
      u -> es.map(_._2).min
    }
    val daily = rows.filter(_._3 == "purchase").map { case (u, d, _, c) =>
      ((cohort(u), java.time.temporal.ChronoUnit.DAYS.between(cohort(u), d)),
        c)
    }.groupBy(_._1).map { case ((co, age), xs) =>
      (co.toString, age, xs.length.toLong, xs.map(_._2).sum)
    }.toSeq.sortBy(t => (t._1, t._2))
    val expected = daily.groupBy(_._1).toSeq.flatMap { case (_, ds) =>
      var cum = 0L
      ds.sortBy(_._2).map { case (co, age, n, c) =>
        cum += c; (co, age, n, c, cum)
      }
    }.sortBy(t => (t._1, t._2))
    val got = q("ax_cohort_ltv").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
  }

  test("st_new_returning converges to the batch ax_new_returning answer") {
    // stream and batch share the oracle; this pins them to each other
    // directly, row-for-row, without the oracle in the middle
    val batch = q("ax_new_returning").collect().map(_.toSeq).toSeq
    val streamed = q("st_new_returning").collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }
}
