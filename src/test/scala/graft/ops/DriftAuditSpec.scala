package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** In-memory references for the mixture-drift audits (pairwise source
  * TV distance, per-source language Gini) on real sf0.001 data.
  */
class DriftAuditSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  private lazy val docRows: Seq[(String, String, String)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq

  test("tx_source_tv matches the all-pairs in-memory TV computation") {
    val bySource = docRows.groupBy(_._1).map { case (s, ds) =>
      val toks = ds.flatMap(_._3.trim.toLowerCase.split("\\s+"))
        .filter(_.nonEmpty)
      val n = toks.size.toLong
      s -> toks.groupBy(identity).map { case (t, xs) =>
        t -> xs.size.toLong * 1000000L / n
      }
    }
    val expected = (for {
      sa <- bySource.keys.toSeq; sb <- bySource.keys.toSeq if sa < sb
      pa = bySource(sa); pb = bySource(sb)
      commonTerms = pa.keySet & pb.keySet
      l1 = commonTerms.toSeq.map(t => math.abs(pa(t) - pb(t))).sum +
        (pa.values.sum - commonTerms.toSeq.map(pa).sum) +
        (pb.values.sum - commonTerms.toSeq.map(pb).sum)
    } yield (sa, sb, commonTerms.size.toLong, l1, l1 / 2))
      .sortBy(t => (t._1, t._2))
    val got = q("tx_source_tv").collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // TV is a [0, 1] metric: every pair must land inside the ppm bound
    assert(got.forall(t => t._5 >= 0L && t._5 <= 1000000L))
  }

  test("tx_lang_gini matches the in-memory impurity computation") {
    val expected = docRows.groupBy(_._1).map { case (s, ds) =>
      val n = ds.size.toLong
      val shares = ds.groupBy(_._2).values
        .map(g => g.size.toLong * 1000000L / n).toSeq
      (s, n, shares.size.toLong, shares.max,
        1000000L - shares.map(x => x * x).sum / 1000000L)
    }.toSeq.sortBy(_._1)
    val got = q("tx_lang_gini").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // impurity bound for k classes: 0 <= gini <= 10^6 * (1 - 1/k)
    assert(got.forall(t => t._5 >= 0L && t._5 <= 1000000L - 1000000L / t._3))
  }
}
