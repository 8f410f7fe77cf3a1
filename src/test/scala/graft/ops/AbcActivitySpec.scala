package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** In-memory references for ABC classification and the new-vs-returning
  * split on real sf0.001 data.
  */
class AbcActivitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("ax_abc_class matches the in-memory cumulative-share classification") {
    val spend = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_partkey", "l_extendedprice").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1))))
      .groupBy(_._1).map { case (p, rs) => (p, rs.map(_._2).sum) }
      .toSeq.sortBy { case (p, x) => (-x, p) }
    val total = spend.map(_._2).sum
    var cum = 0L
    val classed = spend.map { case (_, x) =>
      cum += x
      val cls = if (cum * 5 <= 4 * total) "A"
        else if (cum * 20 <= 19 * total) "B" else "C"
      (cls, x)
    }
    val expected = classed.groupBy(_._1).map { case (c, xs) =>
      val rev = xs.map(_._2).sum
      (c, xs.size.toLong, rev, rev * 1000000L / total)
    }.toSeq.sortBy(_._1)
    val got = q("ax_abc_class").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // the defining property: A carries the most revenue with the
    // fewest parts (head-heavy by construction on any skewed corpus)
    val byClass = got.map(r => r._1 -> r).toMap
    assert(byClass("A")._3 >= byClass("B")._3)
  }

  test("ax_new_returning matches the in-memory first-seen split") {
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    val ud = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), fmt.format(r.getTimestamp(1))))
      .distinct
    val first = ud.groupBy(_._1).map { case (u, ds) =>
      u -> ds.map(_._2).min
    }
    val expected = ud.groupBy(_._2).map { case (d, us) =>
      val nNew = us.count { case (u, day) => first(u) == day }
      (d, us.size.toLong, nNew.toLong, (us.size - nNew).toLong)
    }.toSeq.sortBy(_._1)
    val got = q("ax_new_returning").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // conservation: every user is new exactly once
    assert(got.map(_._3).sum === first.size.toLong)
  }

  test("dd_source_flow pair totals conserve against the cluster-size spectrum") {
    // Σ over the flow matrix of n_pairs must equal Σ over clusters of
    // C(size, 2): every same-cluster doc pair lands in exactly one
    // (source_a, source_b) cell. The two queries aggregate the shared
    // assignment along different axes, so agreement pins both.
    val flowTotal = q("dd_source_flow").collect().map(_.getLong(2)).sum
    val sizeTotal = q("dd_cluster_sizes").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .map { case (sz, n) => n * (sz * (sz - 1) / 2) }.sum
    assert(flowTotal === sizeTotal)
    val rows = q("dd_source_flow").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.forall { case (sa, sb, n) => sa <= sb && n > 0 })
  }

  test("tx_split_leakage conserves against the cluster-size spectrum") {
    // same conservation as the source-flow matrix: every same-cluster
    // pair lands in exactly one (split_a, split_b) cell
    val flowTotal = q("tx_split_leakage").collect().map(_.getLong(2)).sum
    val sizeTotal = q("dd_cluster_sizes").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .map { case (sz, n) => n * (sz * (sz - 1) / 2) }.sum
    assert(flowTotal === sizeTotal)
    // a hash-random split MUST leak when clusters exist — the bug this
    // table exists to catch; the train-only diagonal dominates at 80%
    val cells = q("tx_split_leakage").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    if (sizeTotal > 0) assert(cells.nonEmpty)
  }

  test("dd_bucket_skew row mass conserves: every doc appears once per band") {
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    val rows = q("dd_bucket_skew").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // Σ n_rows over the spectrum = Bands × docs (each doc contributes
    // exactly one (band, bh) row per band)
    assert(rows.map(_._3).sum === MinHashLsh.Bands * nDocs)
    rows.foreach { case (sz, nB, nR, cost, capped) =>
      assert(nR === sz * nB && cost === sz * sz * nB)
      assert(capped === (if (sz > MinHashLsh.MaxBucket) 1L else 0L))
    }
  }
}
