package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** Independent in-memory reference implementations for the association
  * batch (lift rules, brand modularity, degree assortativity) on real
  * sf0.001 data. The DuckDB oracle proves cross-engine agreement; these
  * prove the distributed formulations compute the ALGORITHM they claim,
  * re-derived from first principles on the driver.
  */
class AssociationSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  /** Distinct (order, part) incidence read once for all references. */
  private lazy val incidence: Seq[(Long, Long)] =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Strong pairs (co-purchased in ≥ 2 distinct orders) → multiplicity. */
  private lazy val strongPairs: Map[(Long, Long), Long] = {
    val byOrder = incidence.groupBy(_._1)
    val counts = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for ((_, rows) <- byOrder; parts = rows.map(_._2).sorted;
         i <- parts.indices; j <- (i + 1) until parts.length)
      counts((parts(i), parts(j))) = counts.getOrElse((parts(i), parts(j)), 0L) + 1
    counts.filter(_._2 >= 2).toMap
  }

  private lazy val itemCount: Map[Long, Long] =
    incidence.groupBy(_._2).map { case (p, rs) => p -> rs.size.toLong }

  private lazy val degree: Map[Long, Long] = {
    val d = scala.collection.mutable.Map.empty[Long, Long]
    for ((a, b) <- strongPairs.keys) {
      d(a) = d.getOrElse(a, 0L) + 1; d(b) = d.getOrElse(b, 0L) + 1
    }
    d.toMap
  }

  test("ax_lift_rules is the exact top-100 by lift over strong pairs") {
    val nOrders = incidence.map(_._1).distinct.size.toLong
    val expected = strongPairs.toSeq.map { case ((a, b), nAb) =>
      val (ca, cb) = (itemCount(a), itemCount(b))
      (a, b, nAb, ca, cb, nAb * 1000000L / nOrders, nAb * 1000000L / ca,
        nAb * nOrders * 1000000L / (ca * cb))
    }.sortBy(t => (-t._8, t._1, t._2)).take(100)
    val got = q("ax_lift_rules").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
      .sortBy(t => (-t._8, t._1, t._2)).toSeq
    assert(got === expected)
  }

  test("ax_modularity per-brand terms match the in-memory partition sums") {
    val brand = spark.read.parquet(s"$dir/part.parquet")
      .select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val m = strongPairs.size.toLong
    val dC = degree.toSeq.groupBy { case (v, _) => brand(v) }
      .map { case (c, vs) => c -> vs.map(_._2).sum }
    val eC = strongPairs.keys.toSeq
      .filter { case (a, b) => brand(a) == brand(b) }
      .groupBy { case (a, _) => brand(a) }
      .map { case (c, es) => c -> es.size.toLong }
    val expected = dC.map { case (c, d) =>
      val e = eC.getOrElse(c, 0L)
      (c, e, d, m, 4L * m * e - d * d)
    }.toSeq.sortBy(_._1)
    val got = q("ax_modularity").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // partition invariant: brand degrees tile the whole graph
    assert(dC.values.sum === 2L * m)
  }

  test("ax_assortativity sums match the in-memory edge pass; |r| <= 1") {
    val es = strongPairs.keys.toSeq.flatMap { case (a, b) =>
      Seq((a, b), (b, a))
    }
    val nDir = es.size.toLong
    val sx = es.map { case (a, _) => degree(a) }.sum
    val sxy = es.map { case (a, b) => degree(a) * degree(b) }.sum
    val sxx = es.map { case (a, _) => degree(a) * degree(a) }.sum
    val row = q("ax_assortativity").collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      === ((nDir, sx, sxy, sxx)))
    // r_num/r_den are DECIMAL(38,0)-rendered strings
    val (rNum, rDen) = (row.getString(4).toLong, row.getString(5).toLong)
    assert(rNum === nDir * sxy - sx * sx)
    assert(rDen === nDir * sxx - sx * sx)
    assert(rDen >= 0L)            // variance numerator
    assert(math.abs(rNum) <= rDen) // Cauchy–Schwarz: |r| ≤ 1
  }
}
