package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** NN-descent invariants on real sf0.001 data, independent of the
  * DuckDB oracle: the round must never lose recall (the candidate set
  * contains every current edge and truth is the global top-k under the
  * same total order, so per-probe hits are monotone), the lift must be
  * strictly positive somewhere (a refinement that never moves is the
  * round-11 disconnected-init failure mode), and the plan must stay
  * keyed — the only cartesian is the broadcast probe panel of the
  * recall audit.
  */
class GraphAnnSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val rows =
    SparkEntry.queries("sim_nnd_round")(spark, dir).collect()

  test("per-probe recall is monotone across the round") {
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) >= r.getLong(2),
        s"probe ${r.getLong(0)}: refined ${r.getLong(3)} < init ${r.getLong(2)}")
    }
  }

  test("the round strictly improves at least one probe") {
    assert(rows.exists(r => r.getLong(3) > r.getLong(2)),
      "zero total lift — init graph likely disconnected again")
  }

  test("hits are bounded by k and recalls are consistent") {
    rows.foreach { r =>
      val k = r.getLong(1)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= k)
      assert(r.getLong(3) >= 0 && r.getLong(3) <= k)
      assert(r.getLong(4) == r.getLong(2) * 1000 / k)
      assert(r.getLong(5) == r.getLong(3) * 1000 / k)
    }
  }

  test("the convergence curve is monotone and round 1 matches nnd_round") {
    val curve = SparkEntry.queries("sim_nnd_converge")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(curve.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    val recalls = curve.map(_.getLong(3))
    assert(recalls(0) <= recalls(1) && recalls(1) <= recalls(2),
      s"curve must be monotone: ${recalls.toSeq}")
    assert(recalls(2) > recalls(0), "two rounds must strictly improve")
    // generation 1 of the curve is the same graph nnd_round refines to
    assert(curve(1).getLong(1) == rows.map(_.getLong(3)).sum,
      "curve round-1 hits must equal nnd_round's refined hits")
  }

  test("only the probe-panel broadcast is a non-keyed join") {
    val p = SparkEntry.queries("sim_nnd_round")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"a non-broadcast cartesian appeared:\n$p")
  }
}
