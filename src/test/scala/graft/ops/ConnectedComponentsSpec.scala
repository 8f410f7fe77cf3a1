package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain merges transitively even when the pair (1,3) was never emitted") {
    assert(components(Seq((1L, 2L), (2L, 3L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("separate components keep separate min labels") {
    assert(components(Seq((5L, 4L), (10L, 11L), (11L, 12L), (2L, 7L))) ===
      Map(4L -> 4L, 5L -> 4L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 2L -> 2L, 7L -> 2L))
  }

  test("long path converges within the iteration budget (worst-case diameter)") {
    // path 0-1-2-...-12: min label must walk the full diameter
    val path = (0L until 12L).map(i => (i, i + 1))
    val got = components(path)
    assert(got.values.toSet === Set(0L))
    assert(got.size === 13)
  }

  // ----- large-star/small-star (the O(log² n) billion-node loop) -----

  private def bigstar(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponentsBigStar(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("big-star: chain contracts to the min root") {
    // non-root nodes all point at the component min; the root has no row
    assert(bigstar(Seq((1L, 2L), (2L, 3L))) === Map(2L -> 1L, 3L -> 1L))
  }

  test("big-star: separate components, reversed/duplicated edges") {
    assert(bigstar(Seq((5L, 4L), (4L, 5L), (10L, 11L), (11L, 12L), (2L, 7L))) ===
      Map(5L -> 4L, 11L -> 10L, 12L -> 10L, 7L -> 2L))
  }

  test("big-star: long path agrees with label propagation") {
    val path = (0L until 12L).map(i => (i, i + 1))
    val lp = components(path)
    val bs = bigstar(path)
    // same assignment on non-root nodes; the root maps to itself in lp
    assert((1L to 12L).forall(v => bs(v) == lp(v)))
    assert(bs.keySet === (1L to 12L).toSet)
  }
}
