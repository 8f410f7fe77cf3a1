package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form invariants for the visual/audio quality audits. The
  * DuckDB oracle proves decode-vs-generator agreement (the
  * differential contract); these pin the METRIC's structure: the
  * fixture's horizontal gradient is provably 7 except at mod-256
  * wraps, where it is 249 — so the emitted sums must satisfy an exact
  * linear identity, and the clipping run length is bounded by the
  * rail-band width over the step size.
  */
class MultimodalAuditSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("mm_grad_energy: every gradient is 7 or a 249 wrap (exact identity)") {
    val rows = q("mm_grad_energy").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nPairs, nEdges, gradSum, gradMax) =>
      // v(x+1,y) − v(x,y) = 7 mod 256 ⇒ |d| ∈ {7, 249}; edges (d > 32)
      // are exactly the wraps, so the sum decomposes exactly
      assert(gradSum === 7L * (nPairs - nEdges) + 249L * nEdges,
        s"doc $id: gradient identity broken")
      assert(gradMax === (if (nEdges > 0) 249L else 7L), s"doc $id")
    }
  }

  test("mm_audio_clip: runs bounded by rail-band width / step; density sane") {
    val rows = q("mm_audio_clip").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, nClipped, maxRun) =>
      assert(nClipped <= n && maxRun <= nClipped, s"doc $id")
      // the clipped band is 201 of 4001 values, step 17 ⇒ a run can
      // cover at most ceil(201/17) = 12 consecutive samples
      assert(maxRun <= 12L, s"doc $id: impossible clipped run $maxRun")
    }
    // the band is ~5% of the cycle: across the corpus clipping must
    // occur but stay a small minority
    val (tot, clipped) = (rows.map(_._2).sum, rows.map(_._3).sum)
    assert(clipped > 0L && clipped * 10 < tot)
  }
}
