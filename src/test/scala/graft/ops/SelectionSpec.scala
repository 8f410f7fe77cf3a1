package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the data-selection operators, on real
  * sf0.001 data, independent of the DuckDB oracle (which proves
  * cross-engine agreement; these prove the scores mean something).
  */
class SelectionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("dsir importance weights rank the target language to the top") {
    val rows = SparkEntry.queries("tx_dsir_weights")(spark, dir).collect()
    assert(rows.nonEmpty)
    // bounded sigmoid-ratio scores: per-doc mean is within [0, 1e6]
    rows.foreach { r =>
      val s = r.getLong(3)
      assert(s >= 0L && s <= 1000000L, s"score_ppm out of range: $s")
    }
    // the target (English) sub-corpus must dominate the selection —
    // that IS the operator's purpose
    val en = rows.count(_.getString(1) == "en")
    assert(en * 2 > rows.length,
      s"expected a majority of 'en' docs in the top selection, got $en/${rows.length}")
    // and the selection must be emitted best-first
    val scores = rows.map(_.getLong(3)).toSeq
    assert(scores == scores.sorted.reverse, "rows must be sorted by score desc")
  }
}
