package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** Direct unit pins of tx_bpe_train's merge semantics on a synthetic
  * corpus — the greedy-leftmost overlap rule and the frequency
  * weighting are asserted against hand-computed merges, independent of
  * the DuckDB oracle (which proves cross-engine agreement, not
  * intent).
  */
class BpeTrainSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** run tx_bpe_train over a corpus written as a tiny documents table */
  private def trainOn(texts: Seq[String]): Seq[(Long, String, String, Long)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SparkEntry.queries("tx_bpe_train")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
  }

  test("overlapping runs merge greedily leftmost: 'aaaa'/'aaa' under (a,a)") {
    // corpus: "aaa aaa bbb" — word counts {aaa: 2, bbb: 1}
    // round 1: pairs (a,a) weighted 2·2 = 4 > (b,b) 2 → merge (a,a);
    //   greedy leftmost on 'aaa' keeps pos 0 only → [aa, a]
    // round 2: pairs now (aa,a): 2, (b,b): 2 → tie broken
    //   lexicographically: ('aa','a') < ('b','b') → merge (aa,a)
    val merges = trainOn(Seq("aaa aaa bbb"))
    assert(merges(0) === ((1L, "a", "a", 4L)))
    assert(merges(1) === ((2L, "aa", "a", 2L)))
    // round 3: only (b,b) pairs remain — 'bbb' contributes BOTH
    // adjacent occurrences to the statistics (pair counting is
    // positional; only the MERGE step is overlap-aware)
    assert(merges(2) === ((3L, "b", "b", 2L)))
  }

  test("pair counts are word-frequency weighted, not document counts") {
    // 'xy' appears 3× in one doc, 'zq' once each in two docs: the pair
    // (x,y) weight is the word FREQUENCY 3, (z,q) is 2
    val merges = trainOn(Seq("xy xy xy zq", "zq"))
    assert(merges(0) === ((1L, "x", "y", 3L)))
    assert(merges(1) === ((2L, "z", "q", 2L)))
  }

  test("learned merges compound into longer tokens") {
    // 'abab': round 1 merges (a,b) (weight 2 per word occurrence);
    // round 2 must pair the MERGED symbols: (ab, ab)
    val merges = trainOn(Seq("abab abab abab"))
    assert(merges(0) === ((1L, "a", "b", 6L)))
    assert(merges(1) === ((2L, "ab", "ab", 3L)))
  }
}
