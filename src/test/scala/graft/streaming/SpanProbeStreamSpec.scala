// package graft.ops for access to the private[ops] span building
// blocks the batch twin is assembled from; the file sits with the
// other streaming specs because the subject is the streamed gate.
package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}

/** End-to-end spec for the streaming long-span ingest gate
  * (st_span_probe) on a hand-built corpus: the staged three-slice
  * stream must (1) flag a delta document sharing a ≥50-char verbatim
  * span with a frozen corpus document, (2) pass an unrelated document
  * through with no match, (3) surface EVERY delta document — including
  * ones too short to anchor at all — exactly once, and (4) converge to
  * the batch twin built from the same shared building blocks
  * (spanAnchorsOf → frozen-capped index join → diagonal collapse →
  * DiagonalBoundaries verification), pinning that the streaming
  * machinery (slice staging, per-trigger state carry, complete-mode
  * collapse, stream-static join) does not alter the answer.
  */
class SpanProbeStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  // corpus doc 1 carries sentence A; delta doc 19 embeds a long verbatim
  // window of A at a different offset. Long enough (≫50) that the
  // content-defined anchor scheme deterministically lands anchors
  // inside it.
  private val sentenceA =
    "the migration of the monarch butterflies crosses the central " +
      "plateau every autumn following the nectar corridors that " +
      "stretch from the northern lakes down to the oyamel fir forests " +
      "of the transvolcanic belt where they cluster through winter"
  private val sentenceB =
    "quarterly maintenance of the turbine bearings requires draining " +
      "the lubricant loop and inspecting the seals for cavitation " +
      "damage before the unit returns to service in the spring"

  private val docsRows: Seq[(Long, String)] = Seq(
    1L -> sentenceA,                                    // frozen corpus
    2L -> sentenceB,                                    // frozen corpus
    // 'q' framing on both flanks: sentence A contains no 'q', so the
    // recovered run can never extend past the embedded window and its
    // length is exactly 150
    19L -> ("intro notesq" + sentenceA.substring(40, 190) + "qclosing remarks"),
    29L -> ("completely unrelated commentary about tidal patterns and " +
      "harbor dredging schedules along the estuary"),   // no match
    9L -> "tiny digest")                                // too short to anchor

  private lazy val dir: String = {
    val d = Files.createTempDirectory("span_probe_fixture").toFile
    d.deleteOnExit()
    import spark.implicits._
    docsRows.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${d.getAbsolutePath}/documents.parquet")
    d.getAbsolutePath
  }

  private lazy val result: Map[Long, (Long, Long, Long)] =
    SparkEntry.queries("st_span_probe")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("verbatim ≥50-char span against the frozen corpus is flagged") {
    val (bestMatch, spanLen, isDup) = result(19L)
    assert(bestMatch === 1L)
    assert(spanLen === 150L, s"span_len $spanLen")
    assert(isDup === 1L)
  }

  test("unrelated and unanchorable delta docs surface with no match") {
    assert(result(29L) === ((-1L, 0L, 0L)))
    assert(result(9L) === ((-1L, 0L, 0L)))
    assert(result.keySet === Set(9L, 19L, 29L))
  }

  test("streamed result converges to the batch twin over the same blocks") {
    val nd = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm"))
      .filter(length(col("norm")) >= Dedup.SpanSeedLen)
    val corpus = nd.filter(pmod(col("doc_id"), lit(10)) =!= 9)
    val deltaN = nd.filter(pmod(col("doc_id"), lit(10)) === 9)
    val cand = Dedup.spanAnchorsOf(deltaN)
      .select(col("doc_id").as("a"), col("pos").as("pa"), col("seed"))
      .join(Dedup.spanCappedAnchorsOf(corpus)
        .select(col("doc_id").as("b"), col("pos").as("pb"), col("seed")),
        Seq("seed"))
      .groupBy(col("a"), col("b"), (col("pa") - col("pb")).as("diag"))
      .agg(min(col("pa")).as("pa"))
      .withColumn("pb", col("pa") - col("diag"))
    val verified = cand
      .join(deltaN.select(col("doc_id").as("a"), col("norm").as("norm_a")),
        Seq("a"))
      .join(corpus.select(col("doc_id").as("b"), col("norm").as("norm_b")),
        Seq("b"))
      .filter(expr(
        s"substring(norm_a, CAST(pa AS INT), ${Dedup.SpanSeedLen}) = " +
          s"substring(norm_b, CAST(pb AS INT), ${Dedup.SpanSeedLen})"))
      .withColumn("bnd", graft.functions.GraftFunctions.diagonalBoundaries(
        col("norm_a"), col("norm_b"),
        col("pa").cast("int"), col("pb").cast("int")))
      .withColumn("max_run", expr(
        """array_max(zip_with(slice(bnd, 2, size(bnd) - 1),
          |  slice(bnd, 1, size(bnd) - 1), (x, y) -> x - y - 1))""".stripMargin))
      .groupBy(col("a"), col("b"))
      .agg(max(col("max_run").cast("long")).as("span_len"))
      .groupBy(col("a"))
      .agg(max(struct(col("span_len"), (-col("b")).as("negb"))).as("best"))
      .select(col("a").as("new_doc"),
        (-col("best.negb")).as("best_match"),
        col("best.span_len").as("best_span_len"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    for ((doc, (bm, sl, _)) <- result) {
      val (ebm, esl) = verified.getOrElse(doc, (-1L, 0L))
      assert(bm === ebm, s"doc $doc best_match")
      assert(sl === esl, s"doc $doc span_len")
    }
  }
}
