package graft.streaming

import graft.SparkTestSession
import graft.ops.StreamingGate
import org.scalatest.funsuite.AnyFunSuite

/** MemoryStream spec for the streaming ANN-index ingest core
  * ([[StreamingGate.ivfCellOccupancy]] — the exact fragment the
  * st_ivf_assign gate query runs): cross-trigger STATE CARRY of the
  * complete-mode per-cell occupancy, convergence to the batch
  * assignment of the union of all slices, and the (dist asc, cell
  * asc) argmin tie-break the struct ordering encodes.
  *
  * The gate query drives the same plan from staged parquet slices and
  * is oracle-checked against DuckDB; this spec drives it trigger by
  * trigger so the INTERMEDIATE states — invisible to the end-state
  * oracle — are pinned too: after every micro-batch the sink must
  * equal the batch assignment of exactly the vectors seen so far.
  */
class IvfAssignStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  // two frozen cells: centroid 0 at the origin, centroid 1 at
  // 2000 micro-units in every coordinate (embedding 0.2f after the
  // 10^4 quantization). A vector of 0.1f in every coordinate is
  // EQUIDISTANT — the tie must resolve to the lower cell id.
  private val cents: Seq[(Long, Seq[Long])] = Seq(
    0L -> Seq.fill(64)(0L),
    1L -> Seq.fill(64)(2000L))

  private def vec(v: Float): Seq[Float] = Seq.fill(64)(v)

  /** batch twin over an in-memory frame — same shared core */
  private def batch(rows: Seq[(Long, Seq[Float])]): Map[Long, (Long, Long)] = {
    import spark.implicits._
    StreamingGate.ivfCellOccupancy(
      rows.toDF("vec_id", "embedding"), cents)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
  }

  test("per-trigger occupancy accumulates and converges to the batch assignment") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val slices = Seq(
      Seq(10L -> vec(0.01f), 11L -> vec(0.25f)),   // one per cell
      Seq(20L -> vec(0.19f), 21L -> vec(0.03f)),   // both near, one each
      Seq(30L -> vec(0.1f),                        // EQUIDISTANT -> cell 0
          31L -> vec(0.3f), 32L -> vec(0.21f)))    // cell 1

    val mem = MemoryStream[(Long, Seq[Float])]
    val assigned = StreamingGate.ivfCellOccupancy(
      mem.toDF().toDF("vec_id", "embedding"), cents)
    val q = assigned.writeStream.format("memory")
      .queryName("ivf_assign_test").outputMode("complete").start()
    try {
      var seen = Seq.empty[(Long, Seq[Float])]
      for (s <- slices) {
        mem.addData(s: _*)
        q.processAllAvailable()
        seen ++= s
        val got = spark.table("ivf_assign_test").collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
        assert(got == batch(seen),
          s"after ${seen.size} vectors: sink $got != batch ${batch(seen)}")
      }
      // final state, spelled out: the equidistant vector landed in
      // cell 0 (tie-break), everything else by plain distance
      val fin = spark.table("ivf_assign_test").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(fin == Map(
        0L -> (3L, 10L + 21L + 30L),
        1L -> (4L, 11L + 20L + 31L + 32L)), s"final $fin")
    } finally q.stop()
  }
}
