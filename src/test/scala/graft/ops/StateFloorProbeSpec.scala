package graft.ops

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 probe (verdict item 7): how much of the ~2-3 s per st_
  * query is an irreducible state-store setup floor vs something a
  * shared configuration could amortize. Times a MINIMAL stateful query
  * (one groupBy-count over a single-file stream, memory sink) under
  * varying shuffle partitions and repeats — the minimum possible cost
  * of "a stateful streaming query ran at all" in this harness.
  */
class StateFloorProbeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def minimalRun(parts: Int, tag: String): Double = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, parts.toString)
    try {
      val schema = spark.read.parquet(s"$dir/events.parquet").schema
      val src = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val t0 = System.nanoTime()
      val q = src.groupBy("event_type").count()
        .writeStream.format("memory").queryName(s"floor_$tag")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      (System.nanoTime() - t0) / 1e9
    } finally spark.conf.set(key, prev)
  }

  test("probe: minimal stateful query floor across partition counts") {
    val r = Seq(
      ("p8_cold", minimalRun(8, "a")),
      ("p8_warm", minimalRun(8, "b")),
      ("p8_warm2", minimalRun(8, "c")),
      ("p1", minimalRun(1, "d")),
      ("p32", minimalRun(32, "e")),
      ("p8_again", minimalRun(8, "f")))
    info(r.map { case (k, v) => f"$k=$v%.2f" }.mkString("  "))
    assert(r.forall(_._2 > 0))
  }
}
