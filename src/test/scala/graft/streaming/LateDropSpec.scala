package graft.streaming

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of st_late_drop (watermark lateness accounting). The
  * DuckDB oracle proves the surviving set matches Spark's drop rule;
  * these pin that the scenario actually exercises lateness — rows ARE
  * dropped, and exactly the old-head rows beyond the 4-day horizon.
  */
class LateDropSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("late head is dropped beyond the watermark, kept inside it") {
    val res = SparkEntry.queries("st_late_drop")(spark, dir)
      .agg(sum(col("n_events")).as("kept"),
        min(col("hour")).as("first_hour")).head()
    val kept = res.getLong(0)

    val ev = graft.Tables.events(spark, dir)
    val total = ev.count()
    val mt = ev.agg(max(col("ts"))).head().getTimestamp(0)

    // drops happened: the 30-day corpus lost its pre-horizon head
    assert(kept < total, "no rows were dropped — lateness not exercised")

    // the surviving count equals the declarative horizon predicate
    val expected = ev
      .filter(expr("date_trunc('hour', ts) + INTERVAL 1 HOUR " +
        s"> timestamp'$mt' - INTERVAL 4 DAYS"))
      .count()
    assert(kept == expected,
      s"kept $kept != horizon-predicate count $expected")

    // the first surviving hour window STRADDLES the horizon: it starts
    // at or before max_ts − 4 d (its end clears the watermark while its
    // start does not) — the partially-late-accepted window
    val firstHour = res.getTimestamp(1)
    assert(firstHour.getTime <= mt.getTime - 4L * 24 * 3600 * 1000,
      "no straddling window: the late-accept path was not exercised")
  }

  test("staging keeps the input slices and deletes the stage scratch dir") {
    SparkEntry.queries("st_late_drop")(spark, dir).collect()
    val root = new java.io.File("target/stream_late/events")
    assert(!new java.io.File(root, "stage_sf0_001").exists(),
      "the stage scratch dir outlived the build")
    val input = new java.io.File(root, "input_sf0_001").listFiles()
    assert(input != null && input.exists(_.getName.endsWith(".parquet")),
      "the staged input dir holds no slice")
  }

  test("a staged input removed mid-session is restaged on the next run") {
    SparkEntry.queries("st_late_drop")(spark, dir).collect()
    val input = new java.io.File("target/stream_late/events/input_sf0_001")
    org.apache.commons.io.FileUtils.deleteDirectory(input)
    SparkEntry.queries("st_late_drop")(spark, dir).collect()
    val slices = input.listFiles()
    assert(slices != null && slices.exists(_.getName.endsWith(".parquet")),
      "the staged input dir was not restaged")
  }
}
