package graft.streaming

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of st_timer_sessions beyond the shared DuckDB oracle
  * (which already proves convergence with st_sessionize): the timer
  * machine must emit each session exactly once, every emitted session
  * must be closable at the final watermark, and the two formulations
  * must agree row-for-row in the same JVM.
  */
class TimerSessionsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("timer sessions equal session_window sessions row-for-row") {
    val timer = SparkEntry.queries("st_timer_sessions")(spark, dir).collect()
    val packaged = SparkEntry.queries("st_sessionize")(spark, dir).collect()
    assert(timer.length == packaged.length,
      s"cardinality: timer ${timer.length} vs session_window ${packaged.length}")
    assert(timer.map(_.toString).sorted.toSeq ==
      packaged.map(_.toString).sorted.toSeq)
  }

  test("exactly-once emission and watermark-closable ends") {
    val rows = SparkEntry.queries("st_timer_sessions")(spark, dir)
    // no duplicate emission of a session under update mode
    assert(rows.groupBy("user_id", "session_start").count()
      .filter(col("count") > 1).count() == 0)
    // every emitted session closed at or before the final watermark
    val mts = graft.Tables.events(spark, dir)
      .agg(max(col("ts"))).head().getTimestamp(0)
    val late = rows.filter(
      to_timestamp(col("session_end")) >
        lit(new java.sql.Timestamp(mts.getTime - 2L * 3600 * 1000)))
    assert(late.count() == 0, "a session past the watermark was emitted")
  }
}
