package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** The packed-bitmap set algebra checked against plain Scala Set
  * operations on real sf0.001 data — the same independence the DuckDB
  * oracle provides (raw membership joins), but in-process.
  */
class BitmapIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  /** type → distinct user set */
  private lazy val members: Map[String, Set[Long]] =
    spark.read.parquet(s"$dir/events.parquet")
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }

  test("ax_bitmap_intersect popcounts equal raw set intersections") {
    val types = members.keys.toSeq.sorted
    val expected = (for {
      a <- types; b <- types if a < b
      both = (members(a) intersect members(b)).size.toLong if both > 0
    } yield {
      val (na, nb) = (members(a).size.toLong, members(b).size.toLong)
      (a, b, na, nb, both, both * 1000L / (na + nb - both))
    }).sortBy(t => (t._1, t._2))
    // read by name: the join-key reordering moves type_b/type_a around
    val byName = q("ax_bitmap_intersect").collect().map { r =>
      val i = r.fieldIndex _
      (r.getString(i("type_a")), r.getString(i("type_b")),
        r.getLong(i("n_a")), r.getLong(i("n_b")),
        r.getLong(i("n_both")), r.getLong(i("jaccard_permille")))
    }.toSeq.sortBy(t => (t._1, t._2))
    assert(byName === expected)
  }

  test("word packing is flooring: negative ids round-trip exactly") {
    // the round-7 ADVICE trap: truncating `div 64` maps -1 to
    // (word 0, bit 63) — colliding with user 63. The flooring
    // decomposition must keep every id in a unique (word, bit) slot,
    // so per-type popcounts equal the distinct membership counts even
    // with ids straddling zero.
    import spark.implicits._
    val rng = new scala.util.Random(8105)
    val rows = (0 until 400).map { _ =>
      (s"t${rng.nextInt(3)}", rng.nextLong(200L) - 100L)
    }
    val expected = rows.groupBy(_._1).map { case (t, rs) =>
      val us = rs.map(_._2).toSet
      val slots = us.map(u => (Math.floorDiv(u, 64L), Math.floorMod(u, 64L)))
      assert(slots.size === us.size, "floor decomposition must be injective")
      t -> us.size.toLong
    }.toSeq.sortBy(_._1)
    val words = BitmapIndex.bitmapWordsOf(rows.toDF("event_type", "user_id"))
    val got = words.groupBy("event_type")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.expr(
          "CAST(bit_count(bits) AS BIGINT)")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    assert(got === expected)
    // and the word index itself must agree with floor division
    val w = words.selectExpr("min(w) AS mn").collect().head.getLong(0)
    assert(w === Math.floorDiv(rows.map(_._2).min, 64L))
  }

  test("ax_bitmap_density matches raw membership statistics") {
    val expected = members.toSeq.map { case (t, us) =>
      val words = us.map(u => Math.floorDiv(u, 64L))
      val (nU, nW) = (us.size.toLong, words.size.toLong)
      val span = words.max - words.min + 1L
      (t, nU, nW, span, nU * 1000L / (nW * 64L), nW * 1000L / span)
    }.sortBy(_._1)
    val got = q("ax_bitmap_density").collect().map { r =>
      val i = r.fieldIndex _
      (r.getString(i("event_type")), r.getLong(i("n_users")),
        r.getLong(i("n_words")), r.getLong(i("span_words")),
        r.getLong(i("fill_permille")), r.getLong(i("occupancy_permille")))
    }.toSeq.sortBy(_._1)
    assert(got === expected)
  }
}
