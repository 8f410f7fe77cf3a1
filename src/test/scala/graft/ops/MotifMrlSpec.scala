package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** In-memory references for the sequence-mining top-10 (ax_event_motifs)
  * and the matryoshka prefix-recall curve (sim_mrl_recall) on real
  * sf0.001 data.
  */
class MotifMrlSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("ax_event_motifs matches the in-memory trigram count") {
    val rows = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getString(3)))
    val trigrams = rows.groupBy(_._1).values.flatMap { es =>
      val s = es.sortBy(e => (e._2, e._3)).map(_._4).toSeq
      s.sliding(3).filter(_.size == 3).map(_.mkString(">"))
    }.toSeq
    val expected = trigrams.groupBy(identity)
      .map { case (m, xs) => (m, xs.size.toLong) }
      .toSeq.sortBy { case (m, n) => (-n, m) }.take(10)
    val got = q("ax_event_motifs").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === expected)
  }

  test("sim_mrl_recall matches the in-memory brute-force recall curve") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(v => math.round(v.toDouble * 10000)).toArray))
    def top10(probe: Array[Long], prefix: Int, selfId: Long): Set[Long] =
      vecs.filter(_._1 != selfId).map { case (id, v) =>
        val d = (0 until prefix).map(i => v(i) * probe(i)).sum
        (id, d)
      }.sortBy { case (id, d) => (-d, id) }.take(10).map(_._1).toSet
    val expected = (for {
      (pid, pv) <- vecs.filter(_._1 < 10).sortBy(_._1)
      full = top10(pv, 64, pid)
      dims <- Seq(8, 16, 32)
    } yield {
      val ov = (full intersect top10(pv, dims, pid)).size.toLong
      (pid, dims.toLong, ov, ov * 1000L / 10L)
    }).toSeq
    val got = q("sim_mrl_recall").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // more dimensions never hurt on average over the probe panel
    val mean = got.groupBy(_._2).map { case (d, xs) =>
      d -> xs.map(_._3).sum.toDouble / xs.size }
    assert(mean(32L) >= mean(8L))
  }
}
