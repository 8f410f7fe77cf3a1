package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-6 sketch/scoring additions:
  * ax_cms_freq (count-min sketch as a relation) and tx_quality_logit
  * (hashed-feature linear quality scoring). The DuckDB oracle proves
  * cross-engine agreement; these pin the operator guarantees.
  */
class SketchScoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("cms estimates are one-sided: never below the exact count") {
    val rows = SparkEntry.queries("ax_cms_freq")(spark, dir).collect()
    assert(rows.length == 8, "one row per probe key")
    rows.foreach { r =>
      val (exact, est, ok) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(est >= exact, s"CMS undercounted key ${r.getLong(0)}")
      assert(ok == 1L, "one_sided_ok must self-report true")
    }
    // the sketch must actually be exercised: probes with traffic exist
    assert(rows.exists(_.getLong(1) > 0L), "no probe key had any events")
  }

  test("cms sketch relation is bounded at depth x width regardless of data") {
    // the internal sketch is (d, bucket, n): at most 4*64 rows — the
    // fixed-memory property that makes it a 100 TB operator. Probe it
    // through the public query: estimates can never exceed total rows.
    val total = graft.Tables.events(spark, dir).count()
    SparkEntry.queries("ax_cms_freq")(spark, dir).collect().foreach { r =>
      assert(r.getLong(2) <= total, "estimate exceeds corpus size")
    }
  }

  test("minhash estimate tracks exact Jaccard on every verified pair") {
    val rows = SparkEntry.queries("dd_minhash_est")(spark, dir).collect()
    assert(rows.nonEmpty, "no verified pairs to measure the estimator on")
    val pairCount = SparkEntry.queries("dd_minhash_pairs")(spark, dir).count()
    assert(rows.length == pairCount,
      "estimator must cover exactly the verified-pair set")
    rows.foreach { r =>
      val (exact, est, err) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(est >= 0L && est <= 1000L, s"estimate out of range: $est")
      assert(err == math.abs(est - exact), "err_pm must be |est - exact|")
    }
    // k=32 on near-dup pairs (J >= 0.3): sd <= ~81 pm, so a mean error
    // beyond 150 pm would mean the signature pipeline is broken
    val meanErr = rows.map(_.getLong(4)).sum.toDouble / rows.length
    assert(meanErr < 150.0, f"estimator mean error $meanErr%.1f pm too high")
  }

  test("variant path reads agree with the struct-schema JSON reads") {
    val v = SparkEntry.queries("ax_props_variant")(spark, dir)
      .select(col("event_type"), col("sum_k"), col("n_with_k"))
    val j = SparkEntry.queries("ax_props_json")(spark, dir)
      .select(col("event_type"), col("sum_k").as("s2"), col("n_with_k").as("n2"))
    assert(v.join(j, "event_type")
      .filter(col("n_with_k") =!= col("n2") || col("sum_k") =!= col("s2"))
      .count() == 0,
      "variant and struct-schema extraction disagree")
  }

  test("hll intersection is non-degenerate and inclusion-exclusion holds") {
    val r = SparkEntry.queries("dd_hll_intersect")(spark, dir).head()
    val (na, nb, nu, nBoth, ok) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nBoth == na + nb - nu, "inclusion-exclusion identity broken")
    assert(nBoth > 0 && nBoth < na && nBoth < nb,
      s"degenerate intersection: a=$na b=$nb both=$nBoth")
    assert(ok == 1L, "sketch-derived intersection left the 10% band")
  }

  test("quality-logit scores are per-mille means and sources partition docs") {
    val res = SparkEntry.queries("tx_quality_logit")(spark, dir).collect()
    assert(res.nonEmpty)
    val nDocs = res.map(_.getLong(1)).sum
    val total = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(trim(col("text"))) >= 1).count()
    assert(nDocs == total, "every non-empty doc must be scored exactly once")
    res.foreach { r =>
      val (n, pos, avg) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n > 0L && pos >= 0L && pos <= n)
      assert(avg >= 0L && avg <= 1000L, s"score out of per-mille range: $avg")
    }
  }
}
