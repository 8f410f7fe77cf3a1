package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the round-7 operator batch, checked on real
  * sf0.001 data INDEPENDENTLY of the DuckDB oracle (the oracle proves
  * cross-engine agreement; these prove the answers mean what the
  * operator claims).
  */
class Round7SemanticsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("promo share: numerator bounded by denominator, ppm in range") {
    val r = q("ax_promo_share").collect()(0)
    val (promo, total, ppm) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(promo >= 0 && promo <= total)
    assert(ppm >= 0 && ppm <= 1000000)
  }

  test("big orders: every row exceeds the HAVING threshold, ordered desc") {
    val rows = q("ax_big_orders").collect()
    assert(rows.length <= 100)
    rows.foreach(r => assert(r.getLong(3) > 250))
    val qtys = rows.map(_.getLong(3))
    assert(qtys.sameElements(qtys.sortBy(-_)), "must be ordered by sum_qty desc")
  }

  test("market share: per-year numerator bounded, ppm in range") {
    val rows = q("ax_market_share").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= r.getLong(2))
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000)
    }
  }

  test("min-cost supplier: offers equal the true per-part minimum") {
    val truth = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_partkey"))
      .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("mn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = q("ax_min_cost_supp").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(3) == truth(r.getLong(0)),
      s"part ${r.getLong(0)}: offer ${r.getLong(3)} != min ${truth(r.getLong(0))}"))
  }

  test("top supplier: all emitted rows tie at the maximum") {
    val rows = q("ax_top_supplier").collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getLong(2)).distinct
    assert(revs.length == 1, "only max-revenue suppliers may surface")
  }

  test("shipmode priority: high+low equals the joined line count") {
    val r = q("ax_shipmode_priority").collect()
    val sum = r.map(x => x.getLong(1) + x.getLong(2)).sum
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1998-01-01") &&
        col("l_shipdate") < lit("1999-01-01"))
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val expect = li.join(orders, col("l_orderkey") === col("o_orderkey")).count()
    assert(sum == expect)
  }

  test("jaccard links: permille in range, intersection bounded by union") {
    val rows = q("ax_jaccard_links").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), "common must be <= union")
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000)
    }
  }

  test("common neighbors: canonical pair order, positive support") {
    val rows = q("ax_common_nbrs").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be canonical a<b")
      assert(r.getLong(2) >= 1)
    }
  }

  test("degree distribution: total degree is even (handshake lemma)") {
    val rows = q("ax_degree_dist").collect()
    assert(rows.nonEmpty)
    val totalDeg = rows.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(totalDeg % 2 == 0, "sum of degrees must be twice the edge count")
  }

  test("cluster sizes: doc accounting closes against the corpus") {
    val rows = q("dd_cluster_sizes").collect()
    val nDocs = rows.map(_.getLong(2)).sum
    val corpus = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(nDocs == corpus, "every document must land in exactly one cluster")
    rows.foreach(r => assert(r.getLong(2) == r.getLong(0) * r.getLong(1)))
  }

  test("boilerplate removal: kept bounded, dup-free docs byte-identical to para-dedup") {
    val boiler = q("tx_boilerplate_rm")
    val para = q("tx_para_dedup")
    boiler.collect().foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    // a document untouched by BOTH rules reassembles to the same bytes
    val b = boiler.filter(col("n_kept") === col("n_paras"))
      .select(col("doc_id"), col("clean_hash").as("bh"))
    val p = para.filter(col("n_kept") === col("n_paras"))
      .select(col("doc_id"), col("clean_hash").as("ph"))
    val joined = b.join(p, "doc_id")
    assert(joined.count() > 0, "some dup-free doc should exist")
    assert(joined.filter(col("bh") =!= col("ph")).count() == 0)
  }

  test("zipf head: ranks contiguous, frequencies non-increasing") {
    val rows = q("tx_zipf_check").collect()
    assert(rows.nonEmpty)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i + 1, "ranks must be 1..N")
      assert(r.getLong(3) == r.getLong(0) * r.getLong(2))
    }
    val freqs = rows.map(_.getLong(2))
    assert(freqs.sameElements(freqs.sortBy(-_)))
  }

  test("bpe encode: tokens bounded by chars, fertility >= 1000 permille") {
    val rows = q("tx_bpe_encode").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), "a token is at least one char")
      assert(r.getLong(2) >= r.getLong(1), "a word is at least one token")
      assert(r.getLong(4) >= 1000)
    }
  }

  test("rrf fusion: per-query ranks contiguous, scores bounded") {
    val rows = q("sim_rrf_fusion").collect()
    assert(rows.nonEmpty)
    val maxScore = 2L * (1000000000L / 61L)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ranks = rs.map(_.getLong(1)).sorted
      assert(ranks.sameElements(1L to ranks.length))
    }
    rows.foreach(r => assert(r.getLong(3) > 0 && r.getLong(3) <= maxScore))
  }

  test("rrf recall: hit accounting closes") {
    val r = q("sim_rrf_recall").collect()(0)
    val n = r.getLong(0)
    Seq(1, 2, 3).foreach(i => assert(r.getLong(i) >= 0 && r.getLong(i) <= n))
    assert(r.getLong(4) == 1000 * r.getLong(1) / n)
    assert(r.getLong(5) == 1000 * r.getLong(2) / n)
    assert(r.getLong(6) == 1000 * r.getLong(3) / n)
  }

  test("inertia: vector accounting closes against the embeddings table") {
    val rows = q("sim_inertia").collect()
    val total = rows.map(_.getLong(1)).sum
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(total == emb, "every vector belongs to exactly one cluster")
    rows.foreach(r => assert(r.getLong(2) >= 0 && r.getLong(3) >= 0))
  }

  test("luminance histogram: buckets partition the pixel grid") {
    q("mm_lum_hist").collect().foreach { r =>
      val (w, h, n) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n == w * h)
      assert(r.getLong(4) + r.getLong(5) + r.getLong(6) + r.getLong(7) == n)
    }
  }

  test("audio resample: frame count and rate agree with the full-rate pass") {
    val full = q("mm_audio_stats")
      .select(col("doc_id"), col("sample_rate"), col("n_samples"))
    val ds = q("mm_audio_resample")
    val joined = full.join(ds, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (rate, n) = (r.getLong(1), r.getLong(2))
      assert(r.getLong(3) == rate / 4, "out_rate must be rate div 4")
      assert(r.getLong(4) == (n + 3) / 4, "n_frames must be ceil(n/4)")
    }
  }

  test("rolling DAU: the 7-day window dominates the day, accounting sane") {
    val rows = q("ax_rolling_dau").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) >= r.getLong(1),
      "WAU must be >= DAU for the same closing day"))
  }

  test("partition evolution: result equals the direct type-filtered aggregate") {
    val r = q("ax_partition_evolution").collect()(0)
    val direct = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)), sum(round(col("value") * 100).cast("long")))
      .collect()(0)
    assert(r.getLong(3) == direct.getLong(0))
    assert(r.getLong(4) == direct.getLong(1))
    assert(r.getLong(2) == 1L && r.getLong(1) >= 1L)
  }
}
