package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Independent in-memory reference implementations for the late round-7
  * operator batch (MMR selection, winnowing, containment join, bipartite
  * HITS, event transition matrix), checked on real sf0.001 data. The
  * DuckDB oracle proves cross-engine agreement; these prove the
  * distributed formulations compute the ALGORITHM they claim, by
  * re-deriving every answer from first principles on the driver.
  */
class Round7LateSemanticsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  // ---- shared reference primitives -----------------------------------

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  /** PortableHash.hashCol's exact semantics: first 15 md5 hex digits. */
  private def pHash(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).substring(0, 15), 16)

  private def norm(text: String): String =
    text.toLowerCase.replaceAll("\\s+", " ").trim

  /** paraTok's 16-word paragraph-hash set per document. */
  private def paraSets(): Map[Long, Set[String]] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val n = norm(r.getString(1))
        val feats =
          if (n.isEmpty) Set.empty[String]
          else n.split(" ").grouped(16).map(g => md5Hex(g.mkString(" "))).toSet
        r.getLong(0) -> feats
      }.toMap

  // ---- dd_containment ------------------------------------------------

  test("containment join equals the all-pairs in-memory reference") {
    val sets = paraSets().filter(_._2.nonEmpty)
    val truth = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a != b
      inter = (sa & sb).size
      if 4L * inter >= 3L * sa.size
    } yield (a, b, inter.toLong, sa.size.toLong,
        1000L * inter / sa.size)).sortBy(t => (t._1, t._2))
    val got = q("dd_containment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == truth)
  }

  // ---- tx_winnow_fp --------------------------------------------------

  /** Classic winnowing: for each window of w hash positions, select the
    * rightmost minimum; the fingerprint set is the union.
    */
  private def winnowRef(hs: Array[Long], w: Int): Set[Int] = {
    val n = hs.length
    val wins =
      if (n < w) Seq((0, n - 1))
      else (0 to n - w).map(j => (j, j + w - 1))
    wins.map { case (j, e) =>
      var best = j
      for (p <- j + 1 to e) if (hs(p) <= hs(best)) best = p
      best
    }.toSet
  }

  test("winnow fingerprints match the classic algorithm, and every window is covered") {
    val w = 4
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> norm(r.getString(1))).toMap
    val got = q("tx_winnow_fp").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got.keySet == docs.keySet)
    docs.foreach { case (id, nm) =>
      val g = math.max(nm.length - 7, 1)
      val hs = (1 to g)
        .map(i => pHash(nm.substring(i - 1, math.min(i + 7, nm.length))))
        .toArray
      val sel = winnowRef(hs, w)
      // guarantee: every window of w consecutive grams holds a selection
      if (hs.length >= w)
        (0 to hs.length - w).foreach { j =>
          assert(sel.exists(p => p >= j && p < j + w),
            s"doc $id window $j uncovered") }
      val fpSum = sel.toSeq.map(p => hs(p) % 1000000007L)
        .foldLeft(0L)((a, x) => (a + x) % 1000000007L)
      val windows = math.max(g - (w - 1), 1).toLong
      assert(got(id) == ((g.toLong, sel.size.toLong,
        1000L * sel.size / windows, fpSum)), s"doc $id mismatch")
    }
  }

  // ---- dd_cdc_chunks -------------------------------------------------

  /** In-memory CDC reference: cut where the rolling 8-gram hash ≡ 0
    * (mod 32), exactly the operator's formula.
    */
  private def cdcRef(nm: String): Seq[String] = {
    val g = math.max(nm.length - 7, 1)
    val hs = (1 to g)
      .map(i => pHash(nm.substring(i - 1, math.min(i + 7, nm.length))))
    val cuts = 1 +: (2 to g).filter(p => hs(p - 1) % 32 == 0)
    val ends = cuts.drop(1) :+ (nm.length + 1)
    cuts.zip(ends).map { case (c, e) => nm.substring(c - 1, e - 1) }
  }

  test("CDC chunk counts match the reference; chunks re-sync after a head edit") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> norm(r.getString(1))).toMap
    val got = q("dd_cdc_chunks").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.filter(_._2.nonEmpty).foreach { case (id, nm) =>
      assert(got(id) == cdcRef(nm).size.toLong, s"doc $id chunk count") }
    // the shift-robustness property CDC exists for: prepend a word and
    // the chunk STREAM re-synchronizes — at most the head chunk
    // differs, every later chunk survives byte-identical. A fixed-
    // width chunker loses every chunk after the edit.
    docs.values.filter(_.length > 200).take(25).foreach { nm =>
      val orig = cdcRef(nm)
      val edit = cdcRef("inserted words at the head " + nm)
      val shared = orig.toSet.intersect(edit.toSet).size
      assert(shared >= orig.size - 2,
        s"CDC lost ${orig.size - shared} of ${orig.size} chunks after a head edit")
    }
  }

  // ---- ax_hits_bipartite ---------------------------------------------

  test("bipartite HITS equals the in-memory two-round recursion") {
    val edges = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet.toSeq
    val a1 = edges.groupBy(_._2).map { case (s, es) => s -> es.size.toLong }
    val h1 = edges.groupBy(_._1).map { case (c, es) =>
      c -> es.map(e => a1(e._2)).sum }
    val a2 = edges.groupBy(_._2).map { case (s, es) =>
      s -> es.map(e => h1(e._1)).sum }
    val truth = a2.toSeq.map { case (s, a) => (s, a1(s), a) }
      .sortBy { case (s, _, a) => (-a, s) }.take(15)
    val got = q("ax_hits_bipartite").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == truth)
  }

  // ---- ax_sssp_weighted ----------------------------------------------

  test("weighted SSSP equals three in-memory min-plus rounds") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairs = li.groupBy(_._1).toSeq.flatMap { case (_, ps) =>
      val parts = ps.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- i + 1 until parts.length)
        yield (parts(i), parts(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val wEdges = pairs.toSeq.filter(_._2 >= 2).flatMap { case ((a, b), n) =>
      val w = 1000L / n
      Seq((a, b, w), (b, a, w))
    }
    val inf = 1000000000000000L
    val nodes = wEdges.map(_._1).distinct
    var d = nodes.map(v => v -> (if (v % 97 == 0) 0L else inf)).toMap
    for (_ <- 1 to 3) {
      val relaxed = wEdges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => d(e._1) + e._3).min }
      d = d.map { case (v, dv) =>
        v -> math.min(dv, relaxed.getOrElse(v, inf)) }
    }
    val truth = d.toSeq.filter { case (_, dv) => dv > 0 && dv < inf }
      .sortBy { case (v, dv) => (dv, v) }.take(20)
    val got = q("ax_sssp_weighted").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == truth)
  }

  // ---- ax_markov_events ----------------------------------------------

  test("markov transition matrix equals the per-user ordered reference") {
    val evs = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000, r.getLong(2), r.getString(3)))
    val trans = evs.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val ordered = es.sortBy(e => (e._2, e._3)).map(_._4)
      ordered.zip(ordered.drop(1))
    }
    val n = trans.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val srcTot = trans.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val truth = n.toSeq.map { case ((s, d), c) =>
      (s, d, c, 1000L * c / srcTot(s)) }.sortBy(t => (t._1, t._2))
    val got = q("ax_markov_events").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == truth)
    // each src row-distribution floors to ≤ 1000 permille
    got.groupBy(_._1).foreach { case (_, rows) =>
      val s = rows.map(_._4).sum
      assert(s <= 1000 && s > 1000 - rows.length)
    }
  }

  // ---- ax_attribution_linear -----------------------------------------

  test("linear attribution equals the naive interval-join reference") {
    val evs = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("long").as("sec"),
        col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4)))
    val touches = evs.filter(e => e._4 == "view" || e._4 == "click")
    val purchases = evs.filter(_._4 == "purchase")
    val pairs = for {
      p <- purchases
      t <- touches
      if t._1 == p._1 && t._2 >= p._2 - 86400 && t._2 < p._2
    } yield (p._3, p._5, t._4)
    val nPer = pairs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val truth = pairs.groupBy(_._3).map { case (ch, ps) =>
      (ch, ps.size.toLong, ps.map(p => p._2 / nPer(p._1)).sum)
    }.toSeq.sortBy(_._1)
    val got = q("ax_attribution_linear").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == truth)
  }

  // ---- ax_exact_percentile -------------------------------------------

  test("two-pass selection equals the sorted-index quantiles") {
    val vs = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(round(col("l_extendedprice") * 100).cast("long").as("v"))
      .collect().map(_.getLong(0)).sorted
    val n = vs.length.toLong
    val truth = Seq(500L, 900L, 990L).map { qpm =>
      val k = (qpm * n + 999) / 1000
      (qpm, k, vs((k - 1).toInt))
    }
    val got = q("ax_exact_percentile").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == truth)
  }

  // ---- ax_join_size_est / ax_bitemporal / tx_mixture_epochs ----------

  test("join size estimate is an upper bound that collision-inflates") {
    val r = q("ax_join_size_est").collect()(0)
    // est_rows / est_ndv_rows are DECIMAL(38,0)-cast STRING columns
    // (Stats.joinSizeEstOf — 2^63-class products); true_rows stays BIGINT
    assert(BigInt(r.getString(0)) >= BigInt(r.getString(1)),
      "bucketed estimate must upper-bound")
    assert(r.getLong(2) >= 0)
  }

  test("bitemporal corners: later transaction knowledge only adds value") {
    val rows = q("ax_bitemporal").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val audit97   = rows.find(r => r._1 == "1997-01-01" && r._2 == "1997-01-01").get
    val lateAudit = rows.find(r => r._1 == "1997-01-01" && r._2 == "1998-01-01").get
    assert(audit97._3 == lateAudit._3,
      "same valid instant must cover the same orders")
    assert(lateAudit._4 > audit97._4,
      "retroactive corrections must surface at the later transaction time")
  }

  test("mixture epochs: allocation conserves the 2x budget up to rounding") {
    val rows = q("tx_mixture_epochs").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val total = rows.map(_._1).sum
    val alloc = rows.map(_._3).sum
    assert(alloc <= 2 * total && alloc >= 2 * total - 2 * rows.length * 2,
      s"allocated $alloc vs budget ${2 * total}")
    rows.foreach { case (n, _, a, e) => assert(e == 1000L * a / n) }
  }

  // ---- st_cdc_sink ---------------------------------------------------

  test("streaming CDC store: updates/deletes override across the trigger boundary") {
    q("st_cdc_sink").collect() // drives the two-trigger run
    val tag = new java.io.File(dir).getName.replace('.', '_')
    val base = s"target/stream_cdc/store_$tag"
    val v0 = spark.read.parquet(s"$base/v0")
    val v1 = spark.read.parquet(s"$base/v1")
    // batch 0 committed only the insert wave
    assert(v0.filter(col("op") =!= "I").count() == 0, "v0 must be all inserts")
    // batch 1's updates/deletes overrode rows ALREADY COMMITTED in v0
    assert(v1.filter(col("op") === "D").count() > 0, "tombstones must persist")
    assert(v1.filter(col("op") === "U").count() > 0)
    val overridden = v1.join(v0.select(col("k")), "k")
      .filter(col("op") =!= "I").count()
    assert(overridden > 0, "later seq must win over committed earlier seq")
  }

  // ---- ax_group_percentile / privacy pair ------------------------------

  test("grouped two-pass selection equals per-group sorted-index quantiles") {
    val rows = graft.Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val byType = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val truth = (for {
      (et, vs) <- byType.toSeq
      q <- Seq(500L, 950L)
      k = (q * vs.length + 999) / 1000
    } yield (et, q, k, vs((k - 1).toInt))).sortBy(t => (t._1, t._2))
    val got = q("ax_group_percentile").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == truth)
  }

  test("k-anonymity audit equals the in-memory class walk") {
    val rows = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"),
        (col("c_acctbal") < 0).cast("long"))
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
    val classes = rows.groupBy(_._1).values.toSeq
    val truth = (classes.size.toLong,
      classes.map(_.size).min.toLong,
      classes.filter(_.size < 5).map(_.size).sum.toLong,
      classes.map(_.map(_._2).distinct.size).min.toLong)
    val r = q("ax_k_anonymity").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == truth)
  }

  test("geometric DP release: noise bounded, released = n + noise, counts true") {
    val trueCounts = spark.read.parquet(s"$dir/customer.parquet")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q("ax_dp_geometric").collect().foreach { r =>
      val (seg, n, noise, released) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n == trueCounts(seg))
      assert(noise >= -8 && noise <= 8)
      assert(released == n + noise)
    }
  }

  // ---- sim_mmr_select ------------------------------------------------

  test("MMR selection equals the in-memory greedy chain") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT))"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val qv = vecs(0L)
    var cand = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, v, dot(v, qv), None: Option[Long]) }
    val truth = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    for (rank <- 1 to 5) {
      val p = cand.minBy { case (id, _, rel, md) => (-(rel - md.getOrElse(0L)), id) }
      truth += ((rank.toLong, p._1, p._3, p._3 - p._4.getOrElse(0L)))
      cand = cand.filter(_._1 != p._1).map { case (id, v, rel, md) =>
        val d = dot(v, p._2)
        (id, v, rel, Some(md.fold(d)(m => math.max(m, d))))
      }
    }
    val got = q("sim_mmr_select").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == truth.toSeq)
    // greedy scores are non-increasing from rank 2 on (rank 1 scores
    // pure relevance — a negative max-dot can lift rank 2 above it,
    // so the monotone run starts once the penalty term is live)
    got.map(_._4).drop(1).sliding(2).foreach {
      case Seq(a, b) => assert(a >= b); case _ => }
  }
}
