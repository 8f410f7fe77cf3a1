package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the round-2 operator batch, checked on real
  * sf0.001 data INDEPENDENTLY of the DuckDB oracle (the oracle proves
  * cross-engine agreement; these prove the answers mean what the
  * operator claims).
  */
class SemanticsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("funnel stages are monotone non-increasing") {
    val r = SparkEntry.queries("ax_funnel_stages")(spark, dir).collect()(0)
    val (users, view, click, purchase) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(users >= view && view >= click && click >= purchase)
    assert(view > 0, "fixture should have at least one viewing user")
  }

  test("retention offset-0 actives equal the cohort's size") {
    val rows = SparkEntry.queries("ax_retention_cohorts")(spark, dir).collect()
    val byCohort = rows.groupBy(_.getString(0))
    // every user is active on their own first day, and no offset can
    // have more actives than day 0 of the same cohort
    byCohort.foreach { case (_, rs) =>
      val day0 = rs.find(_.getLong(1) == 0L).map(_.getLong(2)).getOrElse(0L)
      assert(day0 > 0)
      rs.foreach(r => assert(r.getLong(2) <= day0))
    }
  }

  test("gapfill grid is dense and preserves the total event count") {
    val out = SparkEntry.queries("ax_hourly_gapfill")(spark, dir)
    val hours = out.select("hour").distinct().count()
    val types = out.select("event_type").distinct().count()
    assert(out.count() == hours * types, "grid must be dense")
    val total = out.agg(sum("n")).collect()(0).getLong(0)
    val raw = graft.Tables.events(spark, dir).count()
    assert(total == raw, "zero-filling must not change the total")
  }

  test("every flagged outlier deviates more than 3 sigma (and some row exists)") {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_type"), round(col("value")).cast("long").as("u"))
    val stats = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("u").as("s"),
        sum(col("u") * col("u")).as("ss"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val flagged = SparkEntry.queries("ax_outliers")(spark, dir).collect()
    assert(flagged.nonEmpty)
    flagged.foreach { r =>
      val (n, s, ss) = stats(r.getString(1))
      val u = r.getLong(2)
      assert((u * n - s) * (u * n - s) > 9L * (n * ss - s * s),
        s"event ${r.getLong(0)} flagged but within 3 sigma")
    }
  }

  test("skyline rows are mutually non-dominating and dominate all others") {
    val rows = SparkEntry.queries("ax_skyline_parts")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    def dominates(a: (Long, String, Long, Long), b: (Long, String, Long, Long)) =
      a._2 == b._2 && a._3 <= b._3 && a._4 <= b._4 &&
        (a._3 < b._3 || a._4 < b._4)
    for (a <- rows; b <- rows)
      assert(!dominates(a, b), s"skyline row $a dominates skyline row $b")
    // spot-check completeness: every excluded part is dominated
    val all = spark.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey"), col("p_brand"),
        round(col("p_retailprice") * 100).cast("long"), col("p_size").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val skyKeys = rows.map(_._1).toSet
    all.filterNot(p => skyKeys(p._1)).take(50).foreach { p =>
      assert(rows.exists(s => dominates(s, p)), s"excluded part $p undominated")
    }
  }

  test("argmax matches a brute-force reduction") {
    val out = SparkEntry.queries("ax_argmax_customer")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val brute = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_mktsegment"), col("c_custkey"),
        round(col("c_acctbal") * 100).cast("long").as("b"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (seg, rs) =>
        val best = rs.maxBy(r => (r.getLong(2), r.getLong(1)))
        seg -> (best.getLong(1), best.getLong(2))
      }
    assert(out == brute)
  }

  test("stratified sample is a subset with the declared hash rule") {
    val rows = SparkEntry.queries("tx_sample_stratified")(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "sample cannot exceed stratum")
    }
    val total = rows.map(_.getLong(1)).sum
    val sampled = rows.map(_.getLong(2)).sum
    assert(sampled > 0 && sampled < total)
  }

  test("copurchase pairs are canonical (a < b) with positive support") {
    SparkEntry.queries("ax_copurchase")(spark, dir).collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 1)
    }
  }

  test("pagerank ranks are positive and cover the requested top-k") {
    val rows = SparkEntry.queries("ax_pagerank_parts")(spark, dir).collect()
    assert(rows.length == 20)
    rows.foreach(r => assert(r.getLong(1) > 0))
    // output is rank-descending
    val prs = rows.map(_.getLong(1)).toSeq
    assert(prs == prs.sorted.reverse)
  }

  test("chunking arithmetic matches the closed form") {
    val rows = SparkEntry.queries("tx_chunk_stats")(spark, dir).collect()
    val lens = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "CAST(length(text) AS BIGINT) AS l").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (id, nChunks) = (r.getLong(0), r.getLong(1))
      val l = lens(id)
      assert(nChunks == (l - 1) / 160 + 1,
        s"doc $id: $nChunks chunks for $l chars")
    }
  }

  test("pack bins respect the running-budget rule") {
    // every bin except a language's last must have accumulated >= 512
    // tokens by its end (otherwise the next doc would have joined it)
    val rows = SparkEntry.queries("tx_pack_bins")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (_, bins) =>
      val sorted = bins.sortBy(_._2)
      // bins are contiguous from 0
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq)
      var cum = 0L
      sorted.dropRight(1).foreach { case (_, bin, _, toks) =>
        cum += toks
        assert(cum >= 512 * (bin + 1) - 511 || cum >= 512,
          s"non-final bin $bin closed with cumulative $cum tokens")
      }
    }
  }

  test("repetition per-mille is in range and zero for tiny docs") {
    val rows = SparkEntry.queries("tx_repetition")(spark, dir).collect()
    rows.foreach { r =>
      val (n, pm) = (r.getLong(1), r.getLong(2))
      assert(pm >= 0 && pm < 1000)
      if (n == 0) assert(pm == 0)
    }
  }

  test("error spikes all satisfy the 2x trailing rule") {
    val rows = SparkEntry.queries("ax_error_spikes")(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getLong(2) * 24 > r.getLong(3) * 2,
        s"flagged hour ${r.getString(1)} fails its own rule")
    }
  }

  test("upsert accounting is internally consistent") {
    val r = SparkEntry.queries("ax_upsert_orders")(spark, dir).collect()(0)
    val (nFinal, nIns, nUpd) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val nBase = spark.read.parquet(s"$dir/orders.parquet").count()
    assert(nFinal == nBase + nIns)
    assert(nUpd <= nBase)
    assert(nIns > 0 && nUpd > 0)
  }

  test("unpivot long form carries exactly the wide cells") {
    val out = SparkEntry.queries("ax_unpivot_metrics")(spark, dir)
    val flags = out.select("l_returnflag").distinct().count()
    assert(out.count() == flags * 3)
    assert(out.select("metric").distinct().count() == 3)
  }

  test("decontam flags only corpus docs, with overlap verified from raw text") {
    val rows = SparkEntry.queries("tx_decontam")(spark, dir).collect()
    assert(rows.nonEmpty, "fixture should have some contamination signal")
    rows.foreach { r =>
      assert(r.getLong(0) % 50 != 0, "benchmark docs must never be flagged")
      assert(r.getLong(1) >= 1 && r.getLong(2) >= 1)
    }
    // recompute the first flagged doc's gram overlap straight from text
    def grams(s: String): Set[String] = {
      val w = s.toLowerCase.trim.split("\\s+").toSeq
      if (w.size < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val benchGrams = texts.filter(_._1 % 50 == 0).values.flatMap(grams).toSet
    val first = rows.head
    assert((grams(texts(first.getLong(0))) intersect benchGrams).size ==
      first.getLong(1))
  }

  test("redaction agrees with an independent java.util.regex recompute") {
    val deny = Seq("customer", "key", "value")
    val out = SparkEntry.queries("tx_redact")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect().take(50).foreach { r =>
        val norm = r.getString(1).toLowerCase.trim.replaceAll("\\s+", " ")
        val n = deny.map(t => ("\\b" + t + "\\b").r.findAllIn(norm).size.toLong).sum
        val redacted = deny.foldLeft(norm)((s, t) =>
          s.replaceAll("\\b" + t + "\\b", "#"))
        val (cnt, chars, fp) = out(r.getLong(0))
        assert(cnt == n, s"doc ${r.getLong(0)} count")
        assert(chars == redacted.length.toLong)
        assert(fp == md5hex(redacted))
      }
  }

  test("cluster retention keeps the longest member of every real cluster") {
    val byCluster = SparkEntry.queries("dd_dup_clusters")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).filter(_._2.length >= 2)
    val lens = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).length.toLong).toMap
    val kept = SparkEntry.queries("dd_cluster_retain")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(byCluster.nonEmpty,
      "fixture should have at least one multi-member duplicate cluster")
    assert(kept.map(_._1).toSet == byCluster.keySet,
      "retention must emit exactly the multi-member clusters")
    kept.foreach { case (cl, keptDoc, keptChars, n) =>
      val members = byCluster(cl).map(_._1)
      assert(n == members.length)
      assert(members.contains(keptDoc))
      assert((keptChars, -keptDoc) == members.map(d => (lens(d), -d)).max,
        s"cluster $cl kept a non-best member")
    }
  }

  test("incremental aggregate merge equals the full recompute") {
    val inc = SparkEntry.queries("ax_incremental_agg")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val full = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(inc == full, "merged partial state must be indistinguishable " +
      "from aggregating the whole table")
  }

  test("ship-priority rows are ordered and the top revenue re-derives") {
    val rows = SparkEntry.queries("ax_ship_priority")(spark, dir).collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getLong(2))
    assert(revs.sameElements(revs.sortBy(-_)), "must be revenue-descending")
    // re-derive the winner's revenue from raw tables by a different path
    val top = rows.head
    val expected = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") === top.getLong(0) &&
        col("l_shipdate") > lit("1999-07-01"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
        .cast("long")))
      .collect()(0).getLong(0)
    assert(top.getLong(2) == expected)
  }

  test("scd2 intervals tile each customer's history without gaps or overlap") {
    val rows = SparkEntry.queries("ax_scd2_customer")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5)))
    val orderCounts = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (cust, ivs) =>
      val sorted = ivs.sortBy(_._2)
      assert(sorted.head._2 == 1L, "versions start at 1")
      sorted.sliding(2).foreach {
        case Array((_, v1, p1, _, to1, _), (_, v2, p2, from2, _, _)) =>
          assert(v2 == v1 + 1, "versions are consecutive")
          assert(to1 == from2, s"customer $cust: interval gap $to1 vs $from2")
          assert(p1 != p2, "consecutive intervals must differ in value")
        case _ => ()
      }
      assert(sorted.last._5 == "9999-12-31", "open current interval")
      assert(sorted.map(_._6).sum == orderCounts(cust),
        "every observation lands in exactly one interval")
    }
  }

  test("trailing-revenue frames match a brute-force 90-day recompute") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"),
        round(col("o_totalprice") * 100).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byCust = orders.groupBy(_._1)
    SparkEntry.queries("ax_trailing_revenue")(spark, dir).collect()
      .take(200).foreach { r =>
        val (cust, day, got) = (r.getLong(0), r.getLong(2), r.getLong(3))
        val want = byCust(cust)
          .filter(o => o._3 <= day && o._3 >= day - 90).map(_._4).sum
        assert(got == want, s"order ${r.getLong(1)} trailing sum")
      }
  }

  test("curation funnel attrition is monotone and starts at the raw corpus") {
    val rows = SparkEntry.queries("dd_curation_funnel")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq ==
      Seq("0_raw", "1_quality", "2_exact_dedup", "3_near_dedup"))
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    assert(rows(0)._2 == raw.count())
    assert(rows(0)._3 ==
      raw.agg(sum(length(col("text")).cast("long"))).collect()(0).getLong(0))
    rows.sliding(2).foreach { case Array((_, d1, c1), (_, d2, c2)) =>
      assert(d2 <= d1 && c2 <= c1, "each stage can only remove documents")
    case _ => () }
    assert(rows.last._2 > 0, "the funnel must not empty the corpus")
  }

  test("month-end balance takes period-last per customer, summed across") {
    val out = SparkEntry.queries("ax_month_end_balance")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM"),
        col("o_orderdate").cast("timestamp").cast("long"),
        round(col("o_totalprice") * 100).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    val expected = orders.groupBy(o => (o._3, o._1)).values.toSeq.map { os =>
      val last = os.maxBy(o => (o._4, o._2))
      (last._3, last._5)
    }.groupBy(_._1).map { case (m, vs) =>
      m -> ((vs.size.toLong, vs.map(_._2).sum))
    }
    assert(out == expected)
  }

  test("morton key interleaves bits exactly (vs an independent interleaver)") {
    def interleave(p: Long, s: Long): Long =
      (0 until 21).map(i =>
        (((p >> i) & 1L) << (2 * i)) | (((s >> i) & 1L) << (2 * i + 1))).sum
    val rows = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey"),
        expr(EventsOps.mortonSpark).as("m"))
      .limit(200).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) == interleave(r.getLong(0), r.getLong(1)),
        s"morton mismatch for (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("triangle count matches a brute-force set recompute") {
    val r = SparkEntry.queries("ax_triangle_count")(spark, dir).collect()(0)
    val (nNodes, nEdges, nTris) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // brute force from raw lineitem, driver-side
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val edges = li.groupBy(_._1).values.flatMap { ps =>
      val parts = ps.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.size)
        yield (parts(i), parts(j))
    }.toSet
    assert(nEdges == edges.size)
    assert(nNodes == edges.flatMap(e => Seq(e._1, e._2)).size)
    val adj = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    val expected = edges.toSeq.map { case (a, b) =>
      adj.getOrElse(a, Set.empty).count(c => b < c && edges.contains((b, c)))
    }.sum
    assert(nTris == expected.toLong, "degree-oriented count must equal " +
      "the id-ordered brute force")
    assert(nTris > 0, "fixture graph should contain triangles")
  }

  test("silhouette partitions every vector and bounds confusion") {
    val rows = SparkEntry.queries("sim_silhouette")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.map(_.getLong(1)).sum == total,
      "every vector belongs to exactly one label row")
    rows.foreach(r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1)))
    assert(rows.map(_.getInt(0)).distinct.length == rows.length)
  }

  test("mips augmented-cosine order coincides with inner-product order") {
    // the whole point of the norm-augmentation reduction: cosine over
    // the augmented space must rank exactly like the raw dot product
    val rows = SparkEntry.queries("sim_mips_norm")(spark, dir).collect()
    assert(rows.length > 1)
    val dots = rows.map(_.getLong(1))
    val cos = rows.map(_.getLong(2))
    assert(dots.zip(dots.tail).forall { case (a, b) => a >= b })
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b },
      "augmented cosine must be non-increasing wherever dot is")
    // strict dot gaps may collapse to floor-ties in cosine, but a
    // cosine INVERSION would break the reduction
  }

  test("lsh tuning: the finer banding dominates the implemented one") {
    // 1−(1−s²)¹⁶ ≥ 1−(1−s⁴)⁸ for all s ∈ [0,1] (algebra: reduces to
    // 2s⁴ ≤ 2s²) — the finer banding buys recall pointwise, paying in
    // candidate volume. A violation means the unrolled multiply chains
    // diverged from the curve they claim to compute.
    val rows = SparkEntry.queries("dd_lsh_tuning")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(4) >= r.getLong(3),
        s"capture(b16,r2) must dominate capture(b8,r4): $r")
    }
  }

  test("benford observed frequencies cover all digits and sum to ~1") {
    val rows = SparkEntry.queries("ax_benford")(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 9L),
      "all nine leading digits must appear")
    val ppmSum = rows.map(_.getLong(2)).sum
    // each of 9 floor-divisions can lose <1 ppm
    assert(ppmSum > 999991 && ppmSum <= 1000000, s"ppm sum $ppmSum")
  }

  test("join explosion prediction is exact") {
    val r = SparkEntry.queries("ax_join_explosion")(spark, dir).collect()(0)
    assert(r.getLong(2) == 1L, "histogram identity must predict exactly")
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getLong(3) >= 1L && r.getLong(4) >= 1L)
  }

  test("weighted sample prefers heavy documents") {
    val sample = SparkEntry.queries("tx_weighted_sample")(spark, dir)
    val sampleMean = sample.agg(avg(col("n_chars"))).collect()(0).getDouble(0)
    val corpusMean = spark.read.parquet(s"$dir/documents.parquet")
      .agg(avg(col("n_chars"))).collect()(0).getDouble(0)
    // size-weighted inclusion: the sample's mean size must exceed the
    // corpus mean (deterministic here — the hash fixes the sample)
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean should exceed corpus mean $corpusMean")
  }
}
