package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two-pass selection's skew recursion, run END-TO-END against a
  * degenerate PARQUET fixture at sf0.1 row scale (round-8 verdict
  * item 6).
  *
  * SelectionFuzzSpec forces both selection paths on in-memory frames;
  * until this spec, no gate-scale run had driven the recursion against
  * an actual parquet scan (the SF corpus is too uniform: no 4096-wide
  * bucket ever exceeds the 100k occupancy trigger). The fixture here
  * is the adversarial layout the recursion exists for: 600k rows
  * (sf0.1 lineitem scale) with 99.95% of mass in ONE coarse bucket —
  * the shape a currency column quantized to few distinct values, or a
  * default-valued metric, produces at 100 TB.
  *
  * What is measured and pinned (recorded in BASELINE.md):
  *  - the recursion path's pass-2 is a ≤4096-row per-value
  *    sub-histogram (metadata, not data: 37 rows here), while the heap
  *    path's pass-2 on the same fixture is a TakeOrderedAndProject of
  *    k − cum ≈ up to ~594k rows — the recursion turns a
  *    bucket-occupancy-sized sort into a count walk;
  *  - both paths return IDENTICAL order statistics, checked against
  *    the in-memory sorted reference (percentile_disc convention).
  */
class SkewParquetProbeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val N = 600000
  private val HotBase = 7L * 4096L // bucket 7 of the div-4096 histogram

  /** Deterministic degenerate corpus: 150 rows below the hot bucket,
    * 150 above, 599,700 (99.95%) inside it concentrated on 37 distinct
    * values — a multiplicative-hash spread so values interleave across
    * partitions rather than arriving sorted.
    */
  private def value(i: Long): Long =
    if (i % 4000 == 0)      (i / 4000) * 97          // 150 rows, buckets 0..3
    else if (i % 4000 == 1) 40960L + (i / 4000) * 91 // 150 rows, buckets 10+
    else HotBase + (i * 2654435761L % 37) * 110      // hot bucket, 37 values

  private lazy val fixturePath: String =
    FixtureCache.layout(spark, "skew_probe", "target/synthetic", Nil,
        "n" -> N) { f =>
      spark.range(N)
        .select(col("id"),
          expr("CASE WHEN id % 4000 = 0 THEN (id DIV 4000) * 97 " +
            "WHEN id % 4000 = 1 THEN 40960 + (id DIV 4000) * 91 " +
            s"ELSE $HotBase + (id * 2654435761 % 37) * 110 END").as("v"),
          expr("CASE WHEN id % 2 = 0 THEN 'alpha' ELSE 'beta' END")
            .as("event_type"))
        .repartition(8)
        .write.mode("overwrite").parquet(f)
    }

  private lazy val sortedRef: Array[Long] =
    (0L until N).map(value).toArray.sorted

  private def refK(qPm: Long, n: Long): (Long, Long) = {
    val k = (qPm * n + 999) / 1000
    (k, sortedRef(k.toInt - 1))
  }

  test("fixture is degenerate by construction: one bucket holds 99.95%") {
    val hot = spark.read.parquet(fixturePath)
      .filter(expr("v div 4096") === 7L).count()
    assert(hot === N - 300L)
    assert(hot > 100000L, "must exceed the recursion trigger")
    val distinctHot = spark.read.parquet(fixturePath)
      .filter(expr("v div 4096") === 7L).select("v").distinct().count()
    assert(distinctHot === 37L,
      "pass-2 of the recursion path is a 37-row sub-histogram")
  }

  test("skew recursion against parquet matches the sorted reference") {
    val c = spark.read.parquet(fixturePath).select(col("v"))
    val targets = Seq(500L, 900L, 990L)
    val out = Stats.exactPercentileOf(c, targets, 100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 3)
    targets.zip(out).foreach { case (q, (qPm, k, v)) =>
      val (kRef, vRef) = refK(q, N)
      assert(qPm === q)
      assert(k === kRef, s"rank for q=$q")
      assert(v === vRef, s"value for q=$q (recursion path)")
    }
  }

  test("heap path on the same fixture agrees (the expensive twin)") {
    // recurseAbove = MaxValue forces pass 2 through the
    // TakeOrderedAndProject heap — a k−cum ≈ 594k-row ordered take on
    // this fixture, the cost profile the recursion avoids
    val c = spark.read.parquet(fixturePath).select(col("v"))
    val out = Stats.exactPercentileOf(c, Seq(500L, 990L), Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq === Seq(500L, 990L).map(q => (q, refK(q, N)._2)))
  }

  test("grouped two-pass selection runs end-to-end on the skewed parquet") {
    val c = spark.read.parquet(fixturePath)
      .select(col("event_type"), col("v"))
    val out = Stats.groupPercentileOf(c).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    // per-group references: groups interleave 0/1 over i
    val refs = Seq("alpha", "beta").map { g =>
      val keep = if (g == "alpha") 0L else 1L
      g -> (0L until N).filter(_ % 2 == keep).map(value).sorted
    }.toMap
    assert(out.length === 4) // 2 groups × (500, 950)
    out.foreach { case (g, qPm, v) =>
      val ref = refs(g)
      val k = (qPm * ref.length + 999) / 1000
      assert(v === ref(k.toInt - 1), s"group $g q=$qPm")
    }
  }
}
