package graft.functions

import graft.ops.PortableHash
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the native [[org.apache.spark.sql.graft.MinHashMins]] expression
  * element-for-element to the per-permutation
  * `array_min(transform(ha, h -> (a*(h%p)+b)%p))` formula it replaced
  * on the streaming ingest gate (st_dedup_probe) — including the
  * empty-array → NULL and NULL-array → NULL edges, and a driver-side
  * reference for absolute values.
  */
class MinHashMinsSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  // small deterministic coefficient set, same construction as
  // MinHashLsh (affine over a prime), plus the degenerate a=1/b=0 slot
  private val P = 1073741789L
  private val rng = new scala.util.Random(991)
  private val k = 32
  private val coefA = Array(1L) ++ Array.fill(k - 1)(1L + rng.nextInt((P - 1).toInt).toLong)
  private val coefB = Array(0L) ++ Array.fill(k - 1)(rng.nextInt(P.toInt).toLong)

  private val samples: Seq[Seq[Long]] = {
    val r = new scala.util.Random(4242)
    // 60-bit non-negative hashes, the only domain callers feed
    (1 to 60).map(_ => Seq.fill(1 + r.nextInt(40))(r.nextLong() >>> 4)) ++
      Seq(Seq(0L), Seq((1L << 60) - 1), Seq(7L, 7L, 7L))
  }

  private def ref(ha: Seq[Long]): Seq[Long] =
    (0 until k).map(s => ha.map(h => (coefA(s) * (h % P) + coefB(s)) % P).min)

  test("native mins equal the 32-transform formula and the driver reference") {
    val minExprs = (0 until k).map(s => expr(
      s"array_min(transform(ha, h -> (${coefA(s)} * (h % $P) + ${coefB(s)}) % $P))"))
    val rows = samples.toDF("ha")
      .select(col("ha"),
        GraftFunctions.minHashMins(col("ha"), coefA, coefB, P).as("nat"),
        array(minExprs: _*).as("lam"))
      .collect()
    assert(rows.length === samples.length)
    rows.foreach { r =>
      val ha = r.getSeq[Long](0)
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"native vs lambda for $ha")
      assert(r.getSeq[Long](1) === ref(ha), s"native vs driver ref for $ha")
    }
  }

  test("empty and NULL arrays yield NULL, matching array_min-of-empty") {
    val rows = Seq(Some(Seq.empty[Long]), None, Some(Seq(5L)))
      .toDF("ha")
      .select(GraftFunctions.minHashMins(col("ha"), coefA, coefB, P).as("m"),
        expr(s"array_min(transform(ha, h -> (h % $P)))").as("am"))
      .collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1)) // empty: both NULL
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1)) // NULL: both NULL
    assert(!rows(2).isNullAt(0))
  }

  test("coefficients outside the no-overflow domain are rejected") {
    def build(a: Long, b: Long, p: Long) =
      GraftFunctions.minHashMins(col("ha"), Array(a), Array(b), p)
    build(1L, 0L, 1L << 31) // the widest domain: a*(h%p)+b < 2^62
    Seq((1L, 0L, (1L << 31) + 1), (1L, 0L, 0L), (P, 0L, P), (1L, -1L, P), (-1L, 0L, P))
      .foreach { case (a, b, p) =>
        intercept[IllegalArgumentException](build(a, b, p))
      }
  }
}
