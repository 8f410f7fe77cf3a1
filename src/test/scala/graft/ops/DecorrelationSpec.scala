package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the round-5 additions, independent of the DuckDB
  * oracle:
  *
  *   - ax_late_suppliers claims its one-pass aggregate is a faithful
  *     DECORRELATION of the textbook Q21 double-correlated
  *     EXISTS + NOT EXISTS phrasing — so run the textbook phrasing
  *     through Spark SQL (whose optimizer plans genuine semi/anti
  *     joins for it) and require identical results.
  *   - tx_para_dedup claims global first-occurrence retention and a
  *     byte-faithful rewrite — invariants checked directly against the
  *     source corpus.
  */
class DecorrelationSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("ax_late_suppliers equals the correlated EXISTS/NOT EXISTS form") {
    Seq("supplier", "nation", "orders", "lineitem").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet")
        .createOrReplaceTempView(s"q21_$t")
    }
    val textbook = spark.sql(
      """SELECT s.s_name, COUNT(DISTINCT o.o_orderkey) AS numwait
        |FROM q21_supplier s
        |JOIN q21_nation n ON s.s_nationkey = n.n_nationkey
        |JOIN q21_lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN q21_orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F' AND n.n_name = 'NATION_19'
        |  AND datediff(l1.l_shipdate, o.o_orderdate) > 90
        |  AND EXISTS (SELECT 1 FROM q21_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM q21_lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND datediff(l3.l_shipdate, o.o_orderdate) > 90)
        |GROUP BY s.s_name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val ours = SparkEntry.queries("ax_late_suppliers")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(ours.nonEmpty, "fixture must produce at least one blamed supplier")
    assert(ours.toSeq == textbook.toSeq)
  }

  test("tx_para_dedup keeps each distinct paragraph exactly once") {
    val out = SparkEntry.queries("tx_para_dedup")(spark, dir).persist()
    try {
      val (paras, kept) = {
        val r = out.agg(sum("n_paras"), sum("n_kept")).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      assert(kept <= paras)
      assert(kept > 0)
      // global retention: #kept == #distinct paragraphs in the corpus
      val distinctParas = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextAnalysis.normCol.as("norm"))
        .filter(length(col("norm")) > 0)
        .select(split(col("norm"), " ").as("w"))
        .withColumn("pos", explode(sequence(lit(0L), expr("(size(w) - 1) div 16"))))
        .select(expr("array_join(slice(w, CAST(pos*16 + 1 AS INT), 16), ' ')")
          .as("chunk"))
        .distinct().count()
      assert(kept == distinctParas)
    } finally out.unpersist()
  }

  test("tx_para_dedup rewrite is the identity on documents with no dups") {
    val out = SparkEntry.queries("tx_para_dedup")(spark, dir)
    val intact = out.filter(col("n_kept") === col("n_paras"))
      .select(col("doc_id"), col("clean_hash"))
    // word-aligned chunks joined back with single spaces reproduce the
    // normalized text verbatim, so an all-kept doc must hash to its norm
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), md5(TextAnalysis.normCol).as("norm_hash"))
    val joined = intact.join(expected, "doc_id").persist()
    try {
      assert(joined.count() > 0, "some doc should survive intact")
      assert(joined.filter(col("clean_hash") =!= col("norm_hash")).count() == 0)
    } finally joined.unpersist()
  }

  test("ax_small_quantity equals the correlated scalar-subquery Q17 form") {
    Seq("part", "lineitem").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet")
        .createOrReplaceTempView(s"q17_$t")
    }
    // Textbook Q17 phrasing: per-row correlated average. Spark's
    // optimizer decorrelates it its own way; results must match our
    // single-shuffle window formulation exactly.
    val textbook = spark.sql(
      """SELECT p.p_brand,
        |  SUM(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS small_rev_cents,
        |  COUNT(*) AS small_lines
        |FROM q17_lineitem l JOIN q17_part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size <= 5
        |  AND l.l_quantity < 0.2 * (SELECT AVG(l2.l_quantity)
        |                            FROM q17_lineitem l2
        |                            JOIN q17_part p2 ON l2.l_partkey = p2.p_partkey
        |                            WHERE p2.p_size <= 5
        |                              AND l2.l_partkey = l.l_partkey)
        |GROUP BY 1""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val ours = SparkEntry.queries("ax_small_quantity")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(ours.nonEmpty, "fixture must produce small-quantity revenue")
    assert(ours.toSeq == textbook.toSeq)
  }

  test("ax_idle_customers equals the correlated scalar + NOT EXISTS Q22 form") {
    Seq("customer", "orders").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet")
        .createOrReplaceTempView(s"q22_$t")
    }
    val textbook = spark.sql(
      """SELECT c.c_nationkey, COUNT(*) AS numcust,
        |  SUM(CAST(round(c.c_acctbal*100) AS BIGINT)) AS total_bal_cents
        |FROM q22_customer c
        |WHERE c.c_nationkey < 10
        |  AND CAST(round(c.c_acctbal*100) AS BIGINT) >
        |      (SELECT AVG(CAST(round(c2.c_acctbal*100) AS BIGINT))
        |       FROM q22_customer c2
        |       WHERE c2.c_nationkey < 10
        |         AND c2.c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM q22_orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    val ours = SparkEntry.queries("ax_idle_customers")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    assert(ours.nonEmpty, "fixture must contain lapsed above-average customers")
    // NOTE the textbook AVG is a double and ours is the exact-integer
    // bal·n > sum test; they agree unless a balance lands exactly on
    // the average, which round(·*100) cents make measure-zero here.
    assert(ours.toSeq == textbook.toSeq)
  }

  test("ax_ewma_smooth matches the driver-side truncated recurrence") {
    val out = SparkEntry.queries("ax_ewma_smooth")(spark, dir)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out.nonEmpty)
    // independent recomputation: collect the daily series (calendar-
    // sized) and apply the scaled truncated-window definition directly
    val daily = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(col("event_type"), date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val byType = daily.groupBy(_._1)
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    byType.foreach { case (et, rows) =>
      val series = rows.map { case (_, d, x) =>
        java.time.LocalDate.parse(d, fmt) -> x
      }.toMap
      series.keys.foreach { d =>
        val expected = (0 until 12).flatMap { j =>
          series.get(d.minusDays(j)).map { x =>
            (x * (math.pow(4, j) * math.pow(5, 11 - j)).toLong, 1L)
          }
        }
        val (s, n) = expected.foldLeft((0L, 0L)) {
          case ((a, b), (x, c)) => (a + x, b + c)
        }
        val got = out((et, d.format(fmt)))
        assert(got._2 == s, s"$et $d scaled ewma")
        assert(got._3 == n, s"$et $d lags present")
      }
    }
  }

  test("ax_min_cost_supp equals the correlated scalar-min form (Q2 shape)") {
    Seq("part", "supplier", "lineitem").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet")
        .createOrReplaceTempView(s"q2_$t")
    }
    // the textbook phrasing: a correlated scalar subquery re-derives
    // the per-part minimum for every candidate offer; Spark's optimizer
    // decorrelates it its own way — results must match our explicit
    // window-over-aggregate formulation row for row
    val textbook = spark.sql(
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey,
        |    MIN(CAST(round(l_extendedprice*100) AS BIGINT)) AS offer_cents
        |  FROM q2_lineitem GROUP BY 1, 2)
        |SELECT p.p_partkey, p.p_brand, s.s_name, o.offer_cents
        |FROM offers o
        |JOIN q2_part p ON o.l_partkey = p.p_partkey AND p.p_size = 15
        |JOIN q2_supplier s ON o.l_suppkey = s.s_suppkey
        |WHERE o.offer_cents = (SELECT MIN(o2.offer_cents) FROM offers o2
        |                       WHERE o2.l_partkey = o.l_partkey)""".stripMargin)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sorted
    val ours = SparkEntry.queries("ax_min_cost_supp")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sorted
    assert(ours.nonEmpty, "fixture must produce at least one min-cost offer")
    assert(ours.toSeq == textbook.toSeq)
  }
}
