package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Revenue-concentration analytics: the Gini coefficient of customer
  * spend and the decile gains table — "how unequal is the customer
  * base, and which tenth of it carries the revenue". Both read ONE
  * globally-ranked per-customer spend substrate built with the
  * declarative zipWithIndex decomposition (range exchange + P-row
  * offset table — [[Lifecycle]]'s tx_assign_ids discipline), so the
  * global rank every formula needs NEVER runs a single-partition
  * window over data.
  *
  * Extension surface beyond reference parity (north star
  * repo:BASELINE.json); the reference generates expressions only
  * (/root/reference/polarify/main.py:49-388).
  */
object Concentration {

  private val RankParts = 8

  /** Stale-generation-evicting substrate cache (orders mtime). The
    * cached value is localCheckpoint()-ed, not persist()-ed, so
    * eviction's unpersist() is a no-op for it — what eviction buys
    * here is dropping the strong reference, which lets the
    * ContextCleaner reclaim the superseded checkpoint blocks after GC
    * (see [[SubstrateCache]]'s release-semantics note).
    */
  private val rankedCache = SubstrateCache.frame("orders.parquet")

  /** Per-customer spend (whole dollars, exact integers) with its global
    * ascending rank i under the total order (spend, custkey), plus the
    * (n, sx) scalars every consumer needs. Rank assignment is the
    * declarative zipWithIndex: range-repartition on the sort key, count
    * rows per range partition, prefix-sum the P-row offset table (the
    * only unpartitioned window runs over P = 8 rows), local row_number
    * + broadcast offset = global rank. Persisted per (application, SF
    * dir, fixture generation): the Gini and the gains table both
    * consume it.
    */
  /** Frame-parameterized ranked core over a (c, x) per-key spend frame
    * — exposed so MomentBoundsSpec can drive the rank/Gini algebra over
    * boundary-straddling synthetic fixtures the SF corpus can't reach.
    */
  private[ops] def rankedOf(keyed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = keyed
      .repartitionByRange(RankParts, col("x"), col("c"))
      .withColumn("pid", spark_partition_id().cast("long"))
      .persist()
    val offsets = s.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(
        sum(col("cnt")).over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    val tot = s.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val local = Window.partitionBy("pid").orderBy("x", "c")
    // localCheckpoint (eager) severs the lineage onto `s`, so the
    // intermediate range-partitioned frame can release its blocks
    // immediately instead of staying pinned for the session.
    val out = s.withColumn("local", row_number().over(local).cast("long"))
      .join(broadcast(offsets), "pid") // P rows — bounded by design
      .crossJoin(broadcast(tot))       // 1 row — scalar attach
      .select(col("c"), col("x"),
        (col("offset") + col("local")).as("i"), col("n"), col("sx"))
      .localCheckpoint()
    s.unpersist()
    out
  }

  private def ranked(spark: SparkSession, dir: String): DataFrame =
    rankedCache.get(spark, dir) {
      rankedOf(spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey").as("c"),
          expr("CAST(round(o_totalprice) AS BIGINT)").as("d"))
        .groupBy("c").agg(sum(col("d")).as("x")))
    }

  // -------------------------------------------------------------------
  // ax_revenue_gini: the GINI COEFFICIENT of per-customer spend — the
  // one-number concentration audit (0 = perfectly equal, →1 = one
  // customer is the business), from the rank formulation over values
  // sorted ascending:
  //
  //   G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)
  //
  // num is non-negative by the rearrangement inequality (ranks
  // ascending with values), so gini_permille = 1000·num div den is
  // truncation-portable. The wide terms (Σi·x, num, den) run in
  // DECIMAL(38,0) UNCONDITIONALLY (ax_decimal_sum discipline): int64
  // is exact only through ~sf0.1 (Σi·x ≤ n·Σx ≈ 3×10¹⁵, ×1000 ≈
  // 3×10¹⁸ < 2^63) and a data-dependent branch would change the
  // output schema mid-scale; decimal128 partials are mergeable, the
  // plan shape is identical, and num/den emit as STRINGS because
  // 38-digit values exceed every native integer. gini_permille stays
  // BIGINT — `div` on decimals is integral division into a long, and
  // the quotient is ≤ 1000 by construction. The DuckDB twin widens to
  // HUGEINT at the same points. MomentBoundsSpec pins int64/decimal
  // agreement on a fixture that straddles the 2^63 boundary.
  //
  // Scale shape: the ranked substrate (one range exchange over the
  // per-customer AGGREGATE, never raw orders) + ONE map-side-combined
  // pass to a single row.
  // -------------------------------------------------------------------
  /** Frame-parameterized Gini core over a ranked substrate — exposed
    * for MomentBoundsSpec's boundary fixtures.
    */
  private[ops] def giniOf(ranked: DataFrame): DataFrame =
    ranked
      .agg(min(col("n")).as("n"), min(col("sx")).as("sum_spend"),
        sum(col("i").cast("decimal(38,0)") * col("x").cast("decimal(38,0)"))
          .as("six"))
      .select(col("n"), col("sum_spend"),
        (lit(2L).cast("decimal(38,0)") * col("six")
          - (col("n") + 1L).cast("decimal(38,0)")
            * col("sum_spend").cast("decimal(38,0)")).as("numd"),
        (col("n").cast("decimal(38,0)")
          * col("sum_spend").cast("decimal(38,0)")).as("dend"))
      .select(col("n"), col("sum_spend"),
        col("numd").cast("string").as("num"),
        col("dend").cast("string").as("den"),
        expr("(CAST(1000 AS DECIMAL(38,0)) * numd) div dend")
          .as("gini_permille"))

  private def revenueGini(spark: SparkSession, dir: String): DataFrame =
    giniOf(ranked(spark, dir))

  private val revenueGiniSql =
    """WITH s AS (SELECT o_custkey AS c,
      |    SUM(CAST(round(o_totalprice) AS BIGINT)) AS x
      |  FROM orders GROUP BY 1),
      |r AS (SELECT c, x, ROW_NUMBER() OVER (ORDER BY x, c) AS i,
      |        COUNT(*) OVER () AS n, SUM(x) OVER () AS sx
      |      FROM s),
      |a AS (SELECT MIN(n) AS n, MIN(sx) AS sx,
      |        SUM(CAST(i AS HUGEINT) * x) AS six
      |      FROM r)
      |SELECT CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS sum_spend,
      |  CAST(2 * six - (CAST(n AS HUGEINT) + 1) * sx AS VARCHAR) AS num,
      |  CAST(CAST(n AS HUGEINT) * sx AS VARCHAR) AS den,
      |  CAST((1000 * (2 * six - (CAST(n AS HUGEINT) + 1) * sx))
      |       // (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_permille
      |FROM a""".stripMargin

  // -------------------------------------------------------------------
  // ax_decile_gains: the GAINS TABLE over the same ranked substrate —
  // customers split into spend deciles by exact global rank
  // (decile = 10·(i−1) div n, 0 = bottom tenth), each decile priced
  // by row count, spend, and exact-ppm revenue share. The "top decile
  // carries X% of revenue" statement every concentration claim cites,
  // and the Lorenz curve in 10 points. Free once the rank exists —
  // one more |deciles|-row aggregate.
  // -------------------------------------------------------------------
  private def decileGains(spark: SparkSession, dir: String): DataFrame =
    ranked(spark, dir)
      .select(expr("((i - 1) * 10) div n").as("decile"), col("x"),
        col("sx"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_cust"), sum(col("x")).as("spend"),
        min(col("sx")).as("sx"))
      .withColumn("share_ppm", expr("(spend * 1000000L) div sx"))
      .select(col("decile"), col("n_cust"), col("spend"), col("share_ppm"))
      .orderBy("decile")

  private val decileGainsSql =
    """WITH s AS (SELECT o_custkey AS c,
      |    SUM(CAST(round(o_totalprice) AS BIGINT)) AS x
      |  FROM orders GROUP BY 1),
      |r AS (SELECT c, x, ROW_NUMBER() OVER (ORDER BY x, c) AS i,
      |        COUNT(*) OVER () AS n, SUM(x) OVER () AS sx
      |      FROM s)
      |SELECT CAST(((i - 1) * 10) // n AS BIGINT) AS decile,
      |  COUNT(*) AS n_cust, CAST(SUM(x) AS BIGINT) AS spend,
      |  CAST(SUM(x) * 1000000 // MIN(sx) AS BIGINT) AS share_ppm
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_abc_class: ABC CLASSIFICATION of parts by revenue — the
  // inventory-management standard: A = the head carrying the first 80%
  // of cumulative revenue, B = to 95%, C = the tail. Needs a GLOBAL
  // PREFIX SUM over parts ranked by revenue descending, computed with
  // the same decomposition as the rank: range-exchange on
  // (revenue desc, partkey), per-partition SUM offsets (the P-row
  // prefix-sum window), local cumulative window + broadcast offset =
  // exact global running total — no single-partition scan at any
  // size. Class boundaries in exact integers (cum·5 ≤ 4·total ⇒ A;
  // cum·20 ≤ 19·total ⇒ B), ties broken by the (x desc, p) total
  // order so the cut is deterministic.
  // -------------------------------------------------------------------
  /** Frame-parameterized ABC core over a (p, x) per-key measure frame —
    * exposed for SelectionFuzzSpec, which cross-checks the distributed
    * prefix-sum classification (range exchange + per-partition sum
    * offsets) against an in-memory cumulative walk on random spends.
    */
  private[ops] def abcClassOf(keyed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = keyed
      .repartitionByRange(RankParts, col("x").desc, col("p"))
      .withColumn("pid", spark_partition_id().cast("long"))
      .persist()
    val offsets = s.groupBy("pid").agg(sum(col("x")).as("psum"))
      .withColumn("offset", coalesce(
        sum(col("psum")).over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    val tot = s.agg(sum(col("x")).as("total"))
    val local = Window.partitionBy("pid").orderBy(col("x").desc, col("p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = s.withColumn("lcum", sum(col("x")).over(local))
      .join(broadcast(offsets), "pid") // P rows — bounded by design
      .crossJoin(broadcast(tot))       // 1 row — scalar attach
      .select(col("x"),
        (col("offset") + col("lcum")).as("cum"), col("total"))
      .select(col("x"), col("total"),
        when(expr("cum * 5 <= 4 * total"), "A")
          .when(expr("cum * 20 <= 19 * total"), "B")
          .otherwise("C").as("abc_class"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"), sum(col("x")).as("revenue"),
        min(col("total")).as("total"))
      .withColumn("share_ppm", expr("(revenue * 1000000L) div total"))
      .select(col("abc_class"), col("n_parts"), col("revenue"),
        col("share_ppm"))
      .orderBy("abc_class")
      .localCheckpoint() // materialize before dropping the substrate
    s.unpersist()
    out
  }

  private def abcClass(spark: SparkSession, dir: String): DataFrame =
    abcClassOf(spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey").as("p"),
        expr("CAST(round(l_extendedprice) AS BIGINT)").as("d"))
      .groupBy("p").agg(sum(col("d")).as("x")))

  private val abcClassSql =
    """WITH s AS (SELECT l_partkey AS p,
      |    SUM(CAST(round(l_extendedprice) AS BIGINT)) AS x
      |  FROM lineitem GROUP BY 1),
      |r AS (SELECT x,
      |    SUM(x) OVER (ORDER BY x DESC, p) AS cum,
      |    SUM(x) OVER () AS total
      |  FROM s),
      |c AS (SELECT x, total,
      |    CASE WHEN cum * 5 <= 4 * total THEN 'A'
      |         WHEN cum * 20 <= 19 * total THEN 'B'
      |         ELSE 'C' END AS abc_class
      |  FROM r)
      |SELECT abc_class, COUNT(*) AS n_parts, CAST(SUM(x) AS BIGINT)
      |    AS revenue,
      |  CAST(SUM(x) * 1000000 // MIN(total) AS BIGINT) AS share_ppm
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_revenue_gini", revenueGini, revenueGiniSql),
    Gate("ax_decile_gains", decileGains, decileGainsSql),
    Gate("ax_abc_class", abcClass, abcClassSql)
  )
}
