package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Sketches
import graft.Gate

/** Scan-reduction machinery — the two techniques that decide whether a
  * 100 TB join reads 100 TB or 2 TB:
  *
  *   - ax_dpp_prune: DYNAMIC PARTITION PRUNING. The fact side is laid
  *     out partitioned by the join key; a selective filter on the
  *     dimension side becomes, at runtime, a partition filter on the
  *     fact scan (Catalyst's `PartitionPruning` rule inserts a
  *     `dynamicpruning` subquery that reuses the join's broadcast).
  *     Partitions that can't match are never opened — the scan cost is
  *     proportional to the selected data, not the table.
  *
  *   - ax_bloom_join: BLOOM-FILTER SEMI-JOIN REDUCTION for the case
  *     where the layout does NOT match the join key. The small
  *     (filtered) side aggregates its keys into a bloom sketch — a
  *     mergeable aggregate, map-side partials, one binary blob — which
  *     is applied as a scan filter on the big side BEFORE its shuffle.
  *     False positives are eliminated by the real join that follows, so
  *     results are exact; the sketch only reduces shuffled bytes (here
  *     ~97% of lineitem rows are dropped pre-shuffle). This is exactly
  *     what Spark's `InjectRuntimeFilter` rule does once its size
  *     thresholds (application side ≥ 10 GB) are met; built explicitly
  *     so the mechanism is exercised and oracle-checked at gate scale.
  */
object ScanPruning {

  private def cents(c: Column) = round(c * 100).cast("long")

  // -------------------------------------------------------------------
  // ax_dpp_prune
  // -------------------------------------------------------------------

  /** Hive-style layout partitioned by the join key, written once per
    * customer generation and partition column (a [[FixtureCache.layout]];
    * ingest cost, paid once).
    */
  def partitionedCustomerPath(spark: SparkSession, dir: String): String =
    FixtureCache.layout(spark, "dpp_tables", dir, Seq("customer.parquet"),
        "pcol" -> "c_nationkey") { path =>
      spark.read.parquet(s"$dir/customer.parquet")
        .write.partitionBy("c_nationkey").mode("overwrite").parquet(path)
    }

  /** the pruned join itself (pre-aggregation), for plan assertions:
    * customer scan must carry `PartitionFilters: [dynamicpruning#…]`.
    */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    val euroNations = spark.read.parquet(s"$dir/nation.parquet")
      .join(
        broadcast(spark.read.parquet(s"$dir/region.parquet")
          .filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    spark.read.parquet(partitionedCustomerPath(spark, dir))
      .join(broadcast(euroNations), col("c_nationkey") === col("n_nationkey"))
  }

  private def dppPrune(spark: SparkSession, dir: String): DataFrame =
    dppJoin(spark, dir)
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(cents(col("c_acctbal"))).as("acctbal_cents"))
      .orderBy("n_name")

  private val dppPruneSql =
    """SELECT n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS acctbal_cents
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'EUROPE'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_bloom_join
  // -------------------------------------------------------------------

  /** Sketch parameters derived from the MEASURED probe cardinality —
    * one count(*) over the already-filtered build side (filter-pushed
    * scan, no shuffle) — instead of a constant that silently saturates
    * past its design SF (fpp → 1 turns the reduction into a no-op while
    * results stay correct). numBits for ~1% fpp is n·(-ln 0.01)/ln²2 ≈
    * 9.6·n, rounded up to a power of two; the floor keeps tiny SFs
    * sensible and the cap bounds the per-task blob at 16 MB (n ≈ 14M
    * keys — past that, prefer a pre-aggregated join key list or DPP).
    */
  private def bloomParams(probe: DataFrame): (Long, Long) = {
    val n = math.max(probe.count(), 1024L)
    val idealBits =
      math.ceil(n * (-math.log(0.01)) / (math.log(2) * math.log(2))).toLong
    val bits = math.min(1L << 27,
      java.lang.Long.highestOneBit(math.max(idealBits - 1, 1L)) << 1)
    (n, bits)
  }

  /** filtered build side — one priority × one order-date year ≈ 3% of
    * orders, the selectivity the reduction exploits.
    */
  private def bloomProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_orderkey"), col("o_orderdate"))

  /** the reduced join (pre-aggregation), for plan assertions: lineitem
    * scan must be filtered by `might_contain` BEFORE the join exchange.
    */
  def bloomReducedJoin(spark: SparkSession, dir: String): DataFrame = {
    val probe = bloomProbe(spark, dir)
    val (items, bits) = bloomParams(probe)
    val bloom = probe
      .agg(Sketches.bloomFilterAgg(col("o_orderkey"), items, bits)
        .as("bf"))
      .scalar() // scalar subquery: the sketch never lands on the driver
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(Sketches.mightContain(bloom, col("l_orderkey")))
      // MERGE hint: at gate SF the probe side would broadcast, which
      // makes the reduction moot (broadcast joins don't shuffle the big
      // side); force the shuffle plan the bloom filter exists to slim.
      .join(probe.hint("MERGE"), col("l_orderkey") === col("o_orderkey"))
  }

  private def bloomJoin(spark: SparkSession, dir: String): DataFrame =
    bloomReducedJoin(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy("month")

  private val bloomJoinSql =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT))
      |    AS BIGINT) AS revenue_cents,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_dpp_prune", dppPrune, dppPruneSql),
    Gate("ax_bloom_join", bloomJoin, bloomJoinSql)
  )
}
