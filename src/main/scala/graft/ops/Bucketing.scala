package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Bucketed physical layout → co-located (zero-exchange) joins.
  *
  * The 100 TB story: a fact table that is repeatedly joined on the same
  * key should be *written* hash-bucketed on that key (`bucketBy` +
  * `sortBy`, one layout cost at ingest). Every later join between
  * tables bucketed on the join key with the same bucket count is
  * planned WITHOUT a shuffle on either side — the scans' output
  * partitioning already satisfies the join's distribution requirement,
  * so `EnsureRequirements` inserts no Exchange. At petabyte scale that
  * turns the dominant cost of every fact-fact join (two full-table
  * shuffles) into zero.
  *
  * The gate query writes both driver tables bucketed by orderkey, joins
  * them with a MERGE hint (the tables are tiny at test SF, so without
  * the hint Spark would broadcast — the hint forces the plan shape the
  * layout exists for), and aggregates. The oracle is the plain join:
  * bucketing must never change results, only the plan.
  */
object Bucketing {

  val Buckets = 16

  /** write both sides bucketed by the join key, return (lineitem, orders).
    * External tables over a [[FixtureCache.layout]] keyed by the bucket
    * spec and the source's generation. A fresh JVM that finds the
    * completed layout RE-REGISTERS the catalog entry over the existing
    * bucketed files (CREATE TABLE ... CLUSTERED BY ... LOCATION)
    * instead of rewriting them — the ingest cost is paid once per
    * source generation, not once per JVM. The table name carries the
    * layout's directory name (SF tag and fingerprint), so a changed
    * bucket spec or a regenerated source re-ingests under a new name
    * instead of re-registering a stale layout or a mismatched
    * CLUSTERED BY spec.
    */
  def bucketedTables(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    def ensure(table0: String, source: String, key: String): DataFrame = {
      def tableAt(path: String) = s"${table0}_${new java.io.File(path).getName}"
      val path = FixtureCache.layout(spark, "bucketed_tables", dir,
          Seq(s"$source.parquet"), "buckets" -> Buckets, "key" -> key) { path =>
        spark.read.parquet(s"$dir/$source.parquet")
          .write.bucketBy(Buckets, key).sortBy(key)
          .option("path", path)
          .mode("overwrite").saveAsTable(tableAt(path))
      }
      val table = tableAt(path)
      if (!spark.catalog.tableExists(table)) {
        val ddl = spark.read.parquet(path).schema.toDDL
        spark.sql(
          s"""CREATE TABLE $table ($ddl) USING parquet
             |CLUSTERED BY ($key) SORTED BY ($key) INTO $Buckets BUCKETS
             |LOCATION '$path'""".stripMargin)
      }
      spark.table(table)
    }

    (ensure("graft_li_bkt", "lineitem", "l_orderkey"),
      ensure("graft_ord_bkt", "orders", "o_orderkey"))
  }

  /** the co-located join itself (pre-aggregation), for plan assertions */
  def colocatedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (li, ord) = bucketedTables(spark, dir)
    li.hint("MERGE").join(ord, col("l_orderkey") === col("o_orderkey"))
  }

  private def bucketedJoin(spark: SparkSession, dir: String): DataFrame =
    colocatedJoin(spark, dir)
      .groupBy("o_orderstatus")
      .agg(
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderstatus")

  private val bucketedJoinSql =
    """SELECT o_orderstatus,
      |  CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_bucketed_join", bucketedJoin, bucketedJoinSql)
  )
}
