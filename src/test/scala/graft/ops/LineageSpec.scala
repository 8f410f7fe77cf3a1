package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The lineage walk on constructed plans with known truth: identity
  * projection, a cross-table expression, a window function (whose
  * value legitimately depends on its partitioning column), and a
  * multi-hop alias chain.
  */
class LineageSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  /** the MV-served tests' session: its rollups reach no other suite */
  private lazy val mvSpark = SparkTestSession.spark.newSession()
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    Lineage.of(spark, df).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("bare projection is identity lineage") {
    val df = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    assert(rows(df) == Set(
      ("o_orderkey", "orders", "o_orderkey"),
      ("o_custkey", "orders", "o_custkey")))
  }

  test("cross-table expression names both sources") {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val df = o.join(c, col("o_custkey") === col("c_custkey"))
      .select((col("o_totalprice") + col("c_acctbal")).as("mix"))
    assert(rows(df) == Set(
      ("mix", "orders", "o_totalprice"),
      ("mix", "customer", "c_acctbal")))
  }

  test("window output depends on its argument AND partitioning column") {
    val df = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"),
        sum(col("o_totalprice"))
          .over(Window.partitionBy(col("o_custkey"))).as("w"))
    val r = rows(df)
    assert(r.contains(("w", "orders", "o_totalprice")))
    assert(r.contains(("w", "orders", "o_custkey")),
      "a window value depends on its partitioning")
  }

  private def kinds(df: org.apache.spark.sql.DataFrame) =
    Lineage.ofKinds(spark, df).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet

  test("kinded walk: grouping keys are control for aggregated outputs") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(kinds(df) == Set(
      ("l_returnflag", "lineitem", "l_returnflag", "value"),
      ("q", "lineitem", "l_quantity", "value"),
      ("q", "lineitem", "l_returnflag", "control")),
      s"got: ${kinds(df)}")
  }

  test("kinded walk: control is sticky through downstream value hops") {
    // rank over a partition, then arithmetic on the rank: the source
    // partition key must still reach the final output as CONTROL
    val df = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"),
        row_number().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderkey"))).as("rn"))
      .select((col("rn") * 10).as("rn10"))
    val k = kinds(df)
    assert(k.contains(("rn10", "orders", "o_custkey", "control")))
    assert(k.contains(("rn10", "orders", "o_orderkey", "control")))
    assert(!k.exists(r => r._1 == "rn10" && r._4 == "value"),
      s"row_number carries no value edges: $k")
  }

  test("multi-hop alias chains resolve to the leaf") {
    val df = spark.read.parquet(s"$dir/orders.parquet")
      .select((col("o_totalprice") * 2).as("a"))
      .select((col("a") + 1).as("b"))
      .select(col("b").as("c"))
    assert(rows(df) == Set(("c", "orders", "o_totalprice")))
  }

  private def leafPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString).mkString(",")
          case _ => "?"
        }
    }

  test("serving from an MV does not change provenance (the invariant)") {
    val served = SparkEntry.queries("ax_mv_star")(mvSpark, dir)
    // the plan that executes reads the rollup fixture, not the bases
    assert(leafPaths(served).exists(_.contains("mv_star")),
      "precondition: the gate query must actually be MV-served")
    val viaMv = Lineage.ofServed(mvSpark, served).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // the raw twin of the gate query, in a session that registered no
    // rollup (invoking the gate would register the MV)
    val rawSpark = SparkTestSession.spark.newSession()
    val li = rawSpark.read.parquet(s"$dir/lineitem.parquet")
    val ord = rawSpark.read.parquet(s"$dir/orders.parquet")
    val raw = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_returnflag") === "R")
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long")).as("disc_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority").asc)
    assert(!leafPaths(raw).exists(_.contains("mv_star")))
    val viaRaw = Lineage.of(rawSpark, raw).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(viaMv == viaRaw,
      s"served lineage must equal raw lineage:\n$viaMv\nvs\n$viaRaw")
    assert(viaMv.forall { case (_, t, _) =>
      t == "lineitem" || t == "orders" },
      s"served lineage must reach base tables only: $viaMv")
  }

  test("ofServed resolves a DSv2 scan leaf in the optimized plan") {
    // the optimized plan of a connector read is a
    // DataSourceV2ScanRelation (pushdown already ran) — the walk must
    // name the connector's table, not drop the leaf
    val q = Lineage.dsv2LineageQuery(spark, dir)
    val served = Lineage.ofServed(spark, q).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(served == Set(
      ("lang", "docs_meta", "lang"),
      ("sum_chars", "docs_meta", "n_chars")),
      s"dsv2 served lineage wrong: $served")
    // and the analyzed-plan walk agrees (of == ofServed for this query)
    val analyzed = Lineage.of(spark, q).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(analyzed == served)
  }

  test("measure origins come from the carried input names, not recovery") {
    // registration records each measure's base columns verbatim in
    // Rollup.measureInputs; mvColumnOrigins must read exactly those — a
    // rollup registered WITHOUT them yields empty measure origins (there
    // is no hash-recovery fallback anymore)
    SparkEntry.queries("ax_mv_star")(mvSpark, dir).collect()
    val mvKey = leafPaths(SparkEntry.queries("ax_mv_star")(mvSpark, dir))
      .find(_.contains("mv_star"))
    assert(mvKey.isDefined)
    val origins = graft.plans.MvRewrite.mvColumnOrigins(mvSpark, mvKey.get)
    assert(origins.isDefined)
    assert(origins.get("mv_sum_qty") == Seq(("lineitem", "l_quantity")))
    assert(origins.get("mv_disc_cents") ==
      Seq(("lineitem", "l_discount"), ("lineitem", "l_extendedprice")))
    assert(origins.get("mv_n_rows") == Nil)
  }

  test("without origin composition the executed plan cites the fixture") {
    // the negative that motivates ofServed: a naive walk of what ran
    // stops at the rollup — exactly what a dataset card must not record
    val served = SparkEntry.queries("ax_mv_star")(mvSpark, dir)
    val naiveLeaves = leafPaths(served)
    assert(naiveLeaves.exists(_.contains("mv_star")),
      "precondition: the executed plan's leaf is the fixture")
    assert(!naiveLeaves.exists(_.contains("lineitem.parquet")),
      "precondition: the fact is not in the executed plan at all")
  }
}
