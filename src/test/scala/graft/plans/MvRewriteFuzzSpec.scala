package graft.plans

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized hardening of the MV matcher. The rule participates in
  * EVERY query's optimization once installed, so a matcher bug would
  * corrupt answers far from the MV gate; this spec sweeps the lattice
  * of legal aggregate shapes (grain subsets × measure subsets × count,
  * random aliases, random result order) and asserts each one (a) fires
  * the rewrite and (b) equals the raw recompute in a session whose
  * catalog is empty — and sweeps a set of near-miss shapes that must all
  * be left alone.
  */
class MvRewriteFuzzSpec extends AnyFunSuite {

  /** this suite's session: its registrations reach no other suite */
  private lazy val spark = SparkTestSession.spark.newSession()
  /** a session that registers nothing: every plan in it stays raw */
  private lazy val rawSpark = SparkTestSession.spark.newSession()
  private val dir = "/root/testdata/sf0.001"

  private def install(): Unit =
    SparkEntry.queries("ax_mv_rewrite")(spark, dir).collect()

  private def raw: DataFrame = spark.read.parquet(s"$dir/lineitem.parquet")
  private def rawLi: DataFrame =
    rawSpark.read.parquet(s"$dir/lineitem.parquet")

  private val qty = () => sum(col("l_quantity").cast("long"))
  private val dc = () => sum(round(col("l_extendedprice") *
    (lit(1.0) - col("l_discount")) * 100).cast("long"))
  private val cnt = () => count(lit(1))

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def collectSorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  private def starJoined(s: SparkSession): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
      .join(s.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))

  private def snowJoined(s: SparkSession): DataFrame =
    starJoined(s).join(s.read.parquet(s"$dir/part.parquet"),
      col("l_partkey") === col("p_partkey"))

  test("every legal grain x measure combination rewrites and is exact") {
    install()
    val rnd = new scala.util.Random(41)
    val grains = Seq(Seq("l_returnflag"), Seq("l_linestatus"),
      Seq("l_returnflag", "l_linestatus"))
    val measurePool = Seq("q" -> qty, "d" -> dc, "n" -> cnt)
    for (grain <- grains; take <- 1 to 3) {
      val ms = rnd.shuffle(measurePool).take(take)
      val aggs = ms.map { case (tag, m) =>
        m().as(s"m_${tag}_${rnd.nextInt(100)}")
      }
      val df = raw.groupBy(grain.map(col): _*).agg(aggs.head, aggs.tail: _*)
      val p = planOf(df)
      assert(p.contains("mv_lineitem") && !p.contains("lineitem.parquet"),
        s"no rewrite for grain=$grain measures=${ms.map(_._1)}:\n$p")
      val served = collectSorted(df)
      val again = rawLi.groupBy(grain.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      assert(!planOf(again).contains("mv_lineitem"))
      assert(served == collectSorted(again),
        s"served != raw for grain=$grain measures=${ms.map(_._1)}")
    }
  }

  test("every legal STAR grain x measure combination rewrites and is exact") {
    SparkEntry.queries("ax_mv_star")(spark, dir).collect() // register star
    val rnd = new scala.util.Random(43)
    val grains = Seq(Seq("o_orderpriority"), Seq("l_returnflag"),
      Seq("o_orderpriority", "l_returnflag"))
    val measurePool = Seq("q" -> qty, "d" -> dc, "n" -> cnt)
    for (grain <- grains; take <- 1 to 3) {
      val ms = rnd.shuffle(measurePool).take(take)
      val aggs = ms.map { case (tag, m) =>
        m().as(s"s_${tag}_${rnd.nextInt(100)}")
      }
      val df = starJoined(spark).groupBy(grain.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      val p = planOf(df)
      assert(p.contains("mv_star") && !p.contains("lineitem.parquet"),
        s"no star rewrite for grain=$grain measures=${ms.map(_._1)}:\n$p")
      val served = collectSorted(df)
      val again = starJoined(rawSpark).groupBy(grain.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      assert(!planOf(again).contains("mv_star"))
      assert(served == collectSorted(again),
        s"star served != raw for grain=$grain measures=${ms.map(_._1)}")
    }
  }

  test("every JOIN-BACK dim-attribute grain rewrites and is exact") {
    SparkEntry.queries("ax_mv_star_attr")(spark, dir).collect() // FK MV
    val rnd = new scala.util.Random(47)
    // attributes no attribute-grain rollup anticipates, alone and mixed
    val grains = Seq(Seq("o_orderstatus"), Seq("o_custkey"),
      Seq("o_orderdate"), Seq("o_orderstatus", "o_custkey"))
    val measurePool = Seq("q" -> qty, "d" -> dc, "n" -> cnt)
    for (grain <- grains; take <- 1 to 3) {
      val ms = rnd.shuffle(measurePool).take(take)
      val aggs = ms.map { case (tag, m) =>
        m().as(s"j_${tag}_${rnd.nextInt(100)}")
      }
      val df = starJoined(spark).groupBy(grain.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      val p = planOf(df)
      assert(p.contains("mv_star_fk") && !p.contains("lineitem.parquet"),
        s"no join-back for grain=$grain measures=${ms.map(_._1)}:\n$p")
      val served = collectSorted(df)
      val again = starJoined(rawSpark).groupBy(grain.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      assert(!planOf(again).contains("mv_star_fk"))
      assert(served == collectSorted(again),
        s"join-back served != raw for grain=$grain " +
          s"measures=${ms.map(_._1)}")
    }
  }

  test("every SNOWFLAKE one- and two-dim grain rewrites and is exact") {
    SparkEntry.queries("ax_mv_snowflake")(spark, dir).collect()
    val rnd = new scala.util.Random(53)
    // attributes of one dim, the other, and both at once
    val grains = Seq(Seq("o_orderstatus"), Seq("p_brand"),
      Seq("o_orderstatus", "p_brand"), Seq("o_orderpriority", "p_size"),
      Seq("o_custkey", "p_brand"))
    val measurePool = Seq("q" -> qty, "d" -> dc, "n" -> cnt)
    for (grain <- grains; take <- 1 to 3) {
      val ms = rnd.shuffle(measurePool).take(take)
      val aggs = ms.map { case (tag, m) =>
        m().as(s"w_${tag}_${rnd.nextInt(100)}")
      }
      val df = snowJoined(spark).groupBy(grain.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      val p = planOf(df)
      assert(p.contains("mv_snow_fk") && !p.contains("lineitem.parquet"),
        s"no snowflake rewrite for grain=$grain " +
          s"measures=${ms.map(_._1)}:\n$p")
      val served = collectSorted(df)
      val again = snowJoined(rawSpark).groupBy(grain.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      assert(!planOf(again).contains("mv_snow_fk"))
      assert(served == collectSorted(again),
        s"snowflake served != raw for grain=$grain " +
          s"measures=${ms.map(_._1)}")
    }
  }

  test("ROLLUP over the SNOWFLAKE serves from the composite rollup") {
    SparkEntry.queries("ax_mv_snowflake")(spark, dir).collect()
    def q(s: SparkSession) = snowJoined(s)
      .rollup(col("o_orderstatus"), col("p_brand"))
      .agg(qty().as("q"), cnt().as("n"))
    val p = planOf(q(spark))
    assert(p.contains("mv_snow_fk") && !p.contains("lineitem.parquet"),
      s"two-dim ROLLUP not served from the composite grain:\n$p")
    val served = collectSorted(q(spark))
    assert(!planOf(q(rawSpark)).contains("mv_snow_fk"))
    assert(served == collectSorted(q(rawSpark)),
      "snowflake ROLLUP served != raw")
  }

  test("near-miss shapes are all left alone") {
    install()
    val blocked = Seq[DataFrame](
      // distinct aggregate
      raw.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_linestatus")).as("x")),
      // measure with a different constant (not the registered template)
      raw.groupBy(col("l_returnflag"))
        .agg(sum(round(col("l_extendedprice") *
          (lit(1.0) - col("l_discount")) * 1000).cast("long")).as("x")),
      // grouping expression, not a bare column
      raw.groupBy(upper(col("l_returnflag")).as("g"))
        .agg(qty().as("x")),
      // global aggregate (no grouping keys)
      raw.agg(qty().as("x")),
      // aggregate over a self-union (not a bare scan)
      raw.unionByName(raw).groupBy(col("l_returnflag")).agg(qty().as("x")))
    blocked.zipWithIndex.foreach { case (df, i) =>
      assert(!planOf(df).contains("mv_lineitem"),
        s"near-miss #$i was wrongly rewritten:\n${planOf(df)}")
    }
  }
}
