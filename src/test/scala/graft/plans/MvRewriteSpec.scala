package graft.plans

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The MV rewrite must fire exactly when it is allowed to — and NEVER
  * otherwise. Positive pins: the gate query's executed plan reads the
  * rollup fixture and touches the raw fact zero times, at both the
  * coarser and the exact grain. Negative pins: a filter, an unsupported
  * aggregate, or a non-dimension grouping key each force the raw scan.
  * Exactness: the served answer equals a raw recompute taken in a
  * session whose catalog is empty.
  */
class MvRewriteSpec extends AnyFunSuite {

  /** this suite's session: its registrations reach no other suite */
  private lazy val spark = SparkTestSession.spark.newSession()
  /** a session that registers nothing: every plan in it stays raw */
  private lazy val rawSpark = SparkTestSession.spark.newSession()
  private val dir = "/root/testdata/sf0.001"

  /** a fresh session holding only these gates' rollups */
  private def servedBy(gates: String*): SparkSession = {
    val s = SparkTestSession.spark.newSession()
    gates.foreach(g => SparkEntry.queries(g)(s, dir))
    s
  }

  private def gate() = SparkEntry.queries("ax_mv_rewrite")(spark, dir)

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("gate query is served from the MV, raw fact never scanned") {
    val p = planOf(gate())
    assert(p.contains("mv_lineitem"), s"MV fixture not in plan:\n$p")
    assert(!p.contains("lineitem.parquet"),
      s"raw fact scan survived the rewrite:\n$p")
  }

  test("exact-grain query (both dims) also rewrites, with count(*)") {
    gate() // registers the MV
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("long")).as("q"),
        count(lit(1)).as("n"))
    val p = planOf(df)
    assert(p.contains("mv_lineitem") && !p.contains("lineitem.parquet"))
  }

  test("served answer equals a raw recompute (catalog cleared)") {
    val served = gate().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val raw = rawSpark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long")).as("disc_cents"),
        count(lit(1)).as("n_lines"))
    assert(!planOf(raw).contains("mv_lineitem"),
      "an empty catalog must not rewrite")
    val expect = raw.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(served.sameElements(expect))
  }

  test("a measure-column filter blocks the rewrite") {
    gate()
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(!planOf(df).contains("mv_lineitem"),
      "a measure-filtered query must not be served by the unfiltered grain")
  }

  test("a dimension-only filter is served from the MV (ax_mv_filter)") {
    val df = SparkEntry.queries("ax_mv_filter")(spark, dir)
    val p = planOf(df)
    assert(p.contains("mv_lineitem") && !p.contains("lineitem.parquet"),
      s"dim-filtered query not served from the rollup:\n$p")
  }

  test("an unsupported aggregate blocks the rewrite") {
    gate()
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(avg(col("l_quantity")).as("a"))
    assert(!planOf(df).contains("mv_lineitem"),
      "avg is not derivable from the registered measures")
  }

  test("a non-dimension grouping key blocks the rewrite") {
    gate()
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_shipdate"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(!planOf(df).contains("mv_lineitem"),
      "l_shipdate is not in the rollup grain")
  }

  test("the SQL front door is served from the MV too") {
    val p = planOf(SparkEntry.queries("sq_mv_serve_sql")(spark, dir))
    assert(p.contains("mv_lineitem"), s"SQL text not served from MV:\n$p")
    assert(!p.contains("lineitem.parquet"),
      s"raw fact scan survived the SQL-side rewrite:\n$p")
  }

  test("the min/max SQL twin is served from the MV too") {
    val p = planOf(SparkEntry.queries("sq_mv_minmax_sql")(spark, dir))
    assert(p.contains("mv_lineitem"),
      s"min/max SQL text not served from MV:\n$p")
    assert(!p.contains("lineitem.parquet"),
      s"raw fact scan survived the min/max SQL-side rewrite:\n$p")
  }

  test("star upkeep reads the stored join rollup and joins only the delta slice") {
    val df = SparkEntry.queries("ax_mv_star_delta")(spark, dir)
    val p = planOf(df)
    assert(p.contains("mv_star_pre"), s"stored star rollup not read:\n$p")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"delta slice filter not pushed to the fact scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the delta must acquire its grain via a broadcast dim join:\n$p")
  }

  test("incremental upkeep reads the stored rollup and only the delta slice") {
    val df = SparkEntry.queries("ax_mv_delta")(spark, dir)
    val p = planOf(df)
    assert(p.contains("mv_lineitem_pre"), s"stored rollup not read:\n$p")
    // the fact scan must carry the pushed post-cut shipdate predicate
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"delta slice filter not pushed to the fact scan:\n$p")
  }

  test("a nondeterministic filter blocks the rewrite") {
    gate()
    // rand() < p is NONDETERMINISTIC and references no column —
    // remapping it onto the rollup would sample whole MV groups instead
    // of raw rows; the matcher must leave it alone. (An out-of-range
    // constant like 2.0 won't do: Spark 4 folds that comparison away
    // before the MV rule ever sees the filter.)
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(rand(7) < lit(0.5))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(!planOf(df).contains("mv_lineitem"),
      "a nondeterministic filter must not be remapped onto the rollup")
  }

  /** the name-normalized optimized template of `sum(cast(c as long))`'s
    * input over the parquet table at `path`
    */
  private def longTemplate(s: SparkSession, path: String, c: String) = {
    import org.apache.spark.sql.catalyst.expressions.{Alias => CAlias}
    import org.apache.spark.sql.catalyst.plans.logical.{Project => CProject}
    val plan = s.read.parquet(path).select(col(c).cast("long").as("m"))
      .queryExecution.optimizedPlan
    MvRewrite.normalize(plan.collectFirst {
      case CProject(Seq(CAlias(child, _)), _) => child
    }.get)
  }

  test("a rewritten base (stale registration) blocks the rewrite") {
    val s = SparkTestSession.spark.newSession()
    val basePath = new java.io.File("target/mvfresh_base").getAbsolutePath
    val mvPath = new java.io.File("target/mvfresh_mv").getAbsolutePath
    s.read.parquet(s"$dir/lineitem.parquet").limit(500)
      .write.mode("overwrite").parquet(basePath)
    s.read.parquet(basePath)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("long")).as("mv_q"),
        count(lit(1)).as("mv_n"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.register(s, MvRewrite.Rollup(
      fact = MvRewrite.keyFor(s, basePath), dims = Nil,
      grain = Seq("l_returnflag"),
      sums = Seq("mv_q" -> longTemplate(s, basePath, "l_quantity")),
      countCol = "mv_n", path = mvPath))
    def q = s.read.parquet(basePath)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(planOf(q).contains("mvfresh_mv"),
      s"fresh registration must serve from the MV:\n${planOf(q)}")
    // rewrite the base AFTER registration: the stamp check must now
    // fail the match — serving the old rollup would be silently stale
    Thread.sleep(1200) // local FS mtimes can be coarse-grained
    s.read.parquet(s"$dir/lineitem.parquet").limit(400)
      .write.mode("overwrite").parquet(basePath)
    assert(!planOf(q).contains("mvfresh_mv"),
      "a base rewritten after registration must fall back to the raw scan")
  }

  // ----- join-aware (star) MV serving ---------------------------------

  private def li = spark.read.parquet(s"$dir/lineitem.parquet")
  private def ord = spark.read.parquet(s"$dir/orders.parquet")
  private def rawLi = rawSpark.read.parquet(s"$dir/lineitem.parquet")
  private def rawOrd = rawSpark.read.parquet(s"$dir/orders.parquet")

  test("the star gate is served from the join rollup: zero fact/dim bytes") {
    val df = SparkEntry.queries("ax_mv_star")(spark, dir)
    val p = planOf(df)
    assert(p.contains("mv_star"), s"star MV not in plan:\n$p")
    assert(!p.contains("lineitem.parquet") && !p.contains("orders.parquet"),
      s"raw scan survived the star rewrite:\n$p")
    assert(!p.contains("Join"), s"a join survived the star rewrite:\n$p")
  }

  test("star serving is exact: equals the raw join recompute") {
    val served = SparkEntry.queries("ax_mv_star")(spark, dir).collect()
      .map(_.toSeq).sortBy(_.mkString("|"))
    val raw = rawLi.join(rawOrd, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_returnflag") === "R")
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long")).as("disc_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority").asc)
    assert(!planOf(raw).contains("mv_star"))
    val expect = raw.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(served.sameElements(expect), "star MV answer diverged from raw")
  }

  test("a non-registered join key blocks the star rewrite") {
    SparkEntry.queries("ax_mv_star")(spark, dir)
    // joining fact to dim on the WRONG columns must never be served
    val df = li.join(ord, col("l_suppkey") === col("o_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(!planOf(df).contains("mv_star"),
      "a non-FK join must not be served from the star rollup")
  }

  test("a measure-column filter blocks the star rewrite") {
    SparkEntry.queries("ax_mv_star")(spark, dir)
    val df = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_quantity") > 10)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(!planOf(df).contains("mv_star"),
      "a measure-filtered star query must not be served by the rollup")
  }

  test("a dim-table non-grain filter blocks the star rewrite") {
    // scoped to the attribute-grain MV ALONE: once an FK-grain rollup
    // is also registered this exact query is legitimately served by
    // join-back (pinned below), so the negative is "no FK grain"
    val s = servedBy("ax_mv_star")
    val df = s.read.parquet(s"$dir/lineitem.parquet")
      .join(s.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(!planOf(df).contains("mv_star"),
      "o_orderstatus is not in the star grain")
  }

  test("a third join blocks the star rewrite") {
    SparkEntry.queries("ax_mv_star")(spark, dir)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val df = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(!planOf(df).contains("mv_star"),
      "a query joining beyond the registered star must keep its raw plan")
  }

  test("an outer join blocks the star rewrite") {
    SparkEntry.queries("ax_mv_star")(spark, dir)
    val df = li.join(ord, col("l_orderkey") === col("o_orderkey"),
        "left_outer")
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(!planOf(df).contains("mv_star"),
      "the MV materialized an INNER join; an outer join must not be served")
  }

  test("the star rewrite fires through the SQL front door too") {
    SparkEntry.queries("ax_mv_star")(spark, dir)
    li.createOrReplaceTempView("mv_star_li")
    ord.createOrReplaceTempView("mv_star_ord")
    val df = spark.sql(
      """SELECT o_orderpriority,
        |  SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
        |  COUNT(*) AS n_lines
        |FROM mv_star_li JOIN mv_star_ord
        |  ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    val p = planOf(df)
    assert(p.contains("mv_star") && !p.contains("lineitem.parquet"),
      s"SQL-text star aggregate not served from the join rollup:\n$p")
  }

  test("a rewritten DIM base makes the star registration stale") {
    // the star's freshness is the PAIR of stamps: rewriting the dim
    // alone must fail the match even though the fact is untouched
    val s = SparkTestSession.spark.newSession()
    val factPath = new java.io.File("target/mvstar_fact").getAbsolutePath
    val dimPath = new java.io.File("target/mvstar_dim").getAbsolutePath
    val mvPath = new java.io.File("target/mvstar_mini_mv").getAbsolutePath
    val sLi = s.read.parquet(s"$dir/lineitem.parquet")
    val sOrd = s.read.parquet(s"$dir/orders.parquet")
    sLi.limit(500).write.mode("overwrite").parquet(factPath)
    sOrd.select(col("o_orderkey"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(dimPath)
    s.read.parquet(factPath)
      .join(s.read.parquet(dimPath),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity").cast("long")).as("mv_q"),
        count(lit(1)).as("mv_n"))
      .write.mode("overwrite").parquet(mvPath)
    MvRewrite.register(s, MvRewrite.Rollup(
      fact = MvRewrite.keyFor(s, factPath),
      dims = Seq(MvRewrite.Dim(MvRewrite.keyFor(s, dimPath),
        "l_orderkey", "o_orderkey", live = false)),
      grain = Seq("o_orderpriority"),
      sums = Seq("mv_q" -> longTemplate(s, factPath, "l_quantity")),
      countCol = "mv_n", path = mvPath))
    def q = s.read.parquet(factPath)
      .join(s.read.parquet(dimPath),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(planOf(q).contains("mvstar_mini_mv"),
      s"fresh star registration must serve:\n${planOf(q)}")
    Thread.sleep(1200) // local FS mtimes can be coarse-grained
    sOrd.select(col("o_orderkey"), col("o_orderpriority")).limit(400)
      .write.mode("overwrite").parquet(dimPath)
    assert(!planOf(q).contains("mvstar_mini_mv"),
      "a dim rewritten after registration must fall back to the raw join")
  }

  test("the coarser single-side grain is served from the star rollup") {
    SparkEntry.queries("ax_mv_star")(spark, dir)
    // group by the FACT-side grain column only, no filter, count(*) too
    val df = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("long")).as("q"),
        count(lit(1)).as("n"))
    val p = planOf(df)
    assert(p.contains("mv_star") && !p.contains("lineitem.parquet"),
      s"coarser star grain not served:\n$p")
  }

  test("a measure the MV does not carry blocks the rewrite") {
    gate()
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_tax").cast("long")).as("t"))
    assert(!planOf(df).contains("mv_lineitem"),
      "sum(l_tax) has no pre-summed MV column")
  }

  // ----- join-back (FK-grain) star serving ----------------------------

  test("ax_mv_star_attr is served by join-back: rollup x dim, zero fact") {
    val df = SparkEntry.queries("ax_mv_star_attr")(spark, dir)
    val p = planOf(df)
    assert(p.contains("mv_star_fk"), s"FK rollup not in plan:\n$p")
    assert(!p.contains("lineitem.parquet"),
      s"fact scan survived the join-back rewrite:\n$p")
    assert(p.contains("orders.parquet"),
      "join-back must read the LIVE dim to derive the attribute")
  }

  test("join-back serving is exact: equals the raw join recompute") {
    val served = SparkEntry.queries("ax_mv_star_attr")(spark, dir).collect()
      .map(_.toSeq).sortBy(_.mkString("|"))
    val raw = rawLi.join(rawOrd, col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderpriority") =!= "3-MEDIUM")
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long")).as("disc_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderstatus").asc)
    assert(!planOf(raw).contains("mv_star_fk"))
    val expect = raw.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(served.sameElements(expect),
      "join-back answer diverged from the raw join recompute")
  }

  test("ANY dim attribute is servable from the one FK-grain rollup") {
    SparkEntry.queries("ax_mv_star_attr")(spark, dir)
    // an attribute no registered attribute-grain anticipates
    val df = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("l_quantity").cast("long")).as("q"),
        count(lit(1)).as("n"))
    val p = planOf(df)
    assert(p.contains("mv_star_fk") && !p.contains("lineitem.parquet"),
      s"o_custkey grouping not served by join-back:\n$p")
  }

  test("a grain WITHOUT the FK cannot serve a dim attribute (negative)") {
    val s = servedBy("ax_mv_star") // op_rf grain only
    val df = s.read.parquet(s"$dir/lineitem.parquet")
      .join(s.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(!planOf(df).contains("mv_star"),
      "o_orderstatus is not functionally determined by the op_rf grain")
  }

  test("join-back fires through the SQL front door too (zero fact bytes)") {
    val df = SparkEntry.queries("sq_mv_attr_sql")(spark, dir)
    val p = planOf(df)
    assert(p.contains("mv_star_fk") && !p.contains("lineitem.parquet"),
      s"SQL-text dim-attribute aggregate not served by join-back:\n$p")
  }

  test("a non-grain FACT filter blocks join-back too") {
    SparkEntry.queries("ax_mv_star_attr")(spark, dir)
    // l_returnflag is lost at the FK grain; the rollup cannot apply it
    val df = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_returnflag") === "R")
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(!planOf(df).contains("mv_star_fk"),
      "a fact filter below the FK grain must force the raw plan")
  }

  // ----- snowflake (composite-FK, multi-dim) join-back -----------------

  private def snowJoined(s: SparkSession) =
    s.read.parquet(s"$dir/lineitem.parquet")
      .join(s.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .join(s.read.parquet(s"$dir/part.parquet"),
        col("l_partkey") === col("p_partkey"))

  test("ax_mv_snowflake is served: rollup x two live dims, zero fact") {
    val df = SparkEntry.queries("ax_mv_snowflake")(spark, dir)
    val p = planOf(df)
    assert(p.contains("mv_snow_fk"), s"composite rollup not in plan:\n$p")
    assert(!p.contains("lineitem.parquet"),
      s"fact scan survived the snowflake rewrite:\n$p")
    assert(p.contains("orders.parquet") && p.contains("part.parquet"),
      "both LIVE dims must be re-joined to derive their attributes")
  }

  test("snowflake serving is exact: equals the raw three-table recompute") {
    val served = SparkEntry.queries("ax_mv_snowflake")(spark, dir)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val raw = snowJoined(rawSpark)
      .filter(col("o_orderpriority") =!= "3-MEDIUM" && col("p_size") < 25)
      .groupBy(col("o_orderstatus"), col("p_brand"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long")).as("disc_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderstatus").asc, col("p_brand").asc)
    assert(!planOf(raw).contains("mv_snow_fk"))
    val expect = raw.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(served.sameElements(expect),
      "snowflake answer diverged from the raw recompute")
  }

  test("one-dim groupings over the three-table join serve from the composite rollup") {
    SparkEntry.queries("ax_mv_snowflake")(spark, dir)
    val byPart = snowJoined(spark).groupBy(col("p_brand"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    val p = planOf(byPart)
    assert(p.contains("mv_snow_fk") && !p.contains("lineitem.parquet"),
      s"p_brand grouping not served from the composite grain:\n$p")
  }

  test("a composite grain missing one FK keeps the raw plan (negative)") {
    val s = SparkTestSession.spark.newSession()
    MvRewrite.register(s, MvRewrite.Rollup(
      fact = MvRewrite.keyFor(s, s"$dir/lineitem.parquet"),
      dims = Seq(
        MvRewrite.Dim(MvRewrite.keyFor(s, s"$dir/orders.parquet"),
          "l_orderkey", "o_orderkey", live = true),
        MvRewrite.Dim(MvRewrite.keyFor(s, s"$dir/part.parquet"),
          "l_partkey", "p_partkey", live = true)),
      grain = Seq("l_orderkey"), // l_partkey NOT in the grain
      sums = Nil, countCol = "mv_n_rows",
      path = s"$dir/lineitem.parquet"))
    val df = snowJoined(s).groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"))
    val p = planOf(df)
    assert(p.contains("lineitem.parquet"),
      s"a grain without l_partkey cannot determine part attributes:\n$p")
  }

  test("a fourth table in the join blocks the snowflake rewrite") {
    SparkEntry.queries("ax_mv_snowflake")(spark, dir)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val df = snowJoined(spark)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("p_brand"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(!planOf(df).contains("mv_snow_fk"),
      "an unregistered fourth table must fall back to raw")
  }

  // ----- grouping sets above the star (Aggregate over Expand) ----------

  test("ax_mv_rollup_sets is served: ROLLUP over the star, zero fact") {
    val df = SparkEntry.queries("ax_mv_rollup_sets")(spark, dir)
    val p = planOf(df)
    assert(p.contains("mv_star_fk"), s"FK rollup not in plan:\n$p")
    assert(!p.contains("lineitem.parquet"),
      s"fact scan survived the grouping-sets rewrite:\n$p")
    assert(p.contains("Expand"),
      "the grouping-sets structure must be preserved, not unrolled")
  }

  test("grouping-sets serving is exact, including the grand total") {
    val served = SparkEntry.queries("ax_mv_rollup_sets")(spark, dir)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val raw = rawLi.join(rawOrd, col("l_orderkey") === col("o_orderkey"))
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long")).as("disc_cents"),
        count(lit(1)).as("n_lines"))
    assert(!planOf(raw).contains("mv_star_fk"))
    val expect = raw.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(served.sameElements(expect),
      "grouping-sets answer diverged from the raw recompute")
  }

  test("a grouping set with a non-determined fact column keeps raw") {
    SparkEntry.queries("ax_mv_rollup_sets")(spark, dir)
    // l_returnflag is lost at the FK grain: no set containing it can
    // be derived from the rollup
    val df = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .rollup(col("o_orderstatus"), col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    assert(!planOf(df).contains("mv_star_fk"),
      "a non-grain fact column in a grouping set must force raw")
  }

  test("CUBE and grouping_id() are served through the same path") {
    SparkEntry.queries("ax_mv_rollup_sets")(spark, dir)
    def cube(l: DataFrame, o: DataFrame) =
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
    val df = cube(li, ord)
    val p = planOf(df)
    assert(p.contains("mv_star_fk") && !p.contains("lineitem.parquet"),
      s"CUBE not served:\n$p")
    val served = df.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val raw = cube(rawLi, rawOrd)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(served.sameElements(raw), "CUBE served != raw")
  }

  test("snowflake and grouping-sets rewrites fire through the SQL front door") {
    val snow = SparkEntry.queries("sq_mv_snow_sql")(spark, dir)
    val ps = planOf(snow)
    assert(ps.contains("mv_snow_fk") && !ps.contains("lineitem.parquet"),
      s"SQL-text snowflake aggregate not served:\n$ps")
    val sets = SparkEntry.queries("sq_mv_sets_sql")(spark, dir)
    val pr = planOf(sets)
    assert(pr.contains("mv_star_fk") && !pr.contains("lineitem.parquet"),
      s"SQL-text ROLLUP not served:\n$pr")
    assert(pr.contains("Expand"))
  }

  /** a fresh directory under target/ for a hand-made star fixture */
  private def freshDir(name: String): java.io.File = {
    val base = new java.io.File(s"target/$name").getAbsoluteFile
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    base
  }

  test("same-named fact/dim columns resolve by side of origin, not name") {
    // fact(fk, tag) ⋈ dim(pk, tag): grouping by the FACT's tag (lost at
    // the FK grain) must keep the raw plan; grouping by the DIM's tag
    // (same NAME, dim origin) must be served — the name-only resolver
    // this pins against would have silently remapped the fact's tag to
    // the dim and returned wrong results
    val s = SparkTestSession.spark.newSession()
    import s.implicits._
    val base = freshDir("mv_dupname")
    val factP = s"$base/fact.parquet"
    val dimP = s"$base/dim.parquet"
    val mvP = s"$base/mv.parquet"
    Seq((1L, "a"), (1L, "b"), (2L, "a"), (3L, "c"))
      .toDF("fk", "tag").write.parquet(factP)
    Seq((1L, "x"), (2L, "y"), (3L, "x"))
      .toDF("pk", "tag").write.parquet(dimP)
    s.read.parquet(factP).groupBy(col("fk"))
      .agg(count(lit(1)).as("mv_n_rows")).write.parquet(mvP)
    MvRewrite.register(s, MvRewrite.Rollup(
      fact = MvRewrite.keyFor(s, factP),
      dims = Seq(MvRewrite.Dim(MvRewrite.keyFor(s, dimP), "fk", "pk",
        live = true)),
      grain = Seq("fk"), sums = Nil, countCol = "mv_n_rows", path = mvP))
    val fact = s.read.parquet(factP)
    val dim = s.read.parquet(dimP)
    val joined = fact.join(dim, col("fk") === col("pk"))
    val byFactTag = joined.groupBy(fact("tag"))
      .agg(count(lit(1)).as("n"))
    assert(!planOf(byFactTag).contains("mv.parquet"),
      "the fact's tag is not in the grain: must keep the raw plan")
    assert(byFactTag.collect().map(r =>
      (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 2L), ("b", 1L), ("c", 1L)))
    val byDimTag = joined.groupBy(dim("tag"))
      .agg(count(lit(1)).as("n"))
    val p = planOf(byDimTag)
    assert(p.contains("mv.parquet") && !p.contains("fact.parquet"),
      s"the dim's tag must be served by join-back:\n$p")
    assert(byDimTag.collect().map(r =>
      (r.getString(0), r.getLong(1))).toSet ==
      Set(("x", 3L), ("y", 1L)))
  }

  test("a fact-only FK rollup never answers a dim join without the join (orphan and null FKs)") {
    // the rollup is fact GROUP BY fk, built WITHOUT the inner join: its
    // fk=2 (orphan) and fk=null groups are rows the join drops, so
    // `fact ⋈ dim GROUP BY fk` may be served only by re-joining the dim
    // (join-back) or left raw — a bare rollup scan would leak them
    val s = SparkTestSession.spark.newSession()
    import s.implicits._
    val base = freshDir("mv_orphan_fk")
    val factP = s"$base/fact.parquet"
    val dimP = s"$base/dim.parquet"
    val mvP = s"$base/mv.parquet"
    Seq((Some(1L), 1L), (Some(1L), 2L), (Some(2L), 5L), (None, 7L))
      .toDF("fk", "q").write.parquet(factP)
    Seq(1L).toDF("dk").write.parquet(dimP)
    s.read.parquet(factP).groupBy(col("fk"))
      .agg(sum(col("q")).as("mv_q"), count(lit(1)).as("mv_n"))
      .write.parquet(mvP)
    MvRewrite.register(s, MvRewrite.Rollup(
      fact = MvRewrite.keyFor(s, factP),
      dims = Seq(MvRewrite.Dim(MvRewrite.keyFor(s, dimP), "fk", "dk",
        live = true)),
      grain = Seq("fk"), sums = Seq("mv_q" -> longTemplate(s, factP, "q")),
      countCol = "mv_n", path = mvP))
    def q(on: SparkSession) = on.read.parquet(factP)
      .join(on.read.parquet(dimP), col("fk") === col("dk"))
      .groupBy(col("fk"))
      .agg(sum(col("q")).as("q"), count(lit(1)).as("n"))
    val p = planOf(q(s))
    assert(!p.contains("mv.parquet") ||
      (p.contains("dim.parquet") && !p.contains("fact.parquet")),
      s"served by a bare rollup scan, without the inner join:\n$p")
    val rows = (df: DataFrame) => df.collect().map(r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1),
        r.getLong(2))).toSet
    assert(rows(q(rawSpark)) == Set((Some(1L), 3L, 2L)))
    assert(rows(q(s)) == rows(q(rawSpark)),
      "the served answer must equal the raw join's rows")
  }
}
