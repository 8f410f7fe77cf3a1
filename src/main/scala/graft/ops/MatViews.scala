package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

import graft.plans.MvRewrite
import graft.Gate

/** Materialized-view serving over the lineitem fact (SURVEY.md §2b
  * maintenance/storage tier + the plans/MvRewrite optimizer rule).
  *
  * The rollup is built ONCE per source generation as a disk layout
  * ([[FixtureCache.layout]]) at the (l_returnflag, l_linestatus) grain with
  * two pre-summed measures and the row count; the gate query then asks
  * the RAW table the coarser l_returnflag question, and the installed
  * rewrite rule serves it from the rollup — MvRewriteSpec pins that the
  * executed plan reads the MV fixture and never touches
  * lineitem.parquet. The DuckDB oracle computes the same answer from
  * the raw table, so the gate proves the rewrite is exact, not just
  * plan-shaped.
  */
object MatViews {

  /** The measure expressions, shared verbatim by the MV builder, the
    * rewrite registration, and the gate query — the rule matches by
    * canonical expression equality, so all three must be one source of
    * truth.
    */
  private def qtyLong(c: Column): Column = c.cast("long")
  private def discCents(price: Column, disc: Column): Column =
    round(price * (lit(1.0) - disc) * 100).cast("long")

  /** Write-once (l_returnflag, l_linestatus) rollup fixture. */
  private def mvLineitemPath(spark: SparkSession, dir: String): String =
    FixtureCache.layout(spark, "mv_lineitem", dir, Seq("lineitem.parquet"),
        "grain" -> "rf_ls", "v" -> 2) { path =>
      spark.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(qtyLong(col("l_quantity"))).as("mv_sum_qty"),
          sum(discCents(col("l_extendedprice"), col("l_discount")))
            .as("mv_disc_cents"),
          max(qtyLong(col("l_quantity"))).as("mv_max_qty"),
          min(qtyLong(col("l_quantity"))).as("mv_min_qty"),
          count(lit(1)).as("mv_n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
    }

  /** Register a lineitem rollup at `path` with this session's MV rule:
    * the two shared sums and the row count, plus the quantity's max and
    * min when the rollup stores them. Each measure's template is the
    * name-normalized OPTIMIZED form of its Column over the fact —
    * exactly what the rule will see under `sum(...)` in a user plan
    * (constant folding and implicit casts already applied) — and its
    * input columns are recorded verbatim for lineage.
    */
  private def registerRollup(spark: SparkSession, dir: String, path: String,
      grain: Seq[String], dims: Seq[MvRewrite.Dim],
      extremes: Boolean = false): Unit = {
    val fact = s"$dir/lineitem.parquet"
    def measure(c: Column): Expression =
      spark.read.parquet(fact).select(c.as("m")).queryExecution.optimizedPlan
        .collectFirst { case Project(Seq(Alias(child, _)), _) => child }
        .getOrElse(sys.error(s"measure $c did not optimize to a single-alias Project"))
    val qty = measure(qtyLong(col("l_quantity")))
    val disc = measure(discCents(col("l_extendedprice"), col("l_discount")))
    val sums = Seq("mv_sum_qty" -> qty, "mv_disc_cents" -> disc)
    val maxes = if (extremes) Seq("mv_max_qty" -> qty) else Nil
    val mins = if (extremes) Seq("mv_min_qty" -> qty) else Nil
    def templates(ms: Seq[(String, Expression)]) =
      ms.map { case (c, m) => c -> MvRewrite.normalize(m) }
    MvRewrite.register(spark, MvRewrite.Rollup(
      fact = MvRewrite.keyFor(spark, fact),
      dims = dims,
      grain = grain,
      sums = templates(sums),
      countCol = "mv_n_rows",
      path = path,
      maxes = templates(maxes),
      mins = templates(mins),
      measureInputs = (sums ++ maxes ++ mins).map { case (c, m) =>
        c -> m.references.map(_.name).toSeq.distinct.sorted
      }.toMap))
  }

  /** `table` as a dim of a lineitem rollup, joined on `factCol = dimCol` */
  private def dim(spark: SparkSession, dir: String, table: String,
      factCol: String, dimCol: String, live: Boolean): MvRewrite.Dim =
    MvRewrite.Dim(MvRewrite.keyFor(spark, s"$dir/$table.parquet"),
      factCol, dimCol, live)

  /** Build + register the MV for this dir with the session's rule. */
  private[ops] def serveFromMv(spark: SparkSession, dir: String): Unit =
    registerRollup(spark, dir, mvLineitemPath(spark, dir),
      grain = Seq("l_returnflag", "l_linestatus"), dims = Nil,
      extremes = true)

  // -------------------------------------------------------------------
  // ax_mv_rewrite: the user asks the RAW fact table a question the MV
  // grain subsumes (group by l_returnflag alone — coarser than the
  // rollup's two-dimension grain, so the MV re-aggregates). At 100 TB
  // the difference is a full fact scan vs a few-hundred-row summary
  // read; the oracle answers from the raw table, proving exactness.
  // -------------------------------------------------------------------
  private def mvRewrite(spark: SparkSession, dir: String): DataFrame = {
    serveFromMv(spark, dir)
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(qtyLong(col("l_quantity"))).as("sum_qty"),
        sum(discCents(col("l_extendedprice"), col("l_discount")))
          .as("disc_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag").asc)
  }

  private[ops] val mvRewriteSql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100)
      |    AS BIGINT)) AS BIGINT) AS disc_cents,
      |  COUNT(*) AS n_lines
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_mv_filter: a DIM-FILTERED raw-table question served by the same
  // rollup — the predicate selects whole MV groups (l_linestatus is a
  // grain column), so the rule maps it onto the rollup verbatim and
  // re-aggregates the coarser key. At 100 TB: a predicate + group-by
  // the user writes against the fact costs a summary read.
  // -------------------------------------------------------------------
  private def mvFilter(spark: SparkSession, dir: String): DataFrame = {
    serveFromMv(spark, dir)
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(qtyLong(col("l_quantity"))).as("sum_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag").asc)
  }

  private val mvFilterSql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem WHERE l_linestatus = 'F'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_mv_delta: INCREMENTAL maintenance of the same rollup — the third
  // leg of the MV story (build once / serve via the rewrite rule /
  // maintain from the delta). The stored rollup holds everything
  // shipped BEFORE the cut (a write-once fixture standing in for
  // yesterday's MV); at query time only the post-cut slice of the fact
  // is aggregated (at 100 TB: the new partitions), and the merge is
  // `stored ∪ delta → re-aggregate` — sum/count are distributive, so
  // upkeep work is Θ(delta + |MV|), never a fact re-scan. The oracle
  // computes the full-table rollup directly, proving the incremental
  // path lands on EXACTLY the batch answer.
  // -------------------------------------------------------------------
  private[ops] val DeltaCut = "2001-06-01"

  private[ops] def mvPreCutPath(spark: SparkSession, dir: String): String =
    FixtureCache.layout(spark, "mv_lineitem_pre", dir, Seq("lineitem.parquet"),
        "grain" -> "rf_ls", "cut" -> DeltaCut, "v" -> 1) { path =>
      rollup(spark.read.parquet(s"$dir/lineitem.parquet")
          .filter(col("l_shipdate") < lit(DeltaCut)))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
    }

  /** the (l_returnflag, l_linestatus) rollup of a lineitem slice */
  private[ops] def rollup(li: DataFrame): DataFrame = li
    .groupBy(col("l_returnflag"), col("l_linestatus"))
    .agg(
      sum(qtyLong(col("l_quantity"))).as("mv_sum_qty"),
      sum(discCents(col("l_extendedprice"), col("l_discount")))
        .as("mv_disc_cents"),
      count(lit(1)).as("mv_n_rows"))

  private def mvDelta(spark: SparkSession, dir: String): DataFrame = {
    val stored = spark.read.parquet(mvPreCutPath(spark, dir))
    val delta = rollup(spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") >= lit(DeltaCut)))
    stored.unionByName(delta)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("mv_sum_qty")).as("mv_sum_qty"),
        sum(col("mv_disc_cents")).as("mv_disc_cents"),
        sum(col("mv_n_rows")).as("mv_n_rows"))
      .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)
  }

  private val mvDeltaSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS mv_sum_qty,
      |  CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100)
      |    AS BIGINT)) AS BIGINT) AS mv_disc_cents,
      |  COUNT(*) AS mv_n_rows
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_mv_star: JOIN-AWARE MV serving — the rollup is materialized over
  // the FK star join lineitem ⋈ orders at a grain drawn from BOTH sides
  // (o_orderpriority from the dim, l_returnflag from the fact), and the
  // user's aggregate-above-the-join is served from it: zero fact bytes,
  // zero dim bytes, zero join at query time. This is the single most
  // common real-world MV shape (an aggregate over a star join); at
  // 100 TB the difference is a fact-scan + shuffle join vs a read of a
  // ~15-row summary. The matcher pins the join exactly (inner, the
  // registered equi-pair) and absorbs only the IsNotNull(join key)
  // conjuncts the optimizer infers — anything else falls back to raw.
  // The oracle computes the same answer from the raw join.
  // -------------------------------------------------------------------
  /** The fixture is keyed by EVERY base it embeds (fact AND dim), or a
    * regenerated dim would silently serve stale attributes.
    */
  private def mvStarPath(spark: SparkSession, dir: String): String =
    FixtureCache.layout(spark, "mv_star", dir,
        Seq("lineitem.parquet", "orders.parquet"),
        "grain" -> "op_rf", "v" -> 2) { path =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority"))
      li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(
          sum(qtyLong(col("l_quantity"))).as("mv_sum_qty"),
          sum(discCents(col("l_extendedprice"), col("l_discount")))
            .as("mv_disc_cents"),
          count(lit(1)).as("mv_n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
    }

  private[ops] def serveStarFromMv(spark: SparkSession, dir: String): Unit =
    registerRollup(spark, dir, mvStarPath(spark, dir),
      grain = Seq("o_orderpriority", "l_returnflag"),
      dims = Seq(dim(spark, dir, "orders", "l_orderkey", "o_orderkey",
        live = false)))

  private[ops] def mvStar(spark: SparkSession, dir: String): DataFrame = {
    serveStarFromMv(spark, dir)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_returnflag") === "R")
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(qtyLong(col("l_quantity"))).as("sum_qty"),
        sum(discCents(col("l_extendedprice"), col("l_discount")))
          .as("disc_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority").asc)
  }

  private val mvStarSql =
    """SELECT o.o_orderpriority,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(round(l.l_extendedprice*(1.0-l.l_discount)*100)
      |    AS BIGINT)) AS BIGINT) AS disc_cents,
      |  COUNT(*) AS n_lines
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE l.l_returnflag = 'R'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_mv_star_attr: JOIN-BACK serving — the commonest star query of
  // all groups by a dim ATTRIBUTE (TPC-H Q5/Q7/Q8/Q9 shapes), which no
  // fixed (dim-attr, fact-attr) grain can anticipate. The registered
  // rollup is at the fact's FK grain (one row per l_orderkey, built
  // from the fact ALONE — no dim bytes embedded), which functionally
  // determines EVERY dim attribute; the rule serves the query by
  // re-joining the rollup to the live dim and re-aggregating at the
  // requested attribute. At 100 TB: a fact scan + shuffle join becomes
  // a |orders|-row rollup × broadcast dim — zero fact bytes at query
  // time, and the one rollup answers every dim-attribute grouping.
  // The negative pin (MvRewriteSpec): a grain WITHOUT the FK cannot
  // determine dim attributes, so the same query with only the op_rf
  // MV registered keeps its raw plan.
  // -------------------------------------------------------------------
  private def mvStarFkPath(spark: SparkSession, dir: String): String =
    // fact only: the FK rollup reads ONLY lineitem (the dim is re-joined
    // live at serve time, so dim regeneration never stales it)
    FixtureCache.layout(spark, "mv_star_fk", dir, Seq("lineitem.parquet"),
        "grain" -> "okey", "v" -> 1) { path =>
      spark.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_orderkey"))
        .agg(
          sum(qtyLong(col("l_quantity"))).as("mv_sum_qty"),
          sum(discCents(col("l_extendedprice"), col("l_discount")))
            .as("mv_disc_cents"),
          count(lit(1)).as("mv_n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
    }

  private[ops] def serveStarFkFromMv(spark: SparkSession, dir: String): Unit =
    registerRollup(spark, dir, mvStarFkPath(spark, dir),
      grain = Seq("l_orderkey"),
      dims = Seq(dim(spark, dir, "orders", "l_orderkey", "o_orderkey",
        live = true)))

  private def mvStarAttr(spark: SparkSession, dir: String): DataFrame = {
    serveStarFkFromMv(spark, dir)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderpriority") =!= "3-MEDIUM")
      .groupBy(col("o_orderstatus"))
      .agg(
        sum(qtyLong(col("l_quantity"))).as("sum_qty"),
        sum(discCents(col("l_extendedprice"), col("l_discount")))
          .as("disc_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderstatus").asc)
  }

  private val mvStarAttrSql =
    """SELECT o.o_orderstatus,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(round(l.l_extendedprice*(1.0-l.l_discount)*100)
      |    AS BIGINT)) AS BIGINT) AS disc_cents,
      |  COUNT(*) AS n_lines
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderpriority <> '3-MEDIUM'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_mv_snowflake: MULTI-DIM JOIN-BACK — the TPC-H shapes the
  // single-dim join-back (ax_mv_star_attr) cites as motivation
  // (Q5/Q7/Q8) group by attributes of a SECOND dim or of TWO dims at
  // once. One rollup at the COMPOSITE FK grain (l_orderkey, l_partkey)
  // — built from the fact alone, no dim bytes — functionally
  // determines every attribute of BOTH dims; the rule serves any
  // grouping drawn from either or both dims by re-joining the rollup
  // to the live orders AND part tables. At 100 TB: a fact scan + two
  // shuffle joins become a FK-grain rollup × two broadcast dims, zero
  // fact bytes, and the one rollup answers every (orders-attr ×
  // part-attr) question. The negative pin (MvRewriteSpec): a grain
  // missing either FK keeps the raw plan. Reference resolution is by
  // side-of-origin (leaf exprIds), so same-named fact/dim columns can
  // never silently remap.
  // -------------------------------------------------------------------
  private def mvSnowPath(spark: SparkSession, dir: String): String =
    // fact only: the composite-FK rollup reads ONLY lineitem
    FixtureCache.layout(spark, "mv_snow_fk", dir, Seq("lineitem.parquet"),
        "grain" -> "okey_pkey", "v" -> 1) { path =>
      spark.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_orderkey"), col("l_partkey"))
        .agg(
          sum(qtyLong(col("l_quantity"))).as("mv_sum_qty"),
          sum(discCents(col("l_extendedprice"), col("l_discount")))
            .as("mv_disc_cents"),
          count(lit(1)).as("mv_n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
    }

  private[ops] def serveSnowFromMv(spark: SparkSession, dir: String): Unit =
    registerRollup(spark, dir, mvSnowPath(spark, dir),
      grain = Seq("l_orderkey", "l_partkey"),
      dims = Seq(
        dim(spark, dir, "orders", "l_orderkey", "o_orderkey", live = true),
        dim(spark, dir, "part", "l_partkey", "p_partkey", live = true)))

  private def mvSnowflake(spark: SparkSession, dir: String): DataFrame = {
    serveSnowFromMv(spark, dir)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    val part = spark.read.parquet(s"$dir/part.parquet")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .filter(col("o_orderpriority") =!= "3-MEDIUM" && col("p_size") < 25)
      .groupBy(col("o_orderstatus"), col("p_brand"))
      .agg(
        sum(qtyLong(col("l_quantity"))).as("sum_qty"),
        sum(discCents(col("l_extendedprice"), col("l_discount")))
          .as("disc_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderstatus").asc, col("p_brand").asc)
  }

  private val mvSnowflakeSql =
    """SELECT o.o_orderstatus, p.p_brand,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(round(l.l_extendedprice*(1.0-l.l_discount)*100)
      |    AS BIGINT)) AS BIGINT) AS disc_cents,
      |  COUNT(*) AS n_lines
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE o.o_orderpriority <> '3-MEDIUM' AND p.p_size < 25
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_mv_star_delta: INCREMENTAL upkeep of the JOIN-GRAIN rollup —
  // the production pattern for star MVs: fact partitions append (the
  // post-cut l_shipdate slice), each new fact row joins to the
  // broadcast dim ONCE to acquire its grain attributes, the delta
  // rolls up at the MV grain, and the merge is stored ∪ delta →
  // re-aggregate. Upkeep work is Θ(delta + |MV|): the pre-cut fact is
  // never re-scanned and the join only ever touches delta rows — at
  // 100 TB, maintaining an aggregate over a star join costs the new
  // partitions, not the join. The oracle computes the full-join rollup
  // directly, proving the incremental path lands on the batch answer.
  // -------------------------------------------------------------------
  private def mvStarPrePath(spark: SparkSession, dir: String): String =
    FixtureCache.layout(spark, "mv_star_pre", dir,
        Seq("lineitem.parquet", "orders.parquet"),
        "grain" -> "op_rf", "cut" -> DeltaCut, "v" -> 2) { path =>
      starRollup(spark, dir,
        spark.read.parquet(s"$dir/lineitem.parquet")
          .filter(col("l_shipdate") < lit(DeltaCut)))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
    }

  /** the (o_orderpriority, l_returnflag) join-grain rollup of a
    * lineitem slice: ONE broadcast dim join to acquire the grain, then
    * the distributive aggregate
    */
  private def starRollup(spark: SparkSession, dir: String,
      li: DataFrame): DataFrame = {
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
    li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(
        sum(qtyLong(col("l_quantity"))).as("mv_sum_qty"),
        sum(discCents(col("l_extendedprice"), col("l_discount")))
          .as("mv_disc_cents"),
        count(lit(1)).as("mv_n_rows"))
  }

  private def mvStarDelta(spark: SparkSession, dir: String): DataFrame = {
    val stored = spark.read.parquet(mvStarPrePath(spark, dir))
    val delta = starRollup(spark, dir,
      spark.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit(DeltaCut)))
    stored.unionByName(delta)
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(
        sum(col("mv_sum_qty")).as("mv_sum_qty"),
        sum(col("mv_disc_cents")).as("mv_disc_cents"),
        sum(col("mv_n_rows")).as("mv_n_rows"))
      .orderBy(col("o_orderpriority").asc, col("l_returnflag").asc)
  }

  private val mvStarDeltaSql =
    """SELECT o.o_orderpriority, l.l_returnflag,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS mv_sum_qty,
      |  CAST(SUM(CAST(round(l.l_extendedprice*(1.0-l.l_discount)*100)
      |    AS BIGINT)) AS BIGINT) AS mv_disc_cents,
      |  COUNT(*) AS mv_n_rows
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_mv_rollup_sets: GROUPING SETS served above the star — the
  // reporting shape that amortizes ONE rollup across N grains at once:
  // `GROUP BY ROLLUP (o_orderstatus, o_orderpriority)` over fact ⋈ dim
  // compiles to Aggregate-over-Expand, and the rule rewrites the
  // Expand's child onto the FK-grain rollup ⋈ live dim while keeping
  // the Expand/gid structure intact — per grouping set the join-back
  // argument applies verbatim (every set column is FK-determined; the
  // grand-total set is the empty grouping). At 100 TB: a three-grain
  // reporting rollup costs |orders|-rollup × broadcast dim ONCE
  // instead of replicating the full fact once per grouping set. The
  // negative pin (MvRewriteSpec): a set containing a non-determined
  // fact column keeps the raw plan. Oracle = DuckDB's own GROUP BY
  // ROLLUP over the raw join.
  // -------------------------------------------------------------------
  private def mvRollupSets(spark: SparkSession, dir: String): DataFrame = {
    serveStarFkFromMv(spark, dir)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        sum(qtyLong(col("l_quantity"))).as("sum_qty"),
        sum(discCents(col("l_extendedprice"), col("l_discount")))
          .as("disc_cents"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  private val mvRollupSetsSql =
    """SELECT o.o_orderstatus, o.o_orderpriority,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(round(l.l_extendedprice*(1.0-l.l_discount)*100)
      |    AS BIGINT)) AS BIGINT) AS disc_cents,
      |  COUNT(*) AS n_lines
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY ROLLUP (o.o_orderstatus, o.o_orderpriority)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------
  // ax_mv_minmax: the full distributive-aggregate algebra served from
  // one rollup — max and min re-aggregate exactly like sum and count
  // (max of partial maxes), so the same grain answers range questions.
  // -------------------------------------------------------------------
  private def mvMinMax(spark: SparkSession, dir: String): DataFrame = {
    serveFromMv(spark, dir)
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_linestatus"))
      .agg(
        max(qtyLong(col("l_quantity"))).as("max_qty"),
        min(qtyLong(col("l_quantity"))).as("min_qty"),
        sum(qtyLong(col("l_quantity"))).as("sum_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_linestatus").asc)
  }

  private[ops] val mvMinMaxSql =
    """SELECT l_linestatus,
      |  CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty,
      |  CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_mv_cdc: MV UPKEEP UNDER A CHANGE LOG WITH DELETES — the verb
  // ax_mv_delta (append-only) doesn't cover. The stored rollup is the
  // pre-change snapshot of orders at the o_orderpriority grain (sum,
  // count, max); the change log reuses ax_cdc_apply's deterministic
  // derivation (updates +777 cents for k ≡ 1 mod 5; deletes for
  // k ≡ 4 mod 11, restricted to priorities 1–3 so both repair paths
  // below stay exercised at every SF), deletes carrying the KEY ONLY,
  // the realistic CDC shape.
  //
  // The upkeep algebra, by aggregate class:
  //  - sum/count are RETRACTABLE: each touched key contributes a
  //    retraction of its old (grain, -cents, -1) and, unless deleted,
  //    an addition of its new (grain, +new_cents, +1); the stored
  //    rollup merges with the per-grain deltas by re-aggregation.
  //    Work ∝ |log| + |MV| — old values come from ONE keyed equi-join
  //    of the touched keys against the base (at 100 TB: a bucketed
  //    point-join against the fact's key layout), never a fact rescan.
  //  - max is distributive only UPWARD: an insert or an increasing
  //    update merges as max(stored, new). A delete — or a DECREASING
  //    update — can invalidate the stored max, and no rollup can
  //    repair it (the second-largest was never kept): those grains
  //    are RECOMPUTED from the post-change state, work ∝ affected
  //    grain rows. This is the non-distributive case, priced and
  //    isolated: unaffected grains never rescan.
  // The gate's oracle is the FULL RECOMPUTE over the post-change
  // state (the change log deletes current-max rows at every SF), so a
  // wrong retraction, a missed delete-after-update overlap, or a
  // stale max all land as value diffs.
  // -------------------------------------------------------------------
  private def ordersBase(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))

  private def mvCdcStoredPath(spark: SparkSession, dir: String): String =
    FixtureCache.layout(spark, "mv_orders_cdc", dir, Seq("orders.parquet"),
        "grain" -> "pri", "v" -> 1) { path =>
      ordersBase(spark, dir)
        .groupBy(col("pri"))
        .agg(sum(col("cents")).as("mv_cents"),
          count(lit(1)).as("mv_n"),
          max(col("cents")).as("mv_max"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
    }

  /** the deterministic I/U/D log over orders (ax_cdc_apply's classes,
    * deletes grain-restricted); deletes carry the key only. On top of
    * the residue-class deletes, the log ALWAYS deletes each affected
    * grain's current-max row (argmax by (cents, k)) — the adversarial
    * case for rollup upkeep: the second-largest was never kept, so a
    * decrement-style "repair" of the stored max would be silently
    * wrong at every SF, not just when a residue delete happens to hit
    * the top row.
    */
  private[ops] def cdcLog(base: DataFrame): DataFrame = {
    val upd = base.filter(pmod(col("k"), lit(5)) === 1)
      .select(col("k"), lit(2L).as("seq"), lit("U").as("op"),
        (col("cents") + 777L).as("new_cents"))
    val del = base.filter(pmod(col("k"), lit(11)) === 4 &&
        substring(col("pri"), 1, 1).isin("1", "2", "3"))
      .select(col("k"), lit(3L).as("seq"), lit("D").as("op"),
        lit(null).cast("long").as("new_cents"))
    val delMax = base
      .filter(substring(col("pri"), 1, 1).isin("1", "2", "3"))
      .groupBy(col("pri"))
      .agg(max(struct(col("cents"), col("k"))).as("m"))
      .select(col("m.k").as("k"), lit(3L).as("seq"), lit("D").as("op"),
        lit(null).cast("long").as("new_cents"))
    upd.unionAll(del).unionAll(delMax)
  }

  private def mvCdc(spark: SparkSession, dir: String): DataFrame = {
    val base = ordersBase(spark, dir)
    val stored = spark.read.parquet(mvCdcStoredPath(spark, dir))
    // net final verb per touched key: one argmax(seq) — no window.
    // MATERIALIZED per call (round-15, guide §3 "materialising an
    // intermediate truncates the plan"): `fin` feeds the touched join
    // AND the affected-grain recompute, and `touched` below feeds FOUR
    // consumers (retract, addback, invalidGrains, updMax) — without
    // the checkpoints every consumer replanned the whole 3-scan
    // change-log derivation, the measured 212-operator / 58-exchange
    // plan (now 69 / 22). LAZY checkpoints (measured 5-rep isolated
    // medians: lazy 1.60 s vs eager 3.44 vs none 2.70): the tables
    // materialize inside the query's own first pass instead of as two
    // extra driver-blocking jobs. Both are |log|-bounded (the
    // operator's work ∝ |log| + |MV| contract) — metadata-scale at
    // any corpus size.
    val fin = cdcLog(base).groupBy(col("k"))
      .agg(max(struct(col("seq"), col("op"), col("new_cents"))).as("m"))
      .select(col("k"), col("m.op").as("op"), col("m.new_cents").as("new_cents"))
      .localCheckpoint(false)
    // old contributions of touched keys: ONE keyed equi-join
    val touched = base.join(fin, "k").localCheckpoint(false)
    // ---- sum/count: retract old ∪ add new, merge with stored --------
    val retract = touched.select(col("pri"),
      (-col("cents")).as("d_cents"), lit(-1L).as("d_n"))
    val addback = touched.filter(col("op") =!= "D")
      .select(col("pri"), col("new_cents").as("d_cents"), lit(1L).as("d_n"))
    val deltas = retract.unionAll(addback)
      .groupBy(col("pri"))
      .agg(sum(col("d_cents")).as("mv_cents"), sum(col("d_n")).as("mv_n"))
    val mergedSums = stored.select(col("pri"), col("mv_cents"), col("mv_n"))
      .unionAll(deltas)
      .groupBy(col("pri"))
      .agg(sum(col("mv_cents")).as("mv_cents"), sum(col("mv_n")).as("mv_n"))
      .filter(col("mv_n") > 0) // a fully-emptied grain leaves the MV
    // ---- max: upward merge where possible, recompute where not ------
    // invalidating verbs: delete, or an update that DECREASES the value
    val invalidGrains = touched
      .filter(col("op") === "D" ||
        (col("op") === "U" && col("new_cents") < col("cents")))
      .select(col("pri")).distinct()
    // affected grains: post-change state = base \ deletes, updates applied
    val affectedMax = base
      .join(broadcast(invalidGrains), Seq("pri"))
      .join(fin, Seq("k"), "left")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("pri"), coalesce(col("new_cents"), col("cents")).as("c"))
      .groupBy(col("pri")).agg(max(col("c")).as("mv_max"))
    // unaffected grains: max(stored, increasing-update values) — merge
    val updMax = touched.filter(col("op") === "U")
      .groupBy(col("pri")).agg(max(col("new_cents")).as("u_max"))
    val mergedMax = stored.select(col("pri"), col("mv_max"))
      .join(broadcast(invalidGrains.withColumn("aff", lit(1))),
        Seq("pri"), "left")
      .filter(col("aff").isNull)
      .join(updMax, Seq("pri"), "left")
      .select(col("pri"),
        greatest(col("mv_max"), coalesce(col("u_max"), col("mv_max")))
          .as("mv_max"))
      .unionAll(affectedMax)
    mergedSums.join(mergedMax, "pri")
      .select(col("pri").as("o_orderpriority"),
        col("mv_cents"), col("mv_n"), col("mv_max"))
      .orderBy(col("o_orderpriority").asc)
  }

  private val mvCdcSql =
    """WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS pri,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |delmax AS (SELECT k FROM (
      |    SELECT k, ROW_NUMBER() OVER (PARTITION BY pri
      |      ORDER BY cents DESC, k DESC) AS rn
      |    FROM o WHERE substr(pri, 1, 1) IN ('1','2','3')) WHERE rn = 1),
      |fin AS (
      |  SELECT pri,
      |    CASE WHEN k % 5 = 1 THEN cents + 777 ELSE cents END AS c
      |  FROM o
      |  WHERE NOT (k % 11 = 4 AND substr(pri, 1, 1) IN ('1','2','3'))
      |    AND k NOT IN (SELECT k FROM delmax))
      |SELECT pri AS o_orderpriority,
      |  CAST(SUM(c) AS BIGINT) AS mv_cents,
      |  COUNT(*) AS mv_n,
      |  CAST(MAX(c) AS BIGINT) AS mv_max
      |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_mv_rewrite", mvRewrite, mvRewriteSql),
    Gate("ax_mv_filter", mvFilter, mvFilterSql),
    Gate("ax_mv_minmax", mvMinMax, mvMinMaxSql),
    Gate("ax_mv_star", mvStar, mvStarSql),
    Gate("ax_mv_star_attr", mvStarAttr, mvStarAttrSql),
    Gate("ax_mv_snowflake", mvSnowflake, mvSnowflakeSql),
    Gate("ax_mv_rollup_sets", mvRollupSets, mvRollupSetsSql),
    Gate("ax_mv_star_delta", mvStarDelta, mvStarDeltaSql),
    Gate("ax_mv_delta", mvDelta, mvDeltaSql),
    Gate("ax_mv_cdc", mvCdc, mvCdcSql)
  )
}
