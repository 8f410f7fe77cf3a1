package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeReference, Expression, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{
  DataSourceV2Relation, DataSourceV2ScanRelation}

import graft.Gate

/** Column-level lineage extraction — the governance answer to "which
  * source columns can influence this output column's VALUE", derived
  * mechanically from the analyzed plan (SURVEY.md §2b governance tier;
  * for a training-data pipeline this is the provenance record a
  * dataset card cites).
  *
  * The walk is exact for value flow: every derived column in a Spark
  * plan is an `Alias` whose child's attribute references name its
  * inputs, bare columns pass through plans with a stable expression id,
  * and leaves are parquet relations (table = file basename). Predicate
  * / join-key influence is deliberately NOT counted (standard
  * value-flow lineage semantics); through set operations the left
  * branch's ids win (Spark reuses them as the output ids). The result
  * is plan-derived and therefore identical at every SF — the oracle
  * pins the hand-derived truth for a representative star-join query.
  */
object Lineage {

  /** Table identity of a DataSource V2 leaf: connectors name
    * themselves `format(path)` (GraftLinesTable.name()), so the last
    * path segment is the stable table identity a dataset card cites —
    * the same basename convention the parquet leaves use. A name with
    * no path parentheses is used as-is.
    */
  private def v2TableName(
      t: org.apache.spark.sql.connector.catalog.Table): String = {
    val n = t.name()
    val inner =
      if (n.endsWith(")") && n.contains("("))
        n.substring(n.indexOf('(') + 1, n.length - 1)
      else n
    new org.apache.hadoop.fs.Path(inner).getName
  }

  /** (out_column, src_table, src_column) rows for a DataFrame. */
  def of(spark: SparkSession, df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val leaf = scala.collection.mutable.Map[Long, (String, String)]()
    val alias = scala.collection.mutable.Map[Long, Seq[Long]]()
    plan.foreach {
      case l: LogicalRelation =>
        val table = l.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.headOption
              .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
          case _ => "?"
        }
        l.output.foreach(a => leaf(a.exprId.id) = (table, a.name))
      case d: DataSourceV2Relation =>
        val table = v2TableName(d.table)
        d.output.foreach(a => leaf(a.exprId.id) = (table, a.name))
      case p =>
        p.expressions.foreach(_.foreach {
          case al: Alias =>
            alias(al.exprId.id) =
              al.child.references.toSeq.map(_.exprId.id)
          case _ =>
        })
    }
    def resolve(id: Long, seen: Set[Long]): Seq[(String, String)] =
      if (seen(id)) Nil
      else leaf.get(id) match {
        case Some(src) => Seq(src)
        case None => alias.get(id)
          .map(_.flatMap(resolve(_, seen + id))).getOrElse(Nil)
      }
    val rows = plan.output.flatMap { a =>
      resolve(a.exprId.id, Set.empty).distinct
        .map { case (t, c) => (a.name, t, c) }
    }.distinct.sortBy(r => (r._1, r._2, r._3))
    import spark.implicits._
    rows.toDF("out_column", "src_table", "src_column")
      .orderBy("out_column", "src_table", "src_column")
  }

  /** Lineage of the plan AS EXECUTED — the walk [[of]] runs on the
    * analyzed plan, which never sees optimizer rewrites; a dataset
    * card citing it would record `lineitem` even though the query was
    * actually served from a materialized rollup. This variant walks
    * the OPTIMIZED plan (post-MV-rewrite) and, when a leaf scan is a
    * rollup fixture registered in this session, composes its edges
    * through the [[graft.plans.MvRewrite.Rollup]] back to base-table
    * columns — grain columns to their base table, measure columns to
    * the template's inputs, the count column to nothing (count bytes
    * come from no column). The result is the
    * provenance record staying TRUE under serving: ofServed(MV-served
    * plan) equals of(raw plan), pinned by LineageSpec.
    */
  def ofServed(spark: SparkSession, df: DataFrame): DataFrame = {
    val plan = df.queryExecution.optimizedPlan
    val leaf = scala.collection.mutable.Map[Long, Seq[(String, String)]]()
    val alias = scala.collection.mutable.Map[Long, Seq[Long]]()
    plan.foreach {
      case l: LogicalRelation =>
        val (key, table) = l.relation match {
          case fs: HadoopFsRelation =>
            (fs.location.rootPaths.map(_.toString).sorted.mkString(","),
              fs.location.rootPaths.headOption
                .map(_.getName.stripSuffix(".parquet")).getOrElse("?"))
          case _ => ("?", "?")
        }
        graft.plans.MvRewrite.mvColumnOrigins(spark, key) match {
          case Some(origins) =>
            l.output.foreach(a =>
              leaf(a.exprId.id) = origins.getOrElse(a.name, Nil))
          case None =>
            l.output.foreach(a => leaf(a.exprId.id) = Seq((table, a.name)))
        }
      // the OPTIMIZED plan's V2 leaf: pushdown has already turned the
      // relation into a scan — name it through the underlying table
      case s: DataSourceV2ScanRelation =>
        val table = v2TableName(s.relation.table)
        s.output.foreach(a => leaf(a.exprId.id) = Seq((table, a.name)))
      case d: DataSourceV2Relation =>
        val table = v2TableName(d.table)
        d.output.foreach(a => leaf(a.exprId.id) = Seq((table, a.name)))
      case p =>
        p.expressions.foreach(_.foreach {
          case al: Alias =>
            alias(al.exprId.id) =
              al.child.references.toSeq.map(_.exprId.id)
          case _ =>
        })
    }
    def resolve(id: Long, seen: Set[Long]): Seq[(String, String)] =
      if (seen(id)) Nil
      else leaf.get(id) match {
        case Some(src) => src
        case None => alias.get(id)
          .map(_.flatMap(resolve(_, seen + id))).getOrElse(Nil)
      }
    val rows = plan.output.flatMap { a =>
      resolve(a.exprId.id, Set.empty).distinct
        .map { case (t, c) => (a.name, t, c) }
    }.distinct.sortBy(r => (r._1, r._2, r._3))
    import spark.implicits._
    rows.toDF("out_column", "src_table", "src_column")
      .orderBy("out_column", "src_table", "src_column")
  }

  /** Lineage with EDGE KINDS — the distinction a dataset card needs:
    * a `value` edge means the source column's bytes can appear in the
    * output (PII flows along value edges); a `control` edge means the
    * source column only decides HOW rows combine — a window's
    * partition/order keys, an aggregate's grouping keys as seen by its
    * aggregate functions. row_number() carries NO value edges at all:
    * its output is pure control (three control edges, zero value).
    * Control is sticky along a path: a value edge downstream of a
    * control edge is still control influence on the final output. The
    * same (source, output) pair can legitimately carry BOTH kinds
    * (lag(o_orderdate) ordered by o_orderdate) and then emits two rows.
    */
  def ofKinds(spark: SparkSession, df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val leaf = scala.collection.mutable.Map[Long, (String, String)]()
    val valueE = scala.collection.mutable.Map[Long, Set[Long]]()
    val controlE = scala.collection.mutable.Map[Long, Set[Long]]()

    /** (value refs, control refs) of an expression: window-function
      * arguments are value, window partition/order keys are control;
      * everything else descends generically
      */
    def splitRefs(e: Expression): (Set[Long], Set[Long]) = e match {
      case a: AttributeReference => (Set(a.exprId.id), Set.empty)
      case we: WindowExpression =>
        val (v, cInner) = splitRefs(we.windowFunction)
        val spec =
          (we.windowSpec.partitionSpec.flatMap(_.references) ++
            we.windowSpec.orderSpec.flatMap(_.references))
            .map(_.exprId.id).toSet
        (v, cInner ++ spec)
      case other =>
        other.children.map(splitRefs)
          .foldLeft((Set.empty[Long], Set.empty[Long])) {
            case ((va, ca), (v, c)) => (va ++ v, ca ++ c)
          }
    }

    def record(al: Alias, extraControl: Set[Long]): Unit = {
      val (v, c) = splitRefs(al.child)
      valueE(al.exprId.id) = valueE.getOrElse(al.exprId.id, Set.empty) ++ v
      controlE(al.exprId.id) =
        controlE.getOrElse(al.exprId.id, Set.empty) ++ c ++ extraControl
    }

    plan.foreach {
      case l: LogicalRelation =>
        val table = l.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.headOption
              .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
          case _ => "?"
        }
        l.output.foreach(a => leaf(a.exprId.id) = (table, a.name))
      case d: DataSourceV2Relation =>
        val table = v2TableName(d.table)
        d.output.foreach(a => leaf(a.exprId.id) = (table, a.name))
      case agg: Aggregate =>
        // grouping keys are control inputs to every AGGREGATED output
        // (they decide the groups); a grouping key selected as itself
        // stays a plain value pass-through
        val groupCtrl = agg.groupingExpressions
          .flatMap(_.references).map(_.exprId.id).toSet
        agg.aggregateExpressions.foreach {
          case al: Alias =>
            val aggregated =
              al.child.exists(_.isInstanceOf[AggregateExpression])
            record(al, if (aggregated) groupCtrl else Set.empty)
          case _ =>
        }
      case w: Window =>
        w.windowExpressions.foreach {
          case al: Alias => record(al, Set.empty)
          case _ =>
        }
      case p =>
        p.expressions.foreach(_.foreach {
          case al: Alias => record(al, Set.empty)
          case _ =>
        })
    }

    def resolve(id: Long, viaControl: Boolean,
        seen: Set[Long]): Set[(String, String, String)] =
      if (seen(id)) Set.empty
      else leaf.get(id) match {
        case Some((t, c)) =>
          Set((t, c, if (viaControl) "control" else "value"))
        case None =>
          val s = seen + id
          valueE.getOrElse(id, Set.empty)
            .flatMap(resolve(_, viaControl, s)) ++
            controlE.getOrElse(id, Set.empty)
              .flatMap(resolve(_, viaControl = true, s))
      }

    val rows = plan.output.flatMap { a =>
      resolve(a.exprId.id, viaControl = false, Set.empty)
        .map { case (t, c, k) => (a.name, t, c, k) }
    }.distinct.sortBy(r => (r._1, r._2, r._3, r._4))
    import spark.implicits._
    rows.toDF("out_column", "src_table", "src_column", "edge_kind")
      .orderBy("out_column", "src_table", "src_column", "edge_kind")
  }

  // -------------------------------------------------------------------
  // ax_lineage: the lineage of the shipping-priority star join — three
  // output columns tracing through a group-by, a date_format alias,
  // two broadcast joins and three scans back to exactly four source
  // columns. The oracle is the hand-derived truth; a walk bug (lost
  // alias hop, wrong leaf table, phantom predicate column) lands as a
  // row diff.
  // -------------------------------------------------------------------
  private def lineage(spark: SparkSession, dir: String): DataFrame =
    of(spark, Analytics.shipPriority(spark, dir))

  private val lineageSql =
    """SELECT * FROM (VALUES
      |  ('o_orderdate',   'orders',   'o_orderdate'),
      |  ('o_orderkey',    'orders',   'o_orderkey'),
      |  ('revenue_cents', 'lineitem', 'l_discount'),
      |  ('revenue_cents', 'lineitem', 'l_extendedprice'))
      |  AS t(out_column, src_table, src_column)
      |ORDER BY 1, 2, 3""".stripMargin

  // -------------------------------------------------------------------
  // ax_lineage_window: kinded lineage of the five-function window suite
  // — row_number/ntile/cume_dist outputs are PURE CONTROL (no source
  // byte can reach them), lag/lead arguments are value, and the shared
  // (o_custkey | o_orderdate, o_orderkey) spec contributes three
  // control edges to every windowed output. o_orderdate reaches
  // gap_days as BOTH kinds (lag argument + order key) — the case that
  // forces kinds to be edge properties, not column properties. The
  // oracle is the hand-derived truth; plan-derived, identical at every
  // SF.
  // -------------------------------------------------------------------
  private def lineageWindow(spark: SparkSession, dir: String): DataFrame =
    ofKinds(spark, Analytics.windowSuite(spark, dir))

  private val lineageWindowSql =
    """SELECT * FROM (VALUES
      |  ('cd_e6',            'orders', 'o_custkey',    'control'),
      |  ('cd_e6',            'orders', 'o_orderdate',  'control'),
      |  ('cd_e6',            'orders', 'o_orderkey',   'control'),
      |  ('gap_days',         'orders', 'o_custkey',    'control'),
      |  ('gap_days',         'orders', 'o_orderdate',  'control'),
      |  ('gap_days',         'orders', 'o_orderdate',  'value'),
      |  ('gap_days',         'orders', 'o_orderkey',   'control'),
      |  ('next_price_cents', 'orders', 'o_custkey',    'control'),
      |  ('next_price_cents', 'orders', 'o_orderdate',  'control'),
      |  ('next_price_cents', 'orders', 'o_orderkey',   'control'),
      |  ('next_price_cents', 'orders', 'o_totalprice', 'value'),
      |  ('o_custkey',        'orders', 'o_custkey',    'value'),
      |  ('o_orderkey',       'orders', 'o_orderkey',   'value'),
      |  ('quartile',         'orders', 'o_custkey',    'control'),
      |  ('quartile',         'orders', 'o_orderdate',  'control'),
      |  ('quartile',         'orders', 'o_orderkey',   'control'),
      |  ('seq',              'orders', 'o_custkey',    'control'),
      |  ('seq',              'orders', 'o_orderdate',  'control'),
      |  ('seq',              'orders', 'o_orderkey',   'control'))
      |  AS t(out_column, src_table, src_column, edge_kind)
      |ORDER BY 1, 2, 3, 4""".stripMargin

  // -------------------------------------------------------------------
  // ax_lineage_mv: lineage THROUGH the MV rewrite — ax_mv_star's query
  // executes against the join-grain rollup fixture, and a naive walk of
  // what ran would cite the fixture as the source. ofServed composes
  // the rollup's registered definition back to base columns, so the
  // provenance record reaches the true lineitem/orders leaves: the
  // grain dim to orders, both measures to their lineitem inputs, and
  // n_lines (count) to nothing — exactly the lineage the RAW plan
  // carries, which is the invariant (serving must not change
  // provenance). Oracle = the hand-derived truth.
  // -------------------------------------------------------------------
  private def lineageMv(spark: SparkSession, dir: String): DataFrame = {
    val served = MatViews.mvStar(spark, dir)
    ofServed(spark, served)
  }

  private val lineageMvSql =
    """SELECT * FROM (VALUES
      |  ('disc_cents',      'lineitem', 'l_discount'),
      |  ('disc_cents',      'lineitem', 'l_extendedprice'),
      |  ('o_orderpriority', 'orders',   'o_orderpriority'),
      |  ('sum_qty',         'lineitem', 'l_quantity'))
      |  AS t(out_column, src_table, src_column)
      |ORDER BY 1, 2, 3""".stripMargin

  // -------------------------------------------------------------------
  // ax_lineage_dsv2: lineage THROUGH the custom connector — a
  // DataSource V2 read is a DataSourceV2Relation leaf (a
  // DataSourceV2ScanRelation once optimized), which the walk previously
  // could not resolve: a dataset card over connector-ingested data lost
  // its source. The leaf now names the connector's table (the path
  // basename of `graftlines(<path>)`), so provenance survives custom
  // sources exactly like parquet scans. The fixture writes the
  // documents metadata under a STABLE basename (`docs_meta`); the
  // lineage is plan-derived and identical at every SF — oracle = the
  // hand-derived truth (n_docs is a count: no value source, no rows).
  // -------------------------------------------------------------------
  private def dsv2LineageFixture(
      spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.concat_ws
    val root = FixtureCache.layout(spark, "dsv2_lineage", dir,
        Seq("documents.parquet"), "v" -> 1) { root =>
      spark.read.parquet(s"$dir/documents.parquet")
        .select(concat_ws("\t", col("doc_id"), col("lang"),
          col("source"), col("n_chars")).as("value"))
        .repartition(2)
        .write.mode("overwrite").text(s"$root/docs_meta")
    }
    s"$root/docs_meta"
  }

  private[ops] def dsv2LineageQuery(
      spark: SparkSession, dir: String): DataFrame = {
    val path = dsv2LineageFixture(spark, dir)
    spark.read.format(classOf[graft.sources.GraftLines].getName)
      .option("path", path)
      .load()
      .filter(col("n_chars") >= 100L)
      .groupBy(col("lang"))
      .agg(sum(col("n_chars")).as("sum_chars"),
        count(lit(1)).as("n_docs"))
  }

  private def lineageDsv2(spark: SparkSession, dir: String): DataFrame =
    of(spark, dsv2LineageQuery(spark, dir))

  private val lineageDsv2Sql =
    """SELECT * FROM (VALUES
      |  ('lang',      'docs_meta', 'lang'),
      |  ('sum_chars', 'docs_meta', 'n_chars'))
      |  AS t(out_column, src_table, src_column)
      |ORDER BY 1, 2, 3""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_lineage", lineage, lineageSql),
    Gate("ax_lineage_window", lineageWindow, lineageWindowSql),
    Gate("ax_lineage_mv", lineageMv, lineageMvSql),
    Gate("ax_lineage_dsv2", lineageDsv2, lineageDsv2Sql)
  )
}
