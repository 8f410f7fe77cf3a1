package graft.plans

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, Attribute, AttributeReference, EqualTo, ExprId, Expression,
  IsNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, AggregateFunction, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Expand, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation}

/** Materialized-view aggregate rewrite — the 100 TB cube-serving path.
  *
  * A registered [[MvRewrite.Rollup]] is an exact rollup of a fact
  * parquet table, joined to zero or more dimension tables, at some
  * grain. [[RewriteAggToMv]] (installed in every session by
  * [[graft.functions.GraftSparkExtensions]], each session with its own
  * [[MvRewrite.Catalog]]) matches a logical `Aggregate(G, aggs, child)`
  * whose child is the rollup's join — `fact ⋈ dims`, every table once,
  * exactly the registered FK equi-pairs, under pure column-pruning
  * Projects and Filters — and serves it from the stored rows, re-joined
  * to the live dims the rollup did not materialise:
  *
  *   - every grouping key is a bare column that the served plan
  *     carries: a grain column of the stored rows, or any column of a
  *     live dim (the grain holds that dim's FK, and the FK determines
  *     every attribute of its dim row);
  *   - every aggregate is `sum`/`max`/`min` of a registered measure
  *     template under name-normalized canonicalization (templates come
  *     from running the SAME Column code through the optimizer, so
  *     constant folding and implicit casts line up on both sides), or
  *     `count(*)`/`count(1)`;
  *   - every filter conjunct is deterministic, references at least one
  *     column, and reads only columns the served plan carries (it then
  *     selects whole rollup groups), or is an `IsNotNull` of a join key
  *     (implied by the inner joins on either side).
  *
  * `sum(e)` becomes `sum(mv_sum_col)`, `count(*)` becomes
  * `sum(mv_count_col)`, and max/min re-aggregate partial maxes/mins.
  * Output attribute ids are preserved via aliases, so parents (sorts,
  * joins) resolve unchanged. At cluster scale this turns a fact scan
  * into a read of a small rollup; on this harness it is the plan-visible
  * witness that the optimizer tier can retarget a query at a maintained
  * summary without the user rewriting anything.
  *
  * The reference (/root/reference/polarify/main.py) has no optimizer
  * tier at all — this is north-star extension surface, same family as
  * [[TopNPerGroup]].
  */
object MvRewrite {

  /** One dimension table of a rollup: its base key, the FK equi-pair
    * joining it to the fact, and whether its rows were joined INTO the
    * stored rollup (`live = false`, the inner join already applied and
    * the dim attributes in the grain) or are re-joined live at serve
    * time (`live = true`; the rollup was built from the fact alone and
    * `factCol` must be in its grain).
    */
  final case class Dim(
      key: String,
      factCol: String,
      dimCol: String,
      live: Boolean)

  /** A rollup of `fact ⋈ dims*` at a grain: a plain MV has no dims, a
    * star MV one, a snowflake two or more.
    *
    * A query is served only when it joins exactly the rollup's tables
    * on exactly its FK pairs, so the stored rows went through the same
    * inner joins as the query's, or the serve re-joins them:
    *
    *   - no live dim: the stored rows answer it directly (classic
    *     serving, zero joins at query time);
    *   - all dims live (the rollup was built from the fact alone): the
    *     rows are re-joined to the live dims (join-back: zero fact
    *     bytes; one FK-grain rollup answers any grouping by any dim
    *     attribute), so rows the inner join drops, such as orphan or
    *     null FKs, never reach the answer.
    *
    * A rollup's dims are all joined or all live. Classic candidates are
    * tried first; grouping sets are served by join-back only.
    *
    * @param fact          the fact's base key ([[keyFor]])
    * @param dims          the dimension tables and their FK pairs
    * @param grain         grouping column names of the stored rows
    * @param sums          rollup column → normalized measure template
    *                      ([[normalize]]), serving `sum(e)`
    * @param countCol      rollup column holding the per-group row count
    * @param path          parquet path of the stored rollup
    * @param maxes         rollup column → template, serving `max(e)`
    * @param mins          rollup column → template, serving `min(e)`
    * @param measureInputs each measure column's fact column names,
    *                      recorded at registration for lineage
    */
  final case class Rollup(
      fact: String,
      dims: Seq[Dim],
      grain: Seq[String],
      sums: Seq[(String, Expression)],
      countCol: String,
      path: String,
      maxes: Seq[(String, Expression)] = Nil,
      mins: Seq[(String, Expression)] = Nil,
      measureInputs: Map[String, Seq[String]] = Map.empty) {
    require(dims.forall(_.live) || !dims.exists(_.live),
      "a rollup's dims are either all joined into its rows or all live")

    /** the tables whose bytes are in the stored rows */
    private[MvRewrite] def storedKeys: Seq[String] =
      fact +: dims.filterNot(_.live).map(_.key)
  }

  /** Identity-erased form for cross-plan expression comparison: every
    * attribute reference is re-keyed by COLUMN NAME (exprId derived
    * from the lowercase name), then canonicalized. Two expressions over
    * different scans of the same table compare equal iff they are the
    * same computation over the same-named columns.
    */
  def normalize(e: Expression): Expression =
    e.transformUp {
      case a: AttributeReference =>
        AttributeReference(a.name.toLowerCase, a.dataType, nullable = true)(
          exprId = ExprId(a.name.toLowerCase.hashCode.toLong & 0x7fffffffL))
    }.canonicalized

  /** The canonical root-path key Spark reports for a parquet scan. */
  def keyFor(spark: SparkSession, rawPath: String): String = {
    val plan = spark.read.parquet(rawPath).queryExecution.analyzed
    plan.collectFirst { case l: LogicalRelation => scanKey(l) }.flatten
      .getOrElse(rawPath)
  }

  private def scanKey(l: LogicalRelation): Option[String] = l.relation match {
    case fs: HadoopFsRelation =>
      Some(fs.location.rootPaths.map(_.toString).sorted.mkString(","))
    case _ => None
  }

  /** One session's registered rollups. [[GraftSparkExtensions]] builds
    * one per session with that session's [[RewriteAggToMv]], so a
    * registration never rewrites another session's plans and a
    * `newSession()` child starts empty.
    */
  final class Catalog {
    // (rollup, stamp of each stored table at registration), newest first
    private val entries =
      new AtomicReference[List[(Rollup, Seq[(String, String)])]](Nil)
    private val stamps = new ConcurrentHashMap[String, (Long, String)]()

    def isEmpty: Boolean = entries.get.isEmpty

    def rollups: Seq[Rollup] = entries.get.map(_._1)

    /** Register `r`, stamping the tables its stored rows were built
      * from. Re-registering the same tables and grain replaces the old
      * entry; other grains persist.
      *
      * NOTE on external writers: a register follows a rebuild, so it
      * re-stats; a base rewritten by a process that never registers can
      * be served a stale answer for up to [[stampFor]]'s 1 s TTL —
      * inside the documented 1.2 s mtime-granularity staleness window
      * the freshness spec already allows.
      */
    def register(r: Rollup): Unit = {
      r.storedKeys.foreach(stamps.remove)
      val gen = r.storedKeys.map(k => k -> stampFor(k))
      entries.updateAndGet(cur => (r, gen) :: cur.filterNot { case (o, _) =>
        o.fact == r.fact && o.dims == r.dims && o.grain == r.grain })
    }

    /** Freshness stamp for a base key (comma-joined root paths): the
      * roots' [[graft.ops.FixtureCache.stamp]]s, part-file manifests
      * read through the Hadoop FS. A served rollup is only exact while
      * its stored tables are the generation it was built from — the
      * rule re-checks this stamp at MATCH time, so a base rewritten
      * after registration fails the match and the query falls back to
      * the raw scan. At cluster scale this is a catalog snapshot-version
      * check. An unreachable root stamps
      * [[graft.ops.FixtureCache.Absent]] with one WARN per stat.
      */
    def stampFor(baseKey: String): String = {
      // the matcher stamps on every candidate match; a 1 s TTL cache
      // amortizes that to at most one stamp per base per second, and
      // the TTL (not an unbounded lifetime) keeps rewritten-base
      // detection sound. SparkSession.active supplies the Hadoop conf
      // (never SparkContext.getOrCreate, which can CONSTRUCT a context).
      val now = System.nanoTime()
      val cached = stamps.get(baseKey)
      if (cached != null && now - cached._1 <= StampTtlNanos) return cached._2
      val conf = SparkSession.active.sparkContext.hadoopConfiguration
      val v = baseKey.split(",").map(graft.ops.FixtureCache.stamp(conf, _))
        .mkString(",")
      stamps.put(baseKey, (now, v))
      v
    }

    /** accepted rollups over exactly these tables whose stored tables
      * are still the registered generation, newest first */
    private[MvRewrite] def fresh(tables: Set[String])(
        accept: Rollup => Boolean): Seq[Rollup] =
      entries.get.collect {
        case (r, gen) if (r.fact +: r.dims.map(_.key)).toSet == tables &&
            accept(r) && gen.forall { case (k, s) => stampFor(k) == s } => r
      }
  }

  private val StampTtlNanos = 1000L * 1000 * 1000

  /** The session's catalog: the one its [[RewriteAggToMv]] was built
    * with. A session built without graft's extensions has none.
    */
  def catalog(spark: SparkSession): Catalog =
    spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .collectFirst { case r: RewriteAggToMv => r.catalog }
      .getOrElse(throw new IllegalStateException(
        "graft's MV rule is not installed in this session; build it " +
          "through graft.Sessions.configure"))

  /** Register `r` with the session's MV rule. */
  def register(spark: SparkSession, r: Rollup): Unit = catalog(spark).register(r)

  /** Lineage support: for a scan whose root-path key is a rollup
    * registered in this session, the base origin of each rollup column
    * — so a lineage walk over the OPTIMIZED (MV-served) plan reaches the
    * true base tables instead of stopping at the fixture. Grain columns
    * resolve to whichever base table carries the column (fact first),
    * measure columns to their recorded input columns, and the count
    * column to NO value source (a count's bytes come from no column —
    * identical to count(*) lineage on the raw plan, which is what makes
    * served and raw lineage agree exactly).
    */
  def mvColumnOrigins(spark: SparkSession, scanKey: String)
      : Option[Map[String, Seq[(String, String)]]] =
    catalog(spark).rollups.find(r => keyFor(spark, r.path) == scanKey).map {
      r =>
        // fact columns first: a measure only ever reads the fact
        val candidates = (r.fact +: r.dims.map(_.key)).flatMap { key =>
          val table = new org.apache.hadoop.fs.Path(key.split(",")(0))
            .getName.stripSuffix(".parquet")
          spark.read.parquet(key.split(","): _*).schema.fieldNames.toSeq
            .map(c => (table, c))
        }
        val grain = r.grain.map(g => g -> candidates.filter(_._2 == g).take(1))
        val measures = (r.sums ++ r.maxes ++ r.mins).map { case (mvCol, _) =>
          mvCol -> r.measureInputs.getOrElse(mvCol, Nil)
            .flatMap(n => candidates.filter(_._2 == n).take(1))
            .distinct.sortBy(identity)
        }
        (grain ++ measures).toMap + (r.countCol -> Nil)
    }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** An aggregate's child flattened once: the leaf scans (key → output
    * exprIds), every filter conjunct found anywhere, and every join
    * equi-pair. Only pure column-pruning Projects, Filters and INNER
    * joins whose every conjunct is a column equi-pair are walked;
    * anything else fails the flatten.
    */
  private final case class Flat(
      leaves: Seq[(String, Set[Long])],
      conds: Seq[Expression],
      pairs: Seq[Set[String]])

  private def flatten(plan: LogicalPlan): Option[Flat] = plan match {
    case l: LogicalRelation =>
      scanKey(l).map(k => Flat(Seq(k -> l.output.map(_.exprId.id).toSet),
        Nil, Nil))
    case Project(projList, child)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      flatten(child)
    case Filter(cond, child) =>
      flatten(child).map(f => f.copy(conds = splitAnd(cond) ++ f.conds))
    case Join(left, right, Inner, Some(cond), _) =>
      val pairs = splitAnd(cond).map {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          Some(Set(a.name, b.name))
        case _ => None
      }
      for {
        l <- flatten(left)
        r <- flatten(right)
        if pairs.forall(_.isDefined)
      } yield Flat(l.leaves ++ r.leaves, l.conds ++ r.conds,
        l.pairs ++ r.pairs ++ pairs.flatten)
    case _ => None
  }

  /** A rollup bound to one query's leaves: attributes of the fact and of
    * the materialised dims come from the stored rows (grain columns
    * only), attributes of a live dim from that dim's live scan. Binding
    * by side of origin (leaf exprIds), not by name, means a fact column
    * sharing a name with a dim column never silently remaps.
    */
  private final class Serve(spark: SparkSession, r: Rollup, query: Flat) {
    private val leafIds = query.leaves.toMap
    private val storedIds = r.storedKeys.flatMap(leafIds).toSet
    private val live = r.dims.filter(_.live)
    private val liveIds = live.map(d => leafIds(d.key))
    private val joinKeys =
      r.dims.flatMap(d => Seq(d.factCol, d.dimCol)).toSet

    /** 0 = the stored rows, i + 1 = live dim i */
    private def sideOf(a: Attribute): Option[Int] =
      if (storedIds.contains(a.exprId.id)) Some(0)
      else Some(liveIds.indexWhere(_.contains(a.exprId.id)) + 1).filter(_ > 0)

    /** whether the served plan carries `a` (no plan read needed) */
    def carries(e: Expression): Boolean = e match {
      case a: AttributeReference =>
        sideOf(a).exists(s => s > 0 || r.grain.contains(a.name))
      case _ => false
    }

    /** The query's conjuncts the served plan applies. IsNotNull(join key)
      * conjuncts are absorbed (the stored rows went through the inner
      * join, or the join-back re-establishes it); everything else must be
      * deterministic, column-referencing and carried. None = unservable.
      */
    private lazy val kept: Option[Seq[Expression]] = {
      val kept = query.conds.filter {
        case IsNotNull(a: AttributeReference) => !joinKeys.contains(a.name)
        case _ => true
      }
      if (kept.forall(c => c.deterministic && c.references.nonEmpty &&
          c.references.forall(carries))) Some(kept)
      else None
    }

    /** The rollup and live-dim plans, or None when any registered column
      * is absent — a stale registration fails the match, never throws.
      */
    lazy val bound: Option[Bound] = {
      val mvPlan = spark.read.parquet(r.path).queryExecution.analyzed
      val mvAttr = mvPlan.output.map(a => a.name -> a).toMap
      val dimPlans = live.map(d =>
        spark.read.parquet(d.key.split(","): _*).queryExecution.analyzed)
      val dimAttrs = dimPlans.map(_.output.map(a => a.name -> a).toMap)
      val complete = (r.grain ++ (r.sums ++ r.maxes ++ r.mins).map(_._1) :+
        r.countCol).forall(mvAttr.contains) &&
        live.zip(dimAttrs).forall { case (d, m) => m.contains(d.dimCol) }
      if (complete) Some(new Bound(mvPlan, mvAttr, dimPlans, dimAttrs))
      else None
    }

    final class Bound(mvPlan: LogicalPlan, val mvAttr: Map[String, Attribute],
        dimPlans: Seq[LogicalPlan], dimAttrs: Seq[Map[String, Attribute]]) {

      def resolve(a: AttributeReference): Option[Attribute] = sideOf(a) match {
        case Some(0) if r.grain.contains(a.name) => mvAttr.get(a.name)
        case Some(i) if i > 0 => dimAttrs(i - 1).get(a.name)
        case _ => None
      }

      private def remap(e: Expression): Expression = e.transformUp {
        case a: AttributeReference => resolve(a).getOrElse(a)
      }

      private val sumBy = r.sums.map(_.swap).toMap
      private val maxBy = r.maxes.map(_.swap).toMap
      private val minBy = r.mins.map(_.swap).toMap

      /** One aggregate output column onto the rollup: sum → sum of
        * partial sums, count(*) → sum of the count column, max/min →
        * max/min of partial maxes/mins. Exact because grouping by
        * carried columns PARTITIONS the rollup's groups (each FK maps
        * to one row per dim).
        */
      def rewriteAgg(ne: NamedExpression): Option[NamedExpression] = {
        val f: Option[AggregateFunction] = ne match {
          case Alias(AggregateExpression(Sum(e, _), Complete, false, None, _), _) =>
            sumBy.get(normalize(e)).map(c => Sum(mvAttr(c)))
          case Alias(AggregateExpression(Max(e), Complete, false, None, _), _) =>
            maxBy.get(normalize(e)).map(c => Max(mvAttr(c)))
          case Alias(AggregateExpression(Min(e), Complete, false, None, _), _) =>
            minBy.get(normalize(e)).map(c => Min(mvAttr(c)))
          case Alias(AggregateExpression(Count(Seq(Literal(1, _))), Complete,
              false, None, _), _) =>
            Some(Sum(mvAttr(r.countCol)))
          case _ => None
        }
        f.map(f => Alias(AggregateExpression(f, Complete, isDistinct = false),
          ne.name)(exprId = ne.exprId))
      }

      /** the served attributes a set of query conjuncts reads */
      def condAttrs(conds: Seq[Expression]): Set[Attribute] =
        conds.flatMap(_.references.toSeq.collect {
          case a: AttributeReference => resolve(a)
        }.flatten).toSet

      /** The pruned, filtered `rollup ⋈ live dim₁ ⋈ … ⋈ live dimₙ`
        * (just the rollup when no dim is live). Single-side conjuncts
        * filter BELOW the joins so they reach the scans' PushedFilters;
        * conjuncts spanning sides stay above. The Projects keep the
        * scans' ReadSchema narrow.
        */
      def servedJoin(conds: Seq[Expression], needed: Set[Attribute],
          usedMvCols: Set[String]): LogicalPlan = {
        val mvPruned = Project(mvPlan.output.filter(a =>
          live.exists(_.factCol == a.name) ||
            needed.contains(a) || usedMvCols.contains(a.name)), mvPlan)
        val dimPruneds = live.indices.map { i =>
          Project(dimPlans(i).output.filter(a =>
            a.name == live(i).dimCol || needed.contains(a)), dimPlans(i))
        }
        def side(cond: Expression): Option[Int] = {
          val sides = cond.references.toSeq.flatMap(sideOf).toSet
          if (sides.size == 1) Some(sides.head) else None
        }
        val bySide = conds.groupBy(side)
        def filtered(s: Option[Int], base: LogicalPlan): LogicalPlan =
          bySide.getOrElse(s, Nil).foldLeft(base) { (child, cond) =>
            Filter(remap(cond), child)
          }
        val joined = live.indices.foldLeft(
          filtered(Some(0), mvPruned)) { (acc, i) =>
          Join(acc, filtered(Some(i + 1), dimPruneds(i)), Inner,
            Some(EqualTo(mvAttr(live(i).factCol),
              dimAttrs(i)(live(i).dimCol))),
            JoinHint.NONE)
        }
        filtered(None, joined)
      }
    }

    /** `Aggregate(G, aggs, child)` served from the rollup. */
    def flat(grouping: Seq[Expression],
        results: Seq[NamedExpression]): Option[LogicalPlan] =
      if (grouping.isEmpty || !grouping.forall(carries)) None
      else for {
        conds <- kept
        b <- bound
        rewritten <- sequence(results.map {
          case a: AttributeReference =>
            b.resolve(a).map(attr => Alias(attr, a.name)(exprId = a.exprId))
          case ne => b.rewriteAgg(ne)
        })
      } yield {
        val newGrouping = grouping.map {
          case a: AttributeReference => b.resolve(a).get
        }
        val usedMvCols = rewritten.flatMap(_.collect {
          case a: AttributeReference => a.name
        }).toSet
        Aggregate(newGrouping, rewritten, b.servedJoin(conds,
          newGrouping.toSet ++ b.condAttrs(conds), usedMvCols), None)
      }

    /** GROUPING SETS: `Aggregate(…gid…, aggs, Expand(projs, out,
      * fact ⋈ dims))` — the shape ROLLUP/CUBE/GROUPING SETS compile to.
      * Expand replicates each input row once per grouping set and the
      * Aggregate groups by (set cols…, gid); within one gid every
      * grouping column is either a null literal or a carried column, so
      * per gid the flat argument applies verbatim — including the
      * grand-total set. The rewrite keeps the Aggregate and the Expand
      * (same output ids, same gid literals), remaps the kept projection
      * columns onto the served plan, appends the rollup's pre-aggregated
      * columns as pass-throughs, and rewrites the aggregates like the
      * flat path. One FK-grain rollup thus amortizes across ALL the
      * requested grains — at 100 TB a reporting ROLLUP costs
      * |rollup| × broadcast dims instead of replicating the full fact
      * once per grouping set.
      */
    def expand(grouping: Seq[Expression], results: Seq[NamedExpression],
        projections: Seq[Seq[Expression]],
        expandOut: Seq[Attribute]): Option[LogicalPlan] = {
      // references NOT under an aggregate function: the grouping-set
      // columns + gid the new Expand must keep producing
      def refsOutsideAgg(e: Expression): Seq[Long] = e match {
        case _: AggregateExpression => Nil
        case a: AttributeReference => Seq(a.exprId.id)
        case other => other.children.flatMap(refsOutsideAgg)
      }
      val keepIds =
        (grouping.flatMap(refsOutsideAgg) ++ results.flatMap(refsOutsideAgg))
          .toSet
      val keptIdx = expandOut.indices.filter(j =>
        keepIds.contains(expandOut(j).exprId.id))
      if (keptIdx.size != keepIds.size) return None
      for {
        conds <- kept
        b <- bound
        // each kept projection cell: a null/gid literal stays, a column
        // remaps by side of origin, anything else is unservable
        rows <- sequence(projections.map(row => sequence(keptIdx.map { j =>
          row(j) match {
            case a: AttributeReference => b.resolve(a)
            case l: Literal => Some(l)
            case _ => None
          }
        })))
        rewritten <- sequence(results.map {
          case ne if ne.exists(_.isInstanceOf[AggregateExpression]) =>
            b.rewriteAgg(ne)
          case ne if refsOutsideAgg(ne).forall(keepIds.contains) =>
            Some(ne) // pure grouping-set pass-through: kept output ids
          case _ => None
        })
      } yield {
        // rollup columns the rewritten aggregates read — the new Expand
        // passes them through in every grouping-set row
        val usedMvAttrs = rewritten.flatMap(_.collect {
          case a: AttributeReference
              if b.mvAttr.get(a.name).exists(_.exprId == a.exprId) => a
        }).distinct
        val newProjs = rows.map(_ ++ usedMvAttrs)
        val needed = newProjs.flatMap(_.collect {
          case a: AttributeReference => a: Attribute
        }).toSet ++ b.condAttrs(conds)
        Aggregate(grouping, rewritten,
          Expand(newProjs, keptIdx.map(expandOut) ++ usedMvAttrs,
            b.servedJoin(conds, needed, usedMvAttrs.map(_.name).toSet)),
          None)
      }
    }
  }

  private def sequence[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  final case class RewriteAggToMv(spark: SparkSession, catalog: Catalog)
      extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan =
      if (catalog.isEmpty) plan
      else plan.transform {
        // grouping sets / ROLLUP / CUBE: Aggregate over Expand over the
        // join, served only by join-back
        case agg @ Aggregate(grouping, results,
            Expand(projections, expandOut, child), None) =>
          candidates(child, joinBackOnly = true)
            .flatMap(_.expand(grouping, results, projections, expandOut))
            .nextOption().getOrElse(agg)
        case agg @ Aggregate(grouping, results, child, None) =>
          candidates(child, joinBackOnly = false)
            .flatMap(_.flat(grouping, results))
            .nextOption().getOrElse(agg)
      }

    /** Fresh rollups over exactly the child's tables and FK pairs, with
      * every live dim's FK in the grain; classic (nothing to re-join)
      * before join-back, newest first within each.
      */
    private def candidates(child: LogicalPlan,
        joinBackOnly: Boolean): Iterator[Serve] =
      flatten(child).iterator.flatMap { f =>
        val keys = f.leaves.map(_._1)
        val pairs = f.pairs.toSet
        val rollups =
          if (keys.distinct.size != keys.size) Nil
          else catalog.fresh(keys.toSet) { r =>
            val live = r.dims.filter(_.live)
            pairs == r.dims.map(d => Set(d.factCol, d.dimCol)).toSet &&
              live.forall(d => r.grain.contains(d.factCol)) &&
              (!joinBackOnly || live.nonEmpty)
          }.sortBy(_.dims.exists(_.live))
        rollups.iterator.map(r => new Serve(spark, r, f))
      }
  }
}
