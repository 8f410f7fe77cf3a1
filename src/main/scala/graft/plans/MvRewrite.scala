package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, ExprId, Expression, Literal,
  NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation}

/** Materialized-view aggregate rewrite — the 100 TB cube-serving path.
  *
  * A registered MV is an exact rollup of a base parquet table at some
  * dimension grain, with one pre-summed column per supported measure
  * and a row-count column. [[RewriteAggToMv]] (installed in every
  * session by [[graft.functions.GraftSparkExtensions]]) matches logical
  * `Aggregate(G, aggs, scan(base))` where
  *
  *   - every grouping expression is a bare base column with name ∈ the
  *     MV's dims (any SUBSET — coarser grains re-aggregate);
  *   - every aggregate is `sum(e)` with `e` matching one of the MV's
  *     registered measure templates under name-normalized
  *     canonicalization (templates are produced by running the SAME
  *     Column code through the optimizer, so constant folding and
  *     implicit casts line up on both sides), or `count(*)`/`count(1)`;
  *   - nothing sits between the aggregate and the scan but pure
  *     column-pruning Projects and DIMENSION-ONLY Filters (a predicate
  *     over grain columns selects whole MV groups and maps onto the
  *     rollup verbatim; a predicate touching any other column kills
  *     the match),
  *
  * and replaces the base scan with the MV relation, mapping `sum(e)` →
  * `sum(mv_sum_col)` and `count(*)` → `sum(mv_count_col)`. Output
  * attribute ids are preserved via aliases, so parents (sorts, joins)
  * resolve unchanged. At cluster scale this turns a full fact scan into
  * a read of a few-thousand-row rollup; on this harness it is the
  * plan-visible witness that the optimizer tier can retarget a query at
  * a maintained summary without the user rewriting anything.
  *
  * The reference (/root/reference/polarify/main.py) has no optimizer
  * tier at all — this is north-star extension surface, same family as
  * [[TopNPerGroup]].
  */
object MvRewrite {

  /** One registered materialized view over a base parquet path.
    *
    * @param dims      rollup dimension column names (base = MV names)
    * @param measures  mv sum-column name → name-normalized canonical
    *                  measure template (see [[normalize]])
    * @param countCol  mv column holding the per-group base row count
    * @param mvPath    parquet path of the rollup
    */
  /** `measures` serve `sum(e)` (sum of partial sums), `maxes`/`mins`
    * serve `max(e)`/`min(e)` (max of partial maxes / min of partial
    * mins — max, min, sum and count are the distributive aggregates a
    * grain rollup can re-aggregate exactly).
    */
  /** `measureInputs` carries each measure column's referenced BASE
    * column names, recorded at registration (the template code sees the
    * real columns there) — lineage composition reads these directly
    * instead of reverse-engineering names from the canonicalized
    * template's hash-derived exprIds, which was collision-brittle.
    */
  final case class MvDef(
      dims: Seq[String],
      measures: Seq[(String, Expression)],
      countCol: String,
      mvPath: String,
      maxes: Seq[(String, Expression)] = Nil,
      mins: Seq[(String, Expression)] = Nil,
      baseStamp: String = "",
      measureInputs: Map[String, Seq[String]] = Map.empty)

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

  /** A rollup of an FK star join `fact ⋈ dim` at a grain drawn from
    * EITHER side — the join-aware MV shape (an aggregate above a star
    * join is the most common real-world MV serve). The registered join
    * is pinned exactly: inner, single equi-pair `(joinFactCol =
    * joinDimCol)`; a query joining on anything else must fall back.
    * `serve` carries the grain/measures/rollup-path exactly like a
    * single-table MV (its `baseStamp` is unused — star freshness is the
    * PAIR of stamps, both bases can go stale independently).
    */
  final case class StarMvDef(
      factKey: String,
      dimKey: String,
      joinFactCol: String,
      joinDimCol: String,
      serve: MvDef,
      factStamp: String = "",
      dimStamp: String = "")

  /** One dimension leg of a snowflake/multi-dim star MV: the dim's
    * base key and the FK equi-pair joining it to the fact.
    */
  final case class DimRef(
      dimKey: String,
      joinFactCol: String,
      joinDimCol: String,
      dimStamp: String = "")

  /** A rollup serving aggregates over `fact ⋈ dim₁ ⋈ … ⋈ dimₙ` (TPC-H
    * Q5/Q7/Q8 group by attributes of a SECOND dim or of two dims at
    * once). The grain must contain EVERY fact-side FK (the composite
    * FK grain functionally determines every attribute of every dim);
    * serving re-joins the rollup to ALL the live dims — zero fact
    * bytes, and one composite-grain rollup answers any grouping drawn
    * from any combination of the dims' attributes.
    */
  final case class SnowMvDef(
      factKey: String,
      dims: Seq[DimRef],
      serve: MvDef,
      factStamp: String = "")

  /** Base-path → MV registry, session-agnostic (paths are absolute). */
  private val catalog =
    new java.util.concurrent.ConcurrentHashMap[String, MvDef]()

  /** factKey → snowflake MV registry (several grains may coexist). */
  private val snowCatalog = new java.util.concurrent.ConcurrentHashMap[
    String, List[SnowMvDef]]()

  /** (factKey, dimKey) → star-join MV registry. A pair can carry
    * SEVERAL rollups at different grains (e.g. the (dim-attr, fact-attr)
    * grain serving classic subsumption and the FK grain serving
    * join-back); candidates are tried classic-first (zero join at serve
    * time beats a rollup×dim join).
    */
  private val starCatalog = new java.util.concurrent.ConcurrentHashMap[
    (String, String), List[StarMvDef]]()

  /** The canonical root-path key Spark reports for a parquet scan. */
  def keyFor(spark: SparkSession, rawPath: String): String = {
    val plan = spark.read.parquet(rawPath).queryExecution.analyzed
    plan.collectFirst {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString).sorted.mkString(",")
      }
    }.getOrElse(rawPath)
  }

  /** NOTE on external writers: freshness is checked via [[stampFor]],
    * whose 1 s TTL cache is invalidated here (a register follows a
    * rebuild). A base rewritten by a process that never calls
    * register() can be served a stale MV answer for up to the TTL
    * after its rewrite — inside the documented 1.2 s mtime-granularity
    * staleness window the freshness spec already allows.
    */
  def register(baseKey: String, mv: MvDef): Unit = {
    stampCache.remove(baseKey) // a register follows a (re)build: re-stat
    catalog.put(baseKey, mv)
  }
  def registerStar(mv: StarMvDef): Unit = {
    stampCache.remove(mv.factKey)
    stampCache.remove(mv.dimKey)
    starCatalog.compute((mv.factKey, mv.dimKey), (_, cur) =>
      // re-registering the same grain replaces it; other grains persist
      mv :: Option(cur).getOrElse(Nil)
        .filterNot(_.serve.dims == mv.serve.dims))
  }
  def registerSnow(mv: SnowMvDef): Unit = {
    stampCache.remove(mv.factKey)
    mv.dims.foreach(d => stampCache.remove(d.dimKey))
    snowCatalog.compute(mv.factKey, (_, cur) =>
      mv :: Option(cur).getOrElse(Nil)
        .filterNot(_.serve.dims == mv.serve.dims))
  }
  def clear(): Unit = {
    catalog.clear(); starCatalog.clear(); snowCatalog.clear()
    stampCache.clear()
  }

  /** Freshness stamp for a base key (comma-joined root paths): the
    * roots' [[graft.ops.FixtureCache.stamp]]s, part-file manifests read
    * through the Hadoop FS. A served MV is only exact while its base is
    * the generation it was built from — the rule re-checks this stamp
    * at MATCH time, so a base rewritten after registration fails the
    * match and the query falls back to the raw scan. At cluster scale
    * this is a catalog snapshot-version check. An unreachable root
    * stamps [[graft.ops.FixtureCache.Absent]] with one WARN per stat.
    */
  def stampFor(baseKey: String): String = {
    // matchBase/matchStar run once per Aggregate in EVERY optimized
    // query once any MV is registered — a live stamp per visit is
    // per-query planning I/O. A 1 s TTL cache amortizes it to at most
    // one stamp per base per second; the TTL entry (not an unbounded
    // lifetime) is what keeps rewritten-base detection sound.
    // SparkSession.active supplies the Hadoop conf (never
    // SparkContext.getOrCreate, which can CONSTRUCT a context).
    val now = System.nanoTime()
    val cached = stampCache.get(baseKey)
    if (cached != null && now - cached._1 <= StampTtlNanos) return cached._2
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val v = baseKey.split(",").map(graft.ops.FixtureCache.stamp(conf, _))
      .mkString(",")
    stampCache.put(baseKey, (now, v))
    v
  }

  /** A registration stamped "" is never stale. */
  private def fresh(baseKey: String, stamp: String): Boolean =
    stamp.isEmpty || stampFor(baseKey) == stamp

  private val stampCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()
  private val StampTtlNanos = 1000L * 1000 * 1000

  /** Lineage support: for a scan whose root-path key is a REGISTERED
    * rollup, the base origin of each MV column — so a lineage walk
    * over the OPTIMIZED (MV-served) plan reaches the true base tables
    * instead of stopping at the fixture. Dims resolve to whichever
    * base table carries the column (fact first — star grains draw from
    * both sides), measure columns to their template's referenced
    * columns, and the count column to NO value source (a count's bytes
    * come from no column — identical to count(*) lineage on the raw
    * plan, which is what makes served and raw lineage agree exactly).
    */
  def mvColumnOrigins(spark: SparkSession, scanKey: String)
      : Option[Map[String, Seq[(String, String)]]] = {
    import scala.jdk.CollectionConverters._
    def tableOf(key: String): String =
      new org.apache.hadoop.fs.Path(key.split(",")(0))
        .getName.stripSuffix(".parquet")
    def colsOf(key: String, table: String): Seq[(String, String)] =
      spark.read.parquet(key.split(","): _*).schema.fieldNames.toSeq
        .map(c => (table, c))
    // measure input-column names were recorded verbatim at registration
    // (MvDef.measureInputs); candidates are ordered fact-first, so the
    // first table carrying the name wins — a measure template only ever
    // references the fact
    def originsFor(mv: MvDef, candidates: Seq[(String, String)])
        : Map[String, Seq[(String, String)]] = {
      val dims = mv.dims.map(d =>
        d -> candidates.filter(_._2 == d).take(1)).toMap
      val meas = (mv.measures ++ mv.maxes ++ mv.mins).map {
        case (mvCol, _) =>
          mvCol -> mv.measureInputs.getOrElse(mvCol, Nil)
            .flatMap(n => candidates.filter(_._2 == n).take(1))
            .distinct.sortBy(identity)
      }.toMap
      dims ++ meas + (mv.countCol -> Nil)
    }
    val single = catalog.asScala.collectFirst {
      case (baseKey, mv) if keyFor(spark, mv.mvPath) == scanKey =>
        originsFor(mv, colsOf(baseKey, tableOf(baseKey)))
    }
    single.orElse(starCatalog.asScala.values.flatten.collectFirst {
      case mv if keyFor(spark, mv.serve.mvPath) == scanKey =>
        // fact columns first: star grains draw from both sides, and a
        // measure template only ever references the fact
        originsFor(mv.serve,
          colsOf(mv.factKey, tableOf(mv.factKey)) ++
            colsOf(mv.dimKey, tableOf(mv.dimKey)))
    }).orElse(snowCatalog.asScala.values.flatten.collectFirst {
      case mv if keyFor(spark, mv.serve.mvPath) == scanKey =>
        originsFor(mv.serve,
          colsOf(mv.factKey, tableOf(mv.factKey)) ++
            mv.dims.flatMap(d => colsOf(d.dimKey, tableOf(d.dimKey))))
    })
  }

  /** The scan under an aggregate, if it is a registered base reached
    * through pure column-pruning Projects and dimension-only Filters
    * (a predicate over grain columns selects whole MV groups, so it
    * maps onto the rollup verbatim; any other predicate kills the
    * match). Returns the MV and the collected dim predicates.
    */
  private def matchBase(
      plan: LogicalPlan): Option[(MvDef, Seq[Expression])] = plan match {
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation =>
        val key = fs.location.rootPaths.map(_.toString).sorted.mkString(",")
        Option(catalog.get(key))
          // stale registration: base rewritten since the MV was built →
          // the rollup no longer reflects the base; fail the match
          .filter(mv => fresh(key, mv.baseStamp))
          .map(mv => (mv, Nil))
      case _ => None
    }
    case Project(projList, child)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      matchBase(child)
    case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, child) =>
      matchBase(child).flatMap { case (mv, conds) =>
        // dim-ONLY means: deterministic, references at least one column,
        // and every referenced column is a grain column. A referenceless
        // or nondeterministic predicate (rand() < p) selects RAW ROWS —
        // remapping it onto the rollup would sample whole MV groups,
        // silently changing results for any user query the installed
        // rule sees, so it kills the match instead.
        val dimOnly = cond.deterministic && cond.references.nonEmpty &&
          cond.references.forall(a => mv.dims.contains(a.name))
        if (dimOnly) Some((mv, cond +: conds)) else None
      }
    case _ => None
  }

  /** The scan key at the bottom of a join BRANCH, plus the filter
    * conjuncts collected on the way down (split on And; validated
    * against the MV's grain by [[matchStar]] once the MV is known) and
    * the leaf's output exprIds — the SIDE-OF-ORIGIN record that lets
    * the join-back resolve each referenced attribute to the branch it
    * actually came from instead of by name alone.
    */
  private def walkBranch(plan: LogicalPlan)
      : Option[(String, Seq[Expression], Set[Long])] = plan match {
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation =>
        Some((fs.location.rootPaths.map(_.toString).sorted.mkString(","),
          Nil, l.output.map(_.exprId.id).toSet))
      case _ => None
    }
    case Project(projList, child)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      walkBranch(child)
    case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, child) =>
      walkBranch(child).map { case (key, conds, ids) =>
        (key, splitAnd(cond) ++ conds, ids)
      }
    case _ => None
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Match `Join(fact, dim)` (either order) under pruning Projects and
    * Filters, against the registered star MVs for the pair. The join
    * must be INNER with exactly a registered single equi-pair. Returns
    * the FRESH candidates (either base rewritten since registration →
    * that candidate is dropped) plus the raw filter conjuncts collected
    * anywhere in the tree — each serving strategy validates the
    * conjuncts against its own capabilities.
    */
  private def matchStar(plan: LogicalPlan): Option[
      (Seq[StarMvDef], Seq[Expression], Map[String, Set[Long]])] = {

    def go(p: LogicalPlan): Option[
        (Seq[StarMvDef], Seq[Expression], Map[String, Set[Long]])] =
      p match {
        case Project(projList, child)
            if projList.forall(_.isInstanceOf[AttributeReference]) =>
          go(child)
        case org.apache.spark.sql.catalyst.plans.logical
            .Filter(cond, child) =>
          go(child).map { case (mv, conds, ids) =>
            (mv, splitAnd(cond) ++ conds, ids)
          }
        case Join(left, right, Inner, Some(cond), _) =>
          for {
            (lk, lf, lids) <- walkBranch(left)
            (rk, rf, rids) <- walkBranch(right)
            if lk != rk // self-joins are never a registered star
            all = starCatalog.getOrDefault((lk, rk), Nil) ++
              starCatalog.getOrDefault((rk, lk), Nil)
            keys <- cond match {
              case org.apache.spark.sql.catalyst.expressions.EqualTo(
                  a: AttributeReference, b: AttributeReference) =>
                Some(Set(a.name, b.name))
              case _ => None
            }
            cands = all.filter(mv =>
              keys == Set(mv.joinFactCol, mv.joinDimCol))
            if cands.nonEmpty
          } yield (cands, lf ++ rf, Map(lk -> lids, rk -> rids))
        case _ => None
      }

    go(plan).map { case (cands, rawConds, ids) =>
      (cands.filter(mv =>
        fresh(mv.factKey, mv.factStamp) && fresh(mv.dimKey, mv.dimStamp)),
        rawConds, ids)
    }.filter(_._1.nonEmpty)
  }

  /** Flatten an arbitrary INNER-join tree under pruning Projects and
    * Filters: the leaf scans (key + output exprIds), every filter
    * conjunct found anywhere, and every join equi-pair (any join
    * carrying a non-equi-pair conjunct kills the flatten — the
    * registered shape is exact FK equi-joins only).
    */
  private def flattenJoin(plan: LogicalPlan): Option[
      (Seq[(String, Set[Long])], Seq[Expression], Seq[Set[String]])] =
    plan match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          Some((Seq((
            fs.location.rootPaths.map(_.toString).sorted.mkString(","),
            l.output.map(_.exprId.id).toSet)), Nil, Nil))
        case _ => None
      }
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        flattenJoin(child)
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, child) =>
        flattenJoin(child).map { case (ls, cs, ps) =>
          (ls, splitAnd(cond) ++ cs, ps)
        }
      case Join(left, right, Inner, Some(cond), _) =>
        for {
          (ll, lc, lp) <- flattenJoin(left)
          (rl, rc, rp) <- flattenJoin(right)
          pairs <- {
            val cj = splitAnd(cond).map {
              case org.apache.spark.sql.catalyst.expressions.EqualTo(
                  a: AttributeReference, b: AttributeReference) =>
                Some(Set(a.name, b.name))
              case _ => None
            }
            if (cj.forall(_.isDefined)) Some(cj.map(_.get)) else None
          }
        } yield (ll ++ rl, lc ++ rc, lp ++ rp ++ pairs)
      case _ => None
    }

  /** Match a ≥2-dim snowflake under the aggregate: the flattened leaf
    * set must equal {fact} ∪ dims EXACTLY (each table once) and the
    * flattened equi-pairs must equal the registered FK pairs — any
    * extra table, missing dim, or differing join condition falls back.
    */
  private def matchSnow(plan: LogicalPlan): Option[
      (Seq[SnowMvDef], Seq[Expression], Map[String, Set[Long]])] =
    flattenJoin(plan).flatMap { case (leaves, conds, pairs) =>
      val keys = leaves.map(_._1)
      if (keys.size < 3 || keys.distinct.size != keys.size) None
      else {
        val pairSet = pairs.toSet
        val sortedKeys = keys.sorted
        val cands = keys.flatMap(k =>
          snowCatalog.getOrDefault(k, Nil)).distinct.filter { mv =>
          (mv.factKey +: mv.dims.map(_.dimKey)).sorted == sortedKeys &&
            pairSet == mv.dims
              .map(d => Set(d.joinFactCol, d.joinDimCol)).toSet &&
            fresh(mv.factKey, mv.factStamp) &&
            mv.dims.forall(d => fresh(d.dimKey, d.dimStamp))
        }
        if (cands.isEmpty) None else Some((cands, conds, leaves.toMap))
      }
    }

  /** Classic star serving: every conjunct is either an absorbed
    * `IsNotNull(join key)` (implied by the inner join the MV already
    * materialized) or deterministic, column-referencing, and grain-only
    * (selects whole MV groups → remaps onto the rollup). Returns the
    * grain-mapped filter list, or None if any conjunct is out of reach.
    */
  private def classicStarConds(mv: StarMvDef,
      rawConds: Seq[Expression]): Option[Seq[Expression]] = {
    val joinKeys = Set(mv.joinFactCol, mv.joinDimCol)
    val dimConds = Seq.newBuilder[Expression]
    val ok = rawConds.forall {
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(
          a: AttributeReference) if joinKeys.contains(a.name) =>
        true
      case c if c.deterministic && c.references.nonEmpty &&
          c.references.forall(a => mv.serve.dims.contains(a.name)) =>
        dimConds += c
        true
      case _ => false
    }
    if (ok) Some(dimConds.result()) else None
  }

  final case class RewriteAggToMv(spark: SparkSession)
      extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      // grouping sets / ROLLUP / CUBE above a registered star or
      // snowflake: Aggregate over Expand over the join
      case agg @ Aggregate(groupingExprs, resultExprs,
          org.apache.spark.sql.catalyst.plans.logical
            .Expand(projections, expandOut, child), None) =>
        starOrSnowServes(child).flatMap { case (serves, rawConds, ids) =>
          serves.iterator.flatMap { case (mv, factKey, dimRefs) =>
            serveCtx(mv, ids(factKey), dimRefs.map(d => (d, ids(d.dimKey))))
              .flatMap(ctx => tryExpandJoinBack(groupingExprs, resultExprs,
                projections, expandOut, ctx, rawConds))
          }.nextOption()
        }.getOrElse(agg)
      case agg @ Aggregate(groupingExprs, resultExprs, child, None) =>
        matchBase(child) match {
          case Some((mv, dimFilters)) =>
            tryRewrite(groupingExprs, resultExprs, mv, dimFilters)
              .getOrElse(agg)
          case None =>
            matchStar(child) match {
              case Some((cands, rawConds, idsByKey)) =>
                // classic (zero-join) serving beats join-back; within a
                // strategy, first registered grain that fits wins
                cands.iterator.flatMap { star =>
                  classicStarConds(star, rawConds).flatMap(f =>
                    tryRewrite(groupingExprs, resultExprs, star.serve, f))
                }.nextOption().orElse(
                  cands.iterator.flatMap(star =>
                    serveCtx(star.serve, idsByKey(star.factKey),
                      Seq((DimRef(star.dimKey, star.joinFactCol,
                        star.joinDimCol), idsByKey(star.dimKey))))
                      .flatMap(ctx => tryJoinBackN(
                        groupingExprs, resultExprs, ctx, rawConds)))
                    .nextOption())
                  .getOrElse(agg)
              case None =>
                matchSnow(child) match {
                  case Some((cands, rawConds, idsByKey)) =>
                    cands.iterator.flatMap(snow =>
                      serveCtx(snow.serve, idsByKey(snow.factKey),
                        snow.dims.map(d => (d, idsByKey(d.dimKey))))
                        .flatMap(ctx => tryJoinBackN(
                          groupingExprs, resultExprs, ctx, rawConds)))
                      .nextOption().getOrElse(agg)
                  case None => agg
                }
            }
        }
    }

    /** star and snowflake candidates in one uniform
      * (serve, factKey, dimRefs) shape for the Expand path
      */
    private def starOrSnowServes(child: LogicalPlan): Option[(
        Seq[(MvDef, String, Seq[DimRef])], Seq[Expression],
        Map[String, Set[Long]])] =
      matchStar(child).map { case (cands, conds, ids) =>
        (cands.map(s => (s.serve, s.factKey,
          Seq(DimRef(s.dimKey, s.joinFactCol, s.joinDimCol)))), conds, ids)
      }.orElse(matchSnow(child).map { case (cands, conds, ids) =>
        (cands.map(s => (s.serve, s.factKey, s.dims)), conds, ids)
      })

    private def tryRewrite(
        groupingExprs: Seq[Expression],
        resultExprs: Seq[NamedExpression],
        mv: MvDef,
        dimFilters: Seq[Expression]): Option[LogicalPlan] = {

      // every grouping key must be a bare MV dimension column
      val groupOk = groupingExprs.nonEmpty && groupingExprs.forall {
        case a: AttributeReference => mv.dims.contains(a.name)
        case _ => false
      }
      if (!groupOk) return None

      val measureByNorm: Map[Expression, String] =
        mv.measures.map { case (mvCol, templ) => templ -> mvCol }.toMap
      val maxByNorm: Map[Expression, String] =
        mv.maxes.map { case (mvCol, templ) => templ -> mvCol }.toMap
      val minByNorm: Map[Expression, String] =
        mv.mins.map { case (mvCol, templ) => templ -> mvCol }.toMap

      val mvPlan = spark.read.parquet(mv.mvPath).queryExecution.analyzed
      val mvAttr = mvPlan.output.map(a => a.name -> a).toMap
      // a stale registration (missing column) must fail the match, not throw
      if (!mv.dims.forall(mvAttr.contains) || !mvAttr.contains(mv.countCol) ||
        !(mv.measures ++ mv.maxes ++ mv.mins)
          .forall(m => mvAttr.contains(m._1))) return None

      def aggOf(f: org.apache.spark.sql.catalyst.expressions.aggregate
          .AggregateFunction): AggregateExpression =
        AggregateExpression(f, Complete, isDistinct = false)
      def sumOf(name: String): AggregateExpression = aggOf(Sum(mvAttr(name)))

      // rewrite every result expression or give up
      val rewritten: Seq[Option[NamedExpression]] = resultExprs.map {
        case a: AttributeReference if mv.dims.contains(a.name) =>
          Some(Alias(mvAttr(a.name), a.name)(exprId = a.exprId))
        case al @ Alias(
            AggregateExpression(Sum(e, _), Complete, false, None, _), name) =>
          measureByNorm.get(normalize(e)).map { mvCol =>
            Alias(sumOf(mvCol), name)(exprId = al.exprId)
          }
        case al @ Alias(
            AggregateExpression(
              org.apache.spark.sql.catalyst.expressions.aggregate.Max(e),
              Complete, false, None, _), name) =>
          maxByNorm.get(normalize(e)).map { mvCol =>
            Alias(aggOf(org.apache.spark.sql.catalyst.expressions.aggregate
              .Max(mvAttr(mvCol))), name)(exprId = al.exprId)
          }
        case al @ Alias(
            AggregateExpression(
              org.apache.spark.sql.catalyst.expressions.aggregate.Min(e),
              Complete, false, None, _), name) =>
          minByNorm.get(normalize(e)).map { mvCol =>
            Alias(aggOf(org.apache.spark.sql.catalyst.expressions.aggregate
              .Min(mvAttr(mvCol))), name)(exprId = al.exprId)
          }
        case al @ Alias(
            AggregateExpression(Count(Seq(Literal(1, _))), Complete, false,
              None, _), name) =>
          Some(Alias(sumOf(mv.countCol), name)(exprId = al.exprId))
        case _ => None
      }
      if (rewritten.exists(_.isEmpty)) return None

      val newGrouping = groupingExprs.map {
        case a: AttributeReference => mvAttr(a.name)
      }
      // dim-only base predicates select whole MV groups: re-key each
      // attribute reference onto the MV relation's columns by name
      val newChild = dimFilters.foldLeft(mvPlan) { (child, cond) =>
        org.apache.spark.sql.catalyst.plans.logical.Filter(
          cond.transformUp {
            case a: AttributeReference => mvAttr(a.name)
          }, child)
      }
      Some(Aggregate(newGrouping, rewritten.map(_.get), newChild, None))
    }

    /** Serving context for join-back rewrites: the rollup and the
      * live dims resolved and validated (every registered column
      * present — a stale registration fails the match, never throws).
      * Shared by the flat and the grouping-sets (Expand) paths.
      */
    private final case class ServeCtx(
        mv: MvDef,
        factIds: Set[Long],
        dims: Seq[(DimRef, Set[Long])],
        mvPlan: LogicalPlan,
        mvAttr: Map[String, Attribute],
        dimPlans: Seq[LogicalPlan],
        dimAttrs: Seq[Map[String, Attribute]]) {

      /** side-of-origin resolution: fact-origin references serve from
        * the rollup iff grain-named; dim-origin references from their
        * own dim's live plan — a fact column sharing a name with a dim
        * column can never silently remap (it falls back instead)
        */
      def resolveAttr(a: AttributeReference): Option[Attribute] =
        if (factIds.contains(a.exprId.id)) {
          if (mv.dims.contains(a.name)) mvAttr.get(a.name) else None
        } else dims.indices.collectFirst {
          case i if dims(i)._2.contains(a.exprId.id) &&
              dimAttrs(i).contains(a.name) => dimAttrs(i)(a.name)
        }

      private val joinKeys: Set[String] = dims.flatMap { case (d, _) =>
        Seq(d.joinFactCol, d.joinDimCol) }.toSet

      /** IsNotNull(join key) conjuncts are absorbed (re-established by
        * the join-back inner joins); everything else must be
        * deterministic and fully resolvable. None = unservable.
        */
      def splitConds(rawConds: Seq[Expression]): Option[Seq[Expression]] = {
        val kept = Seq.newBuilder[Expression]
        val ok = rawConds.forall {
          case org.apache.spark.sql.catalyst.expressions.IsNotNull(
              a: AttributeReference) if joinKeys.contains(a.name) =>
            true
          case c if c.deterministic && c.references.nonEmpty &&
              c.references.forall {
                case a: AttributeReference => resolveAttr(a).isDefined
                case _ => false
              } =>
            kept += c
            true
          case _ => false
        }
        if (ok) Some(kept.result()) else None
      }

      private def aggOf(f: org.apache.spark.sql.catalyst.expressions
          .aggregate.AggregateFunction): AggregateExpression =
        AggregateExpression(f, Complete, isDistinct = false)
      private def sumOf(name: String): AggregateExpression =
        aggOf(Sum(mvAttr(name)))

      private val measureByNorm = mv.measures.map(_.swap).toMap
      private val maxByNorm = mv.maxes.map(_.swap).toMap
      private val minByNorm = mv.mins.map(_.swap).toMap

      /** Rewrite one aggregate output column onto the rollup: sum →
        * sum of partial sums, count(*) → sum of the count column, and
        * max/min → max/min of partial maxes/mins — exact because
        * grouping by dim attributes PARTITIONS the FK groups (each FK
        * combination maps to one row per dim).
        */
      def rewriteAgg(ne: NamedExpression): Option[NamedExpression] =
        ne match {
          case al @ Alias(
              AggregateExpression(Sum(e, _), Complete, false, None, _),
              name) =>
            measureByNorm.get(normalize(e)).map { mvCol =>
              Alias(sumOf(mvCol), name)(exprId = al.exprId)
            }
          case al @ Alias(
              AggregateExpression(
                org.apache.spark.sql.catalyst.expressions.aggregate.Max(e),
                Complete, false, None, _), name) =>
            maxByNorm.get(normalize(e)).map { mvCol =>
              Alias(aggOf(org.apache.spark.sql.catalyst.expressions
                .aggregate.Max(mvAttr(mvCol))), name)(exprId = al.exprId)
            }
          case al @ Alias(
              AggregateExpression(
                org.apache.spark.sql.catalyst.expressions.aggregate.Min(e),
                Complete, false, None, _), name) =>
            minByNorm.get(normalize(e)).map { mvCol =>
              Alias(aggOf(org.apache.spark.sql.catalyst.expressions
                .aggregate.Min(mvAttr(mvCol))), name)(exprId = al.exprId)
            }
          case al @ Alias(
              AggregateExpression(Count(Seq(Literal(1, _))), Complete,
                false, None, _), name) =>
            Some(Alias(sumOf(mv.countCol), name)(exprId = al.exprId))
          case _ => None
        }

      /** the serving attrs a set of ORIGINAL conjuncts reads after
        * remapping */
      def condAttrs(conds: Seq[Expression]): Set[Attribute] =
        conds.flatMap(_.references.toSeq.collect {
          case a: AttributeReference => resolveAttr(a)
        }.flatten).toSet

      /** The pruned, filtered `rollup ⋈ dim₁ ⋈ … ⋈ dimₙ` serving join.
        * Manual column pruning: extraOptimizations run AFTER the main
        * optimizer batches, so the Projects here are what keeps the
        * physical scans narrow (FileSourceStrategy derives ReadSchema
        * from them). Single-side conjuncts filter BELOW the joins for
        * the same reason (placement here is what gets them into the
        * scans' PushedFilters); conjuncts spanning sides stay above.
        */
      def servedJoin(conds: Seq[Expression], needed: Set[Attribute],
          usedMvCols: Set[String]): LogicalPlan = {
        val mvPruned = Project(mvPlan.output.filter(a =>
          dims.exists(_._1.joinFactCol == a.name) ||
            needed.contains(a) || usedMvCols.contains(a.name)), mvPlan)
        val dimPruneds = dims.zipWithIndex.map { case ((d, _), i) =>
          Project(dimPlans(i).output.filter(a =>
            a.name == d.joinDimCol || needed.contains(a)), dimPlans(i))
        }
        def remap(cond: Expression): Expression = cond.transformUp {
          case a: AttributeReference => resolveAttr(a).getOrElse(a)
        }
        def sideOf(cond: Expression): Option[Int] = {
          val sides = cond.references.toSeq.collect {
            case a: AttributeReference =>
              if (factIds.contains(a.exprId.id)) 0
              else dims.indexWhere(_._2.contains(a.exprId.id)) + 1
          }.toSet
          if (sides.size == 1) Some(sides.head) else None
        }
        val bySide = conds.groupBy(sideOf)
        def filtered(side: Option[Int], base: LogicalPlan): LogicalPlan =
          bySide.getOrElse(side, Nil).foldLeft(base) { (child, cond) =>
            org.apache.spark.sql.catalyst.plans.logical.Filter(
              remap(cond), child)
          }
        val joined = dims.indices.foldLeft(
          filtered(Some(0), mvPruned): LogicalPlan) { (acc, i) =>
          Join(acc, filtered(Some(i + 1), dimPruneds(i)), Inner,
            Some(org.apache.spark.sql.catalyst.expressions.EqualTo(
              mvAttr(dims(i)._1.joinFactCol),
              dimAttrs(i)(dims(i)._1.joinDimCol))),
            org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE)
        }
        filtered(None, joined)
      }
    }

    /** build a ServeCtx, or None when any FK is missing from the grain
      * (a grain without the FK cannot determine that dim's attributes
      * — the negative pin) or any registered column is absent
      */
    private def serveCtx(mv: MvDef, factIds: Set[Long],
        dims: Seq[(DimRef, Set[Long])]): Option[ServeCtx] = {
      if (!dims.forall { case (d, _) => mv.dims.contains(d.joinFactCol) })
        return None
      val mvPlan = spark.read.parquet(mv.mvPath).queryExecution.analyzed
      val mvAttr = mvPlan.output.map(a => a.name -> a).toMap
      if (!mv.dims.forall(mvAttr.contains) || !mvAttr.contains(mv.countCol) ||
        !(mv.measures ++ mv.maxes ++ mv.mins)
          .forall(m => mvAttr.contains(m._1))) return None
      val dimPlans = dims.map { case (d, _) =>
        spark.read.parquet(d.dimKey.split(","): _*).queryExecution.analyzed
      }
      val dimAttrs = dimPlans.map(_.output.map(a => a.name -> a).toMap)
      if (!dims.zip(dimAttrs).forall { case ((d, _), m) =>
        m.contains(d.joinDimCol) }) return None
      Some(ServeCtx(mv, factIds, dims, mvPlan, mvAttr, dimPlans, dimAttrs))
    }

    /** JOIN-BACK serving, generalized over N dims — the rewrite for
      * the commonest star query of all: `GROUP BY <dim attribute(s)>`
      * over `fact ⋈ dim₁ ⋈ … ⋈ dimₙ` (TPC-H Q5/Q7/Q8/Q9 all group by
      * dim attributes). A rollup whose grain CONTAINS every fact-side
      * join FK functionally determines every attribute of every dim
      * (FK → one dim row, the registered PK-FK relationship), so the
      * aggregate is served by re-joining the FK-grain rollup to the
      * LIVE dims and re-aggregating at the requested attributes:
      * rollup rows × dim joins, ZERO fact bytes at query time. At
      * 100 TB that replaces a fact scan + shuffle joins with a
      * FK-grain rollup × broadcast dims.
      */
    private def tryJoinBackN(
        groupingExprs: Seq[Expression],
        resultExprs: Seq[NamedExpression],
        ctx: ServeCtx,
        rawConds: Seq[Expression]): Option[LogicalPlan] = {
      val groupOk = groupingExprs.nonEmpty && groupingExprs.forall {
        case a: AttributeReference => ctx.resolveAttr(a).isDefined
        case _ => false
      }
      if (!groupOk) return None
      val conds = ctx.splitConds(rawConds).getOrElse(return None)
      val rewritten: Seq[Option[NamedExpression]] = resultExprs.map {
        case a: AttributeReference if ctx.resolveAttr(a).isDefined =>
          ctx.resolveAttr(a).map(attr =>
            Alias(attr, a.name)(exprId = a.exprId))
        case ne => ctx.rewriteAgg(ne)
      }
      if (rewritten.exists(_.isEmpty)) return None
      val needed: Set[Attribute] =
        groupingExprs.collect {
          case a: AttributeReference => ctx.resolveAttr(a)
        }.flatten.toSet ++ ctx.condAttrs(conds)
      val usedMvCols: Set[String] =
        rewritten.flatMap(_.get.collect {
          case a: AttributeReference => a.name
        }).toSet
      val newChild = ctx.servedJoin(conds, needed, usedMvCols)
      val newGrouping = groupingExprs.map {
        case a: AttributeReference => ctx.resolveAttr(a).get
      }
      Some(Aggregate(newGrouping, rewritten.map(_.get), newChild, None))
    }

    /** GROUPING-SETS join-back: `Aggregate(…gid…, aggs, Expand(projs,
      * out, fact ⋈ dims))` — the shape ROLLUP/CUBE/GROUPING SETS
      * compile to. Expand replicates each input row once per grouping
      * set and the Aggregate groups by (set cols…, gid); within one
      * gid every grouping column is either a null literal (constant in
      * that set) or resolves via FK determination (dim attrs, grain
      * cols), so PER GID the flat join-back argument applies verbatim
      * — including the grand-total set (all nulls). The rewrite keeps
      * the Aggregate and the Expand structure intact (same output ids,
      * same gid literals), remaps the kept projection columns onto the
      * serving join, appends the rollup's pre-aggregated columns as
      * the new pass-throughs, and rewrites sum/count/max/min exactly
      * like the flat path. One FK-grain rollup thus amortizes across
      * ALL the requested grains at once — at 100 TB a reporting ROLLUP
      * costs |rollup| × broadcast dims instead of replicating the full
      * fact once per grouping set.
      */
    private def tryExpandJoinBack(
        groupingExprs: Seq[Expression],
        resultExprs: Seq[NamedExpression],
        projections: Seq[Seq[Expression]],
        expandOut: Seq[Attribute],
        ctx: ServeCtx,
        rawConds: Seq[Expression]): Option[LogicalPlan] = {

      val conds = ctx.splitConds(rawConds).getOrElse(return None)

      // references NOT under an aggregate function: the grouping-set
      // columns + gid the new Expand must keep producing
      def refsOutsideAgg(e: Expression): Seq[Long] = e match {
        case _: AggregateExpression => Nil
        case a: AttributeReference => Seq(a.exprId.id)
        case other => other.children.flatMap(refsOutsideAgg)
      }
      val keepIds: Set[Long] =
        (groupingExprs.flatMap(refsOutsideAgg) ++
          resultExprs.flatMap(refsOutsideAgg)).toSet
      if (!keepIds.subsetOf(expandOut.map(_.exprId.id).toSet)) return None
      val keptIdx = expandOut.indices.filter(j =>
        keepIds.contains(expandOut(j).exprId.id))

      // each kept projection cell: a null/gid literal stays, a column
      // remaps by side of origin, anything else is unservable
      val remappedRows: Seq[Option[Seq[Expression]]] = projections.map {
        row =>
          val cells = keptIdx.map { j =>
            row(j) match {
              case a: AttributeReference =>
                ctx.resolveAttr(a): Option[Expression]
              case l: Literal => Some(l): Option[Expression]
              case _ => None
            }
          }
          if (cells.forall(_.isDefined)) Some(cells.map(_.get)) else None
      }
      if (remappedRows.exists(_.isEmpty)) return None

      val rewritten: Seq[Option[NamedExpression]] = resultExprs.map {
        case ne if ne.exists(_.isInstanceOf[AggregateExpression]) =>
          ctx.rewriteAgg(ne)
        case ne if refsOutsideAgg(ne).forall(keepIds.contains) =>
          Some(ne) // pure grouping-set pass-through: kept output ids
        case _ => None
      }
      if (rewritten.exists(_.isEmpty)) return None

      // rollup columns the rewritten aggregates read — the new Expand
      // passes them through in every grouping-set row
      val usedMvAttrs = rewritten.flatMap(_.get.collect {
        case a: AttributeReference
            if ctx.mvAttr.get(a.name).exists(_.exprId == a.exprId) => a
      }).distinct
      val newOut = keptIdx.map(expandOut) ++ usedMvAttrs
      val newProjs = remappedRows.map(_.get ++ usedMvAttrs)
      val needed: Set[Attribute] = newProjs.flatMap(_.collect {
        case a: AttributeReference => a
      }).toSet ++ ctx.condAttrs(conds)
      val child = ctx.servedJoin(conds, needed,
        usedMvAttrs.map(_.name).toSet)
      Some(Aggregate(groupingExprs, rewritten.map(_.get),
        org.apache.spark.sql.catalyst.plans.logical.Expand(
          newProjs, newOut, child), None))
    }
  }
}
