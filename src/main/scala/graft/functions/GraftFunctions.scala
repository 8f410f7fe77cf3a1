package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.{CosineFloorScaled, DotProductLong, Interop, L2SquaredLong, Md5Hash60}

import graft.polarify.Program

/** `SparkSessionExtensions` entry point, and the ONE place graft's
  * Catalyst pieces are registered: the native SQL functions `dot_long`
  * and `graft_hash60`, the [[graft.plans.RewriteTopNPerGroup]] and
  * [[graft.plans.MvRewrite.RewriteAggToMv]] optimizer rules, and the
  * [[graft.plans.TopNPerGroupStrategy]] planner strategy.
  *
  * Every graft session gets it from [[graft.Sessions.configure]]
  * (`withExtensions`), so a gate's plan never depends on which gates
  * ran before it; a SQL gateway gets the same from
  * `spark.sql.extensions=graft.functions.GraftSparkExtensions`. A query
  * that must keep the stock plan opts out per session with Spark's
  * `spark.sql.optimizer.excludedRules` ([[graft.Sessions.stockPlans]]).
  *
  * Each session's MV rule is built with that session's own
  * [[graft.plans.MvRewrite.Catalog]], so a rollup registered in one
  * session never rewrites another's plans, and a `newSession()` child
  * starts with an empty catalog.
  */
class GraftSparkExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  // Spark re-runs the rule builders on every optimizer pass, so the
  // catalog lives here, one per session; weakly keyed, so a session
  // that is dropped takes its catalog with it
  private val mvCatalogs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, graft.plans.MvRewrite.Catalog]())

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    ext.injectFunction((
      FunctionIdentifier("dot_long"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.DotProductLong].getName, "dot_long"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, s"dot_long expects 2 arguments, got ${exprs.length}")
        org.apache.spark.sql.graft.DotProductLong(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hash60"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.Md5Hash60].getName, "graft_hash60"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 1, s"graft_hash60 expects 1 argument, got ${exprs.length}")
        org.apache.spark.sql.graft.Md5Hash60(exprs.head)
      }))
    ext.injectOptimizerRule(_ => graft.plans.RewriteTopNPerGroup)
    ext.injectOptimizerRule(spark => graft.plans.MvRewrite.RewriteAggToMv(spark,
      mvCatalogs.computeIfAbsent(spark, _ => new graft.plans.MvRewrite.Catalog)))
    ext.injectPlannerStrategy(_ => graft.plans.TopNPerGroupStrategy)
  }
}

/** Scala + SQL surface for graft's native expressions, and SQL
  * registration for compiled polarify programs.
  *
  * Registration goes through the session `FunctionRegistry`, so a
  * registered name expands to a *native Catalyst expression tree* during
  * analysis — `spark.sql("SELECT signum_pf(x) ...")` plans the exact same
  * codegen'd `CaseWhen` as the DataFrame path. No UDF, no serialization
  * boundary, full optimizer visibility (constant folding, pushdown
  * through the expression, whole-stage codegen).
  */
object GraftFunctions {

  /** native codegen'd dot product over two array<bigint> columns */
  def dotLong(a: Column, b: Column): Column =
    Interop.column(
      DotProductLong(Interop.expression(a), Interop.expression(b)))

  /** fused one-pass `floor(scale·cos(a,b))`; NULL on a zero-norm side */
  def cosineFloor(a: Column, b: Column, scale: Double): Column =
    Interop.column(
      CosineFloorScaled(Interop.expression(a), Interop.expression(b), scale))

  /** fused one-pass squared-L2 distance over two array<bigint> columns */
  def l2sqLong(a: Column, b: Column): Column =
    Interop.column(
      L2SquaredLong(Interop.expression(a), Interop.expression(b)))

  /** distinct-intersection count over two SORTED array<bigint> columns —
    * `size(array_intersect(a,b))` as an allocation-free two-pointer merge
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    Interop.column(org.apache.spark.sql.graft.SortedIntersectCount(
      Interop.expression(a), Interop.expression(b)))

  /** native 60-bit portable hash of a string column — bit-identical to
    * `conv(substring(md5(c),1,15),16,10)` (see [[Md5Hash60]]); usable
    * inside Column-API lambdas (`transform(a, x => hash60(x))`).
    */
  def hash60(c: Column): Column =
    Interop.column(Md5Hash60(Interop.expression(c)))

  /** one-pass array of [[hash60]] over every `win`-codepoint window of
    * a string column — element-for-element equal to
    * `transform(sequence(1, greatest(length(c) - win + 1, 1)),
    * i -> hash60(substring(c, i, win)))`, short-string fallback
    * included (see [[org.apache.spark.sql.graft.Hash60Windows]])
    */
  def hash60Windows(c: Column, win: Int): Column =
    Interop.column(org.apache.spark.sql.graft.Hash60Windows(
      Interop.expression(c), win))

  /** one-pass k-permutation MinHash mins over an array<bigint> of
    * hashed tokens — element-for-element equal to
    * `array(array_min(transform(c, h -> (a(s)*(h%p)+b(s))%p)) for s)`
    * (see [[org.apache.spark.sql.graft.MinHashMins]]); NULL for an
    * empty/NULL input array, matching array_min-of-empty per slot
    */
  def minHashMins(c: Column, a: Array[Long], b: Array[Long],
      p: Long): Column =
    Interop.column(org.apache.spark.sql.graft.MinHashMins(
      Interop.expression(c), a, b, p))

  /** one-pass mismatch-boundary scan of a shared-substring diagonal —
    * the seed-and-extend verification kernel (see [[org.apache.spark.sql.graft.DiagonalBoundaries]])
    */
  def diagonalBoundaries(a: Column, b: Column, pa: Column, pb: Column): Column =
    Interop.column(org.apache.spark.sql.graft.DiagonalBoundaries(
      Interop.expression(a), Interop.expression(b),
      Interop.expression(pa), Interop.expression(pb)))

  /** Register a compiled polarify program as a SQL function: the
    * reference's `@polarify`-decorated function made callable from
    * `spark.sql` text. The builder substitutes the call-site argument
    * expressions into the compiled when-chain at analysis time — the
    * SQL analogue of `program.column(env)` (and of the reference
    * executing its transpiled source, __init__.py:40-53).
    */
  def registerProgram(
      spark: SparkSession,
      name: String,
      argNames: Seq[String],
      program: Program): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name,
      exprs => {
        require(exprs.length == argNames.length,
          s"$name expects ${argNames.length} arguments, got ${exprs.length}")
        val env = argNames.zip(exprs.map(Interop.column)).toMap
        Interop.expression(program.column(env))
      },
      "built-in")
}
