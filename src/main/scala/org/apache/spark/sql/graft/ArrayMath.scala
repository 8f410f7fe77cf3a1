// Lives under org.apache.spark.sql because the types an input-casting
// expression must name (AbstractDataType) and the Column<->Expression
// bridge (classic.ExpressionUtils) are `private[sql]` in Spark 4 —
// the same host-package technique other OSS Spark extension libraries
// use. The public graft surface is graft.functions.GraftFunctions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType}

/** Column <-> Catalyst Expression bridge for graft code outside the sql
  * package (delegates to the session-internal ExpressionUtils).
  */
object Interop {
  /** Eagerly converts through [[ColumnNodeToExpressionConverter]]:
    * the lazy `ExpressionUtils.expression` wrapper stays an Unevaluable
    * `ColumnNodeExpression` if the result is spliced into a plan outside
    * the Dataset API (e.g. from a FunctionRegistry builder), which fails
    * codegen. The converted tree may still carry `UnresolvedFunction`
    * nodes — fine inside analysis, where the analyzer resolves them.
    */
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}

/** Native codegen'd integer dot product over two `array<bigint>` columns.
  *
  * The composable formulation — `aggregate(zip_with(a, b, (x,y) -> x*y),
  * 0L, (acc,v) -> acc+v)` — is correct but runs in Catalyst's
  * *interpreted* expression path (higher-order functions have no codegen
  * and break whole-stage codegen for the enclosing operator), and it
  * materializes the zipped intermediate array per row. On the similarity/
  * near-dup hot paths the dot product runs once per (row × probe), so at
  * the 100 TB target that interpretation overhead dominates the scan.
  * This expression is the same arithmetic as a tight fused Java loop
  * inside whole-stage codegen: no intermediate array, no closure calls.
  *
  * Null semantics match the HOF formulation exactly: null array → null;
  * null element → null (`x*y` with a null operand is null, and folding
  * null into the sum is null). Length mismatch sums over the shorter
  * prefix (our callers only pass equal-length vectors; `zip_with` would
  * null-pad instead — don't rely on mismatched lengths). Overflow wraps
  * (Java long semantics) rather than raising the ANSI error — callers
  * quantize to micro-units, keeping |dot| ≤ ~2^40, far inside range.
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  // element-level nulls can null the result even when both arrays are
  // non-null, so this must stay nullable regardless of child nullability
  override def nullable: Boolean = true
  override def prettyName: String = "dot_long"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

/** Fused scaled-cosine over two `array<bigint>` columns:
  * `floor(scale * dot(a,b) / sqrt(dot(a,a) * dot(b,b)))` as a long.
  *
  * The unfused pipeline — three [[DotProductLong]] calls + the
  * floor/sqrt column arithmetic — walks BOTH arrays three times per
  * candidate pair. On the pair-scan hot paths (banded-LSH and
  * cluster-bounded near-dup, brute-force similarity) the pair count is
  * the dominant cost at 100 TB, so this fuses all three accumulations
  * into ONE traversal per array inside whole-stage codegen.
  *
  * IEEE contract (identical to the unfused formulation and to the
  * DuckDB oracle text): the three accumulators are exact longs; the
  * only float ops are the same `(scale * (double)dot) / sqrt((double)na
  * * (double)nb)` → `Math.floor` → long conversion, in the same order.
  * Zero-norm sides (na == 0 or nb == 0) yield NULL — callers that
  * previously pre-filtered `na > 0 && nb > 0` get identical surviving
  * rows from a threshold or `isNotNull` filter. Null array → null;
  * null element → null (matches [[DotProductLong]]).
  */
case class CosineFloorScaled(left: Expression, right: Expression, scale: Double)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_floor"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getLong(i); val y = b.getLong(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) null
    else java.lang.Math.floor(
      scale * dot.toDouble / java.lang.Math.sqrt(na.toDouble * nb.toDouble))
      .toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L; long $na = 0L; long $nb = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  final long $x = $a.getLong($i);
         |  final long $y = $b.getLong($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |if (!${ev.isNull}) {
         |  if ($na == 0L || $nb == 0L) { ${ev.isNull} = true; }
         |  else {
         |    ${ev.value} = (long) java.lang.Math.floor(
         |      ${scale}D * (double) $dot /
         |      java.lang.Math.sqrt((double) $na * (double) $nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineFloorScaled =
    copy(left = newLeft, right = newRight)
}

/** Fused squared-L2 distance over two `array<bigint>` columns:
  * `sum((a_i - b_i)^2)` as a long — one traversal instead of the three
  * [[DotProductLong]] calls of the `q·q - 2·q·c + c·c` expansion. All
  * arithmetic is exact long, so the value is IDENTICAL to the expanded
  * form (same oracle SQL), just one pass. Hot in the k-means assignment
  * map (rows × centroids evaluations). Null semantics match
  * [[DotProductLong]]; overflow wraps — callers quantize so
  * |x| ≤ ~2^20, keeping sums far inside range.
  */
case class L2SquaredLong(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "l2sq_long"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  final long $d = $a.getLong($i) - $b.getLong($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SquaredLong =
    copy(left = newLeft, right = newRight)
}

/** Distinct-intersection COUNT over two SORTED arrays — the value of
  * `size(array_intersect(a, b))`, computed by a two-pointer merge with
  * no per-row hash set and no intermediate array. Element types:
  * `array<bigint>` or `array<string>` (both sides the same).
  *
  * Contract: both inputs ascending-sorted (Spark `sort_array` order:
  * nulls first; strings in UTF8String binary order — exactly what
  * sort_array emits). Every call site feeds arrays built as
  * `sort_array(collect_list(...))` — the adjacency/token-set substrates —
  * so the order is structural, not assumed. Duplicate values count once
  * (array_intersect's distinct semantics: both pointers skip the matched
  * run); a null present in BOTH arrays counts once, matching
  * array_intersect treating null as an element. Null array → null.
  *
  * Why native: the intersect runs once per candidate PAIR (oriented
  * edge × adjacency, set-join verification) — the pair count is the
  * dominant term at scale, and `array_intersect` pays an OpenHashSet
  * build plus a materialized result array per call, only for `size` to
  * throw the elements away. The merge is branch-cheap, allocation-free,
  * and stays inside whole-stage codegen.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.types.StringType

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (ArrayType(s1: StringType, _), ArrayType(s2: StringType, _))
          if s1 == s2 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint> or two array<string> " +
            s"arguments, got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var cnt = 0L
    while (i < na && a.isNullAt(i)) i += 1
    while (j < nb && b.isNullAt(j)) j += 1
    if (i > 0 && j > 0) cnt += 1L
    if (elemType == LongType) {
      while (i < na && j < nb) {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x < y) i += 1
        else if (x > y) j += 1
        else {
          cnt += 1L
          while (i < na && a.getLong(i) == x) i += 1
          while (j < nb && b.getLong(j) == x) j += 1
        }
      }
    } else {
      while (i < na && j < nb) {
        val x = a.getUTF8String(i); val y = b.getUTF8String(j)
        val c = x.compareTo(y)
        if (c < 0) i += 1
        else if (c > 0) j += 1
        else {
          cnt += 1L
          while (i < na && a.getUTF8String(i).equals(x)) i += 1
          while (j < nb && b.getUTF8String(j).equals(x)) j += 1
        }
      }
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val merge =
        if (elemType == LongType)
          s"""
             |while ($i < $na && $j < $nb) {
             |  final long $x = $a.getLong($i);
             |  final long $y = $b.getLong($j);
             |  if ($x < $y) { $i++; }
             |  else if ($x > $y) { $j++; }
             |  else {
             |    $cnt += 1L;
             |    while ($i < $na && $a.getLong($i) == $x) $i++;
             |    while ($j < $nb && $b.getLong($j) == $x) $j++;
             |  }
             |}
           """.stripMargin
        else {
          val c = ctx.freshName("c")
          s"""
             |while ($i < $na && $j < $nb) {
             |  final org.apache.spark.unsafe.types.UTF8String $x = $a.getUTF8String($i);
             |  final org.apache.spark.unsafe.types.UTF8String $y = $b.getUTF8String($j);
             |  final int $c = $x.compareTo($y);
             |  if ($c < 0) { $i++; }
             |  else if ($c > 0) { $j++; }
             |  else {
             |    $cnt += 1L;
             |    while ($i < $na && $a.getUTF8String($i).equals($x)) $i++;
             |    while ($j < $nb && $b.getUTF8String($j).equals($x)) $j++;
             |  }
             |}
           """.stripMargin
        }
      s"""
         |final int $na = $a.numElements();
         |final int $nb = $b.numElements();
         |int $i = 0; int $j = 0; long $cnt = 0L;
         |while ($i < $na && $a.isNullAt($i)) $i++;
         |while ($j < $nb && $b.isNullAt($j)) $j++;
         |if ($i > 0 && $j > 0) $cnt += 1L;
         |$merge
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}
