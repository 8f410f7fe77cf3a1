// Host-package shim for the same reason as ArrayMath.scala: the
// input-cast trait types are `private[sql]` in Spark 4.
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType}

/** Native one-pass MinHash signature over a hashed-token array: the
  * value of `array(array_min(transform(ha, h -> (a(0)*(h%p)+b(0))%p)),
  * ..., array_min(transform(ha, h -> (a(k-1)*(h%p)+b(k-1))%p)))` for k
  * affine permutations, computed in ONE loop over the array.
  *
  * Why native (guide §4): the composable formulation evaluates k
  * separate `transform` higher-order lambdas per row — each an
  * interpreted per-element closure call that also allocates a k-th
  * intermediate array — followed by k `array_min` passes. Higher-order
  * functions have no codegen and break whole-stage codegen for the
  * enclosing operator. This expression reduces `h % p` once per element
  * and folds all k affine mins in a fused loop: no intermediate arrays,
  * no closure calls, one pass. On the streaming ingest gate
  * (st_dedup_probe) the formula runs per delta document per trigger;
  * on any batch re-featurization it runs once per corpus row.
  *
  * Value semantics are IDENTICAL to the transform formulation
  * (MinHashMinsSpec pins the equivalence): inputs are 60-bit
  * non-negative hashes, so `h % p ≥ 0` and `a*(h%p)+b < 2^60` — no
  * overflow, no sign issues. An EMPTY input array yields NULL (exactly
  * what `array_min` of an empty transform result yields per slot — the
  * whole-array NULL makes every downstream `getItem` NULL, matching).
  * A NULL input array yields NULL. Null ELEMENTS do not occur in any
  * caller (hash outputs); for completeness they are skipped, matching
  * `array_min`'s null-skipping over a transform that nulls them.
  */
case class MinHashMins(child: Expression, a: Array[Long], b: Array[Long],
    p: Long) extends UnaryExpression with ImplicitCastInputTypes {
  require(a.length == b.length && a.nonEmpty,
    s"coefficient arrays must be equal-length and non-empty " +
      s"(got ${a.length}/${b.length})")
  // the no-overflow domain: a*(h%p)+b < p^2 <= 2^62
  require(p > 0 && p <= (1L << 31) &&
    a.forall(v => v >= 0 && v < p) && b.forall(v => v >= 0 && v < p),
    s"coefficients must lie in [0, p) with 0 < p <= 2^31 (p = $p)")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  // empty input → null result, so nullable regardless of child
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_mins"

  def mins(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val k = a.length
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val hm = arr.getLong(i) % p
        var s = 0
        while (s < k) {
          val v = (a(s) * hm + b(s)) % p
          if (v < out(s)) out(s) = v
          s += 1
        }
      }
      i += 1
    }
    if (!any) return null // all-null elements: array_min yields null
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    mins(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minHashMins", this,
      classOf[MinHashMins].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $self.mins($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashMins =
    copy(child = newChild)
}
