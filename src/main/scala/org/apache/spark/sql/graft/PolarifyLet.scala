// Host-package shim for the same reason as ArrayMath.scala: the
// Column <-> Expression bridge is `private[sql]` in Spark 4.
package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, EmptyBlock, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.{ConditionalExpression, Expression, HigherOrderFunction, LambdaFunction, LeafExpression, NamedLambdaVariable, RuntimeReplaceable, UnaryExpression, Unevaluable, UnresolvedNamedLambdaVariable}
import org.apache.spark.sql.types.{AbstractDataType, AnyDataType, DataType}

/** `let n1 = v1, n2 = v2, ... in body` for the SSA lowering of polarify
  * programs: each value is computed once per row and read through its
  * name in `body`.
  *
  * A program lowers to Columns before analysis, when nothing has a type
  * yet, so the let travels through analysis as [[LetBinding]], a
  * higher-order function: the analyzer's `ResolveLambdaVariables` binds
  * the names to the values' types once the values resolve, exactly as it
  * does for `transform`'s lambda. Then, like Spark's own `NullIf`, this
  * node is `RuntimeReplaceable`: the optimizer's `ReplaceExpressions`
  * swaps it for a [[LetExec]] built from its resolved children. (It wraps
  * the binding rather than being it because `HigherOrderFunction` fixes
  * its tree patterns, which hides a `RuntimeReplaceable` from that rule.)
  *
  * Why not Catalyst's common-expression node `With`: `RewriteWithExpression`
  * (Spark 4.1) handles a `With` nested in another `With`'s body only where
  * both are always evaluated. Inside a conditional branch (a program's
  * column under `when`, `coalesce`, or as another program's parameter) it
  * inlines them top-down and fails with "key not found: CommonExpressionId"
  * on the inner `With`'s references. [[LetExec]] works in any position, and
  * computes its values where it stands, so a let inside a branch runs only
  * on that branch's rows.
  */
case class PolarifyLet(child: LetBinding)
    extends UnaryExpression with RuntimeReplaceable {

  override def prettyName: String = "pf_let"

  override lazy val replacement: Expression = child.function match {
    case LambdaFunction(body, vars, _) =>
      val slots = vars.zip(child.values).map { case (v, value) =>
        LetSlot(v.exprId.id, value.dataType, value.nullable)(new AtomicReference[Any])
      }
      val byId = slots.map(s => s.id -> s).toMap
      LetExec(child.values, slots, body.transformUp {
        case v: NamedLambdaVariable if byId.contains(v.exprId.id) => byId(v.exprId.id)
      })
    case other =>
      throw new IllegalStateException(s"pf_let replaced before its lambda was bound: $other")
  }

  // Not the replacement's, as `RuntimeReplaceable` has it: the binding's,
  // whose lambda variables `HigherOrderFunction` numbers by position, so
  // two separately analysed copies of one program compare equal (a
  // grouping key and its select-list copy, say).
  override lazy val canonicalized: Expression = withCanonicalizedChildren

  override protected def withNewChildInternal(newChild: Expression): PolarifyLet =
    copy(child = newChild.asInstanceOf[LetBinding])
}

/** The binding half of [[PolarifyLet]]: a higher-order function whose
  * lambda is the body over the lets' names, one per value.
  */
case class LetBinding(values: Seq[Expression], function: Expression)
    extends HigherOrderFunction with Unevaluable {

  override def arguments: Seq[Expression] = values
  override def argumentTypes: Seq[AbstractDataType] = values.map(_ => AnyDataType)
  override def functions: Seq[Expression] = Seq(function)
  override def functionTypes: Seq[AbstractDataType] = Seq(AnyDataType)
  override def children: Seq[Expression] = values :+ function
  override def dataType: DataType = function.dataType
  override def nullable: Boolean = function.nullable
  override def prettyName: String = "pf_let_binding"

  override def bindInternal(
      f: (Expression, Seq[(DataType, Boolean)]) => LambdaFunction): LetBinding =
    copy(function = f(function, values.map(v => (v.dataType, v.nullable))))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LetBinding =
    copy(values = newChildren.init, function = newChildren.last)
}

/** Computes `values` once per row, then `body`, which reads value `i`
  * through `slots(i)`. Generated code keeps each value in a field of the
  * generated class, which the body's code (split methods included) reads.
  *
  * It is a `ConditionalExpression` whose only always-evaluated inputs are
  * the values: subexpression elimination must not hoist a part of the
  * body that reads a slot above the code that fills it.
  */
case class LetExec(values: Seq[Expression], slots: Seq[LetSlot], body: Expression)
    extends Expression with ConditionalExpression {

  override def children: Seq[Expression] = values :+ body
  override def dataType: DataType = body.dataType
  override def nullable: Boolean = body.nullable
  override def prettyName: String = "pf_let"

  override def alwaysEvaluatedInputs: Seq[Expression] = values
  override def withNewAlwaysEvaluatedInputs(vs: Seq[Expression]): LetExec = copy(values = vs)
  override def branchGroups: Seq[Seq[Expression]] = Nil

  override def eval(input: InternalRow): Any = {
    var i = 0
    while (i < slots.length) {
      slots(i).cell.set(values(i).eval(input))
      i += 1
    }
    body.eval(input)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fields = slots.map { s =>
      s.id -> (ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "pfLetIsNull"),
        ctx.addMutableState(CodeGenerator.javaType(s.dataType), "pfLet"))
    }.toMap
    val fill = values.zip(slots).map { case (v, s) =>
      val c = v.genCode(ctx)
      val (isNull, value) = fields(s.id)
      code"""${c.code}
            |$isNull = ${c.isNull};
            |$value = ${c.value};""".stripMargin
    }
    val b = body.transformUp {
      case s: LetSlot if fields.contains(s.id) =>
        val (isNull, value) = fields(s.id)
        FilledLetSlot(isNull, value, s.dataType, s.nullable)
    }.genCode(ctx)
    ev.copy(code = fill.foldLeft(EmptyBlock: Block)(_ + _) + b.code,
      isNull = b.isNull, value = b.value)
  }

  /** 1 + the height of the tallest let nested in this one */
  private lazy val letHeight: Long =
    1L + children.flatMap(_.collect { case l: LetExec => l.letHeight }).maxOption.getOrElse(0L)

  // The slots' ids are lambda variable ids, fresh for every analysis. So
  // that two copies of one program compare equal, the canonical form
  // numbers this let's slots by position, and apart from every let nested
  // in it (their height is lower): `-1 - (height << 32 | position)`.
  override lazy val canonicalized: Expression = {
    val ids = slots.zipWithIndex.map { case (s, i) => s.id -> (-1L - (letHeight << 32 | i)) }.toMap
    val renumbered = body.transformUp {
      case s: LetSlot if ids.contains(s.id) => s.withId(ids(s.id))
    }
    LetExec(values.map(_.canonicalized), slots.map(s => s.withId(ids(s.id))), renumbered.canonicalized)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LetExec =
    copy(values = newChildren.init, body = newChildren.last)
}

/** A read of a [[LetExec]] value. Interpreted, it reads the cell the let
  * filled for this row (copies of the slot share the cell, which takes
  * no part in equality); generated code reads the let's field instead
  * (see [[FilledLetSlot]]).
  */
case class LetSlot(id: Long, dataType: DataType, nullable: Boolean)(val cell: AtomicReference[Any])
    extends LeafExpression {

  def withId(newId: Long): LetSlot = LetSlot(newId, dataType, nullable)(cell)

  override protected def otherCopyArgs: Seq[AnyRef] = cell :: Nil

  override def eval(input: InternalRow): Any = cell.get

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    throw new IllegalStateException(s"pf_let_$id read outside its let")

  override def toString: String = s"pf_let_$id"
  override def sql: String = toString
}

/** [[LetSlot]] inside its let's generated code: the let's fields. */
case class FilledLetSlot(isNull: String, value: String, dataType: DataType, nullable: Boolean)
    extends LeafExpression {

  override def eval(input: InternalRow): Any =
    throw new IllegalStateException("a let's field read outside generated code")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ev.copy(code = EmptyBlock, isNull = JavaCode.isNullGlobal(isNull),
      value = JavaCode.global(value, dataType))
}

object PolarifyLet {
  /** `let n1 = v1, n2 = v2, ... in body`: the values are independent of
    * each other, and `body` reads them through [[ref]]
    */
  def let(bindings: Seq[(String, Column)], body: Column): Column =
    Interop.column(PolarifyLet(LetBinding(
      bindings.map { case (_, v) => Interop.expression(v) },
      LambdaFunction(Interop.expression(body),
        bindings.map { case (n, _) => UnresolvedNamedLambdaVariable(Seq(n)) }))))

  /** a read of the let named `name` */
  def ref(name: String): Column = Interop.column(UnresolvedNamedLambdaVariable(Seq(name)))
}
