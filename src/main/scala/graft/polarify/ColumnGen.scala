package graft.polarify

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.PolarifyLet
import org.apache.spark.sql.{functions => F}

/** Compiled [[Expr]] tree → Spark [[Column]].
  *
  * The emitted tree is pure `functions.when(...).when(...).otherwise(...)`
  * + Column operators — Catalyst `CaseWhen` et al., all whole-stage
  * codegen'd, no UDFs anywhere (the reference's whole purpose is to avoid
  * row-wise execution, ref README.md:94; a row UDF appears only as the
  * test oracle, mirroring tests/test_parse_body.py:50-53).
  *
  * Free [[Ref]]s resolve through `params` (the analogue of applying the
  * polarified function to `pl.col("x")` or any other expression, ref
  * README.md:117), falling back to `col(name)`.
  *
  * `Program.column` lowers the SSA form ([[Compiler.lower]]): each [[Let]]
  * becomes one [[PolarifyLet]], whose values are computed once per row
  * where it stands and read by name in its body. So `k` sequential blocks
  * give an expression of size O(k) in one whole-stage codegen stage.
  */
object ColumnGen {
  import BinOperator._
  import UnaryOperator._
  import CmpOperator._

  private def letName(id: Int): String = s"pf_let_$id"

  def toColumn(expr: Expr, params: Map[String, Column] = Map.empty): Column = {
    def go(e: Expr): Column = e match {
      case Lit(null)  => F.lit(null)
      case Lit(v)     => F.lit(v)
      case Ref(n)     => params.getOrElse(n, F.col(n))
      case BinOp(op, l, r) =>
        val (lc, rc) = (go(l), go(r))
        op match {
          case Add      => lc + rc
          case Sub      => lc - rc
          case Mult     => lc * rc
          case Div      => lc / rc
          case Mod      => lc % rc
          case Pow      => F.pow(lc, rc)
          // On booleans Polars `&`/`|` are logical and/or — that is the
          // only usage the reference corpus exercises (guards, compare
          // conjunction), so the DSL defines them as logical ops.
          case BitAnd   => lc && rc
          case BitOr    => lc || rc
          case BitXor   => lc.bitwiseXOR(rc)
          case FloorDiv => F.floor(lc / rc).cast("long")
        }
      case UnaryOp(op, o) =>
        val oc = go(o)
        op match {
          case USub   => F.negate(oc)
          case Not    => !oc
          case Invert => F.bitwise_not(oc)
        }
      case Compare(l, Seq(op), Seq(r)) =>
        val (lc, rc) = (go(l), go(r))
        op match {
          case Eq    => lc === rc
          case NotEq => lc =!= rc
          case Lt    => lc < rc
          case LtE   => lc <= rc
          case Gt    => lc > rc
          case GtE   => lc >= rc
        }
      case Compare(_, _, _) =>
        throw new IllegalArgumentException("Polars can't handle chained comparisons")
      case CallFn(_, fn, args, _, kwargs) =>
        fn(args.map(go), kwargs.map { case (k, v) => k -> go(v) }.toMap)
      case WhenChain(cases, orelse) =>
        require(cases.nonEmpty || orelse != null, "No when-then cases provided.")
        val head = F.when(go(cases.head._1), go(cases.head._2))
        cases.tail.foldLeft(head) { case (acc, (t, v)) =>
          acc.when(go(t), go(v))
        }.otherwise(go(orelse))
      case IfExp(t, b, o) => F.when(go(t), go(b)).otherwise(go(o))
      case Let(bindings, body) =>
        PolarifyLet.let(bindings.map { case (id, v) => letName(id) -> go(v) }, go(body))
      case LetRef(id)     => PolarifyLet.ref(letName(id))
      case other =>
        throw new IllegalArgumentException(
          s"Unsupported expression type: ${other.getClass.getSimpleName}")
    }
    go(expr)
  }
}
