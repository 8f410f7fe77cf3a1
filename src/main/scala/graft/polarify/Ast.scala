package graft.polarify

/** Mini-AST for the supported imperative subset.
  *
  * Mirrors the Python `ast` node subset consumed by the reference
  * transpiler (ref: polarify/main.py:79-126 InlineTransformer visitor set,
  * polarify/main.py:350-369 statement dispatch). The reference operates on
  * Python source via `ast.parse`; Scala has no runtime source
  * introspection, so users build these nodes directly (a concise DSL lives
  * in [[graft.polarify.dsl]]).
  *
  * Closed world by construction: anything not expressible here is
  * rejected, matching the reference's `generic_visit` → ValueError
  * behavior (polarify/main.py:125-126).
  */
sealed trait Expr

/** Literal constant (ref: visit_Constant, main.py:115-116). */
final case class Lit(value: Any) extends Expr

/** Named reference. Bound names resolve from the symbolic environment at
  * inline time (ref: visit_Name, main.py:89-93); free names resolve to
  * DataFrame columns (the analogue of the `pl.col("x")` argument the
  * polarified function is applied to, ref README.md:117).
  */
final case class Ref(name: String) extends Expr

sealed trait BinOperator { def python: String }
object BinOperator {
  case object Add      extends BinOperator { val python = "+"  }
  case object Sub      extends BinOperator { val python = "-"  }
  case object Mult     extends BinOperator { val python = "*"  }
  case object Div      extends BinOperator { val python = "/"  }
  case object Mod      extends BinOperator { val python = "%"  }
  case object Pow      extends BinOperator { val python = "**" }
  /** On booleans this is logical AND, matching Polars `&` semantics. */
  case object BitAnd   extends BinOperator { val python = "&"  }
  /** On booleans this is logical OR, matching Polars `|` semantics. */
  case object BitOr    extends BinOperator { val python = "|"  }
  case object BitXor   extends BinOperator { val python = "^"  }
  case object FloorDiv extends BinOperator { val python = "//" }
}

/** Binary operation (ref: visit_BinOp, main.py:95-98). */
final case class BinOp(op: BinOperator, left: Expr, right: Expr) extends Expr

sealed trait UnaryOperator { def python: String }
object UnaryOperator {
  case object USub   extends UnaryOperator { val python = "-"   }
  case object Not    extends UnaryOperator { val python = "not" }
  case object Invert extends UnaryOperator { val python = "~"   }
}

/** Unary operation (ref: visit_UnaryOp, main.py:100-102). */
final case class UnaryOp(op: UnaryOperator, operand: Expr) extends Expr

sealed trait CmpOperator { def python: String }
object CmpOperator {
  case object Eq    extends CmpOperator { val python = "==" }
  case object NotEq extends CmpOperator { val python = "!=" }
  case object Lt    extends CmpOperator { val python = "<"  }
  case object LtE   extends CmpOperator { val python = "<=" }
  case object Gt    extends CmpOperator { val python = ">"  }
  case object GtE   extends CmpOperator { val python = ">=" }
}

/** Comparison. Holds parallel op/comparator lists purely so that chained
  * comparisons (`0 < x < 10`) can be *represented* and then rejected with
  * the reference's exact error (ref: visit_Compare, main.py:118-123).
  */
final case class Compare(left: Expr, ops: Seq[CmpOperator], comparators: Seq[Expr]) extends Expr
object Compare {
  def apply(left: Expr, op: CmpOperator, right: Expr): Compare =
    Compare(left, Seq(op), Seq(right))
}

/** Ternary `a if c else b` — compiled to a single-case when chain
  * (ref: visit_IfExp, main.py:109-113).
  */
final case class IfExp(test: Expr, body: Expr, orelse: Expr) extends Expr

/** Function-call inlining (ref: visit_Call, main.py:104-107): positional
  * args AND keyword args are inlined (the reference visits both
  * `node.args` and `node.keywords`); the callee survives as an opaque
  * function over (positional columns, keyword columns). `sql` optionally
  * renders the call for the DuckDB oracle generator.
  */
final case class CallFn(
    name: String,
    fn: (Seq[org.apache.spark.sql.Column], Map[String, org.apache.spark.sql.Column]) =>
      org.apache.spark.sql.Column,
    args: Seq[Expr],
    sql: Option[(Seq[String], Map[String, String]) => String] = None,
    kwargs: Seq[(String, Expr)] = Nil
) extends Expr

/** Structural tuple. Never a runtime value: destructured by assignment
  * handling (main.py:144-151) or match-subject translation
  * (main.py:241-257). Reaching the inliner in expression position is an
  * error, same as the reference's generic_visit on ast.Tuple.
  */
final case class TupleExpr(elts: Seq[Expr]) extends Expr

/** Structural list — same closed-world status as [[TupleExpr]]. */
final case class ListExpr(elts: Seq[Expr]) extends Expr

/** `and` / `or` — representable so the error contract can fire:
  * "Unsupported expression type: ast.BoolOp" (ref corpus
  * tests/functions.py:94-98, 324).
  */
final case class BoolOp(op: String, values: Seq[Expr]) extends Expr

/** Internal: a built when/then/otherwise chain, the compiler's output
  * form (ref: build_polars_when_then_otherwise, main.py:49-75). Flat
  * first-match-wins case list — identical semantics to Catalyst
  * `CaseWhen` and SQL `CASE WHEN`.
  */
final case class WhenChain(cases: Seq[(Expr, Expr)], orelse: Expr) extends Expr

/** Internal: values the SSA lowering behind `Program.column`
  * ([[Compiler.lower]]) computes once per row, independently of each
  * other, before `body`, which reads them as [[LetRef]]s. Never part of
  * `Program.expr`, the reference tree.
  */
final case class Let(bindings: Seq[(Int, Expr)], body: Expr) extends Expr

/** Internal: a read of the value bound as `id` by an enclosing [[Let]]. */
final case class LetRef(id: Int) extends Expr

// ---------------------------------------------------------------------------
// Statements
// ---------------------------------------------------------------------------

sealed trait Target
final case class NameTarget(name: String) extends Target
/** Tuple or list destructuring target (ref: main.py:144-151). */
final case class SeqTarget(elts: Seq[Target]) extends Target
/** `*a` — representable so the rejection path matches the reference. */
final case class StarTarget(inner: Target) extends Target

sealed trait Stmt

/** `a = expr`, `a = b = expr`, `a, b = e1, e2` (ref: handle_assign,
  * main.py:138-157).
  */
final case class Assign(targets: Seq[Target], value: Expr) extends Stmt
object Assign {
  def apply(name: String, value: Expr): Assign = Assign(Seq(NameTarget(name)), value)
}

/** `s: int = 15` — annotation dropped, becomes a plain assign
  * (ref: State.handle_assign AnnAssign arm, main.py:264-266).
  */
final case class AnnAssign(target: Target, value: Expr) extends Stmt
object AnnAssign {
  def apply(name: String, value: Expr): AnnAssign = AnnAssign(NameTarget(name), value)
}

/** `if test: body else: orelse` (`elif` = nested If in orelse), ref
  * handle_if main.py:275-289.
  */
final case class If(test: Expr, body: Seq[Stmt], orelse: Seq[Stmt] = Nil) extends Stmt

/** `return expr`; `Return(None)` reproduces "return needs a value"
  * (ref: main.py:359-362).
  */
final case class Return(value: Option[Expr]) extends Stmt
object Return { def apply(e: Expr): Return = Return(Some(e)) }

/** `match subject: case ...` (ref: handle_match, main.py:301-347). The
  * subject may be a [[TupleExpr]] for multi-variable matches.
  */
final case class Match(subject: Expr, cases: Seq[MatchCase]) extends Stmt

final case class MatchCase(pattern: Pattern, guard: Option[Expr], body: Seq[Stmt])
object MatchCase {
  def apply(pattern: Pattern, body: Seq[Stmt]): MatchCase = MatchCase(pattern, None, body)
}

sealed trait Pattern
/** `case 3:` → `subj == 3` (ref: main.py:203-217). */
final case class MatchValue(value: Expr) extends Pattern
/** `case _:` (name=None) or `case y:` (binds y to subject),
  * ref main.py:218-226.
  */
final case class MatchAs(name: Option[String]) extends Pattern
object MatchAs { val Wildcard: MatchAs = MatchAs(None) }
/** `case 0 | 1:` (ref: main.py:227-236 — note the guard attaches to the
  * FIRST alternative only; reproduced faithfully).
  */
final case class MatchOr(patterns: Seq[Pattern]) extends Pattern
/** `case 1, 2:` over a tuple subject (ref: main.py:237-257). */
final case class MatchSequence(patterns: Seq[Pattern]) extends Pattern
/** `case 0, *rest:` — rejected ("starred patterns are not supported."). */
final case class MatchStar(name: Option[String]) extends Pattern
/** `case {1: 2}:` — rejected (message contains "ast.MatchMapping"). */
case object MatchMappingPattern extends Pattern

/** Any statement form outside the supported subset (`for`, `while`,
  * `global`, ...) — carries the python node name so the rejection message
  * matches "Unsupported statement type: ..." (ref: main.py:367-368).
  */
final case class UnsupportedStmt(pythonNodeName: String) extends Stmt
