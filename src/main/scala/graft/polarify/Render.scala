package graft.polarify

/** Resolved, fully inlined [[Expr]] tree → human-readable when-chain
  * text — the debugging surface matching the reference's
  * `transform_func_to_new_source` (ref: polarify/__init__.py:17-37,
  * demoed in README.md:134-162), which unparses the transpiled source so
  * users can SEE the conditional chain their imperative code became.
  *
  * Output shape mirrors the Spark API the program compiles to:
  * `when((x > 0), 1).when((x < 0), -1).otherwise(0)`.
  */
object Render {

  def toText(e: Expr): String = e match {
    case WhenChain(cases, orelse) =>
      cases.map { case (t, v) => s"when(${toText(t)}, ${toText(v)})" }
        .mkString(".") + s".otherwise(${toText(orelse)})"
    case IfExp(t, b, o) => toText(WhenChain(Seq((t, b)), o))
    case Lit(s: String) => "'" + s + "'"
    case Lit(v)         => String.valueOf(v)
    case Ref(n)         => n
    case BinOp(op, l, r) => s"(${toText(l)} ${op.python} ${toText(r)})"
    case UnaryOp(UnaryOperator.Not, o) => s"(not ${toText(o)})"
    // negative literals print compactly: CPython's ast (and hence the
    // parser front-end) represents -1 as USub(Constant(1))
    case UnaryOp(UnaryOperator.USub, Lit(v: Long))   => s"-$v"
    case UnaryOp(UnaryOperator.USub, Lit(v: Int))    => s"-$v"
    case UnaryOp(UnaryOperator.USub, Lit(v: Double)) => s"-$v"
    case UnaryOp(op, o) => s"(${op.python}${toText(o)})"
    case Compare(l, ops, cs) =>
      ops.zip(cs).foldLeft(toText(l)) { case (acc, (op, c)) =>
        s"$acc ${op.python} ${toText(c)}"
      } match { case s => s"($s)" }
    case CallFn(name, _, args, _, kwargs) =>
      val rendered = args.map(toText) ++
        kwargs.map { case (k, v) => s"$k=${toText(v)}" }
      s"$name(${rendered.mkString(", ")})"
    case BoolOp(op, values) => values.map(toText).mkString(s" $op ")
    case TupleExpr(es)      => es.map(toText).mkString("(", ", ", ")")
    case ListExpr(es)       => es.map(toText).mkString("[", ", ", "]")
    case _: Let | _: LetRef =>
      throw new IllegalArgumentException("the SSA lowering's lets have no source form")
  }

  // -------------------------------------------------------------------
  // Runnable-source surface: the resolved tree as the `pl.when(...)
  // .then(...).otherwise(...)` expression the reference emits and
  // `ast.unparse`s (ref: build_polars_when_then_otherwise,
  // polarify/main.py:49-75; unparsed in __init__.py:36). Textual
  // fidelity to `ast.unparse` means MINIMAL parenthesization under
  // CPython's operator-precedence table — `x > 0`, not `(x > 0)` —
  // with spaces around every binary operator. Verified by round-trip:
  // `ast.unparse(ast.parse(emitted)) == emitted` (RenderSpec pins the
  // literals).
  // -------------------------------------------------------------------

  // CPython Lib/ast.py _Precedence levels (subset the closed world uses)
  private val OR = 2; private val AND = 3
  private val NOT = 4; private val CMP = 5; private val BOR = 6
  private val BXOR = 7; private val BAND = 8; private val ARITH = 10
  private val TERM = 11; private val FACTOR = 12; private val POWER = 13
  private val ATOM = 14

  private def binPrec(op: BinOperator): Int = op match {
    case BinOperator.BitOr    => BOR
    case BinOperator.BitXor   => BXOR
    case BinOperator.BitAnd   => BAND
    case BinOperator.Add | BinOperator.Sub => ARITH
    case BinOperator.Mult | BinOperator.Div | BinOperator.Mod |
         BinOperator.FloorDiv => TERM
    case BinOperator.Pow      => POWER
  }

  private def prec(e: Expr): Int = e match {
    case _: WhenChain | _: CallFn | _: Ref | _: ListExpr |
         _: TupleExpr | _: LetRef | _: Let => ATOM
    case _: IfExp        => ATOM // rendered as a pl.when call chain
    case Lit(_)          => ATOM
    case BinOp(op, _, _) => binPrec(op)
    case UnaryOp(UnaryOperator.Not, _) => NOT
    case UnaryOp(_, _)   => FACTOR
    case _: Compare      => CMP
    case BoolOp("or", _) => OR
    case BoolOp(_, _)    => AND // "and" (the only other value)
  }

  private def pyRepr(s: String): String = {
    val esc = s.flatMap {
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c    => c.toString
    }
    if (!esc.contains("'")) s"'$esc'"
    else if (!esc.contains("\"")) "\"" + esc + "\""
    else "'" + esc.replace("'", "\\'") + "'"
  }

  /** `e` as minimal-paren Python, parenthesized iff its precedence is
    * below what the context requires (CPython's require_parens rule).
    */
  private def py(e: Expr, required: Int): String = {
    val s = e match {
      case WhenChain(cases, orelse) =>
        cases.zipWithIndex.map { case ((t, v), i) =>
          val recv = if (i == 0) "pl" else ""
          s"$recv.when(${py(t, 0)}).then(${py(v, 0)})"
        }.mkString + s".otherwise(${py(orelse, 0)})"
      case IfExp(t, b, o) => py(WhenChain(Seq((t, b)), o), 0)
      case Lit(true)      => "True"
      case Lit(false)     => "False"
      case Lit(null)      => "None"
      case Lit(s0: String) => pyRepr(s0)
      case Lit(v)         => String.valueOf(v)
      case Ref(n)         => n
      case BinOp(op, l, r) =>
        val p = binPrec(op)
        // left-assoc: right child needs p+1; ** is right-assoc: mirrored
        val (lp, rp) = if (op == BinOperator.Pow) (p + 1, p) else (p, p + 1)
        s"${py(l, lp)} ${op.python} ${py(r, rp)}"
      case UnaryOp(UnaryOperator.Not, o) => s"not ${py(o, NOT)}"
      case UnaryOp(op, o) => s"${op.python}${py(o, FACTOR)}"
      case Compare(l, ops, cs) =>
        ops.zip(cs).foldLeft(py(l, CMP + 1)) { case (acc, (op, c)) =>
          s"$acc ${op.python} ${py(c, CMP + 1)}"
        }
      case CallFn(name, _, args, _, kwargs) =>
        val rendered = args.map(py(_, 0)) ++
          kwargs.map { case (k, v) => s"$k=${py(v, 0)}" }
        s"$name(${rendered.mkString(", ")})"
      case BoolOp(op, values) =>
        val p = if (op == "or") OR else AND
        values.map(py(_, p + 1)).mkString(s" $op ")
      case TupleExpr(es) =>
        if (es.size == 1) s"(${py(es.head, 0)},)"
        else es.map(py(_, 0)).mkString("(", ", ", ")")
      case ListExpr(es) => es.map(py(_, 0)).mkString("[", ", ", "]")
      case l @ (_: Let | _: LetRef) => toText(l)
    }
    if (prec(e) < required) s"($s)" else s
  }

  /** The resolved tree as a runnable polars expression string. */
  def toPythonSource(e: Expr): String = py(e, 0)
}
