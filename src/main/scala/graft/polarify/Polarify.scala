package graft.polarify

import org.apache.spark.sql.Column

/** Public entry point — the Spark analogue of the `@polarify` decorator
  * (ref: polarify/__init__.py:40-53).
  *
  * Where the reference transpiles a Python function's source into a
  * `pl.when/then/otherwise` chain, we compile a small statement AST
  * (built with [[graft.polarify.dsl]]) into a single Spark [[Column]] —
  * a Catalyst `CaseWhen` tree that whole-stage-codegens over columnar
  * parquet scans.
  *
  * {{{
  * import graft.polarify._, graft.polarify.dsl._
  * // def signum(x): s=0; if x>0: s=1 elif x<0: s=-1; return s
  * val signum = Program(
  *   "s" := 0,
  *   When("x".ref > 0)("s" := 1).elseWhen("x".ref < 0)("s" := -1),
  *   Ret("s".ref))
  * df.select(signum.column(Map("x" -> col("l_quantity"))))
  * }}}
  */
final case class Program(stmts: Seq[Stmt]) {
  /** Resolved, fully inlined conditional-expression tree: the
    * reference's output, which `explain`, `sql` and the Python-source
    * surface render. Its size can grow exponentially with the program.
    */
  lazy val expr: Expr = Compiler.compileToExpr(stmts)

  /** The SSA lowering `column` compiles: linear in the program's size. */
  private lazy val lowered: Expr = Compiler.lower(stmts)

  /** Compile to a Spark Column; free names bind via `params`, else to
    * `col(name)`. Computes the same value as `expr` on every row, but a
    * value read more than once is computed once per row (see
    * [[Compiler.lower]]).
    */
  def column(params: Map[String, Column] = Map.empty): Column =
    ColumnGen.toColumn(lowered, params)

  /** Compile to DuckDB-runnable SQL text (the oracle surface); free names
    * bind via `params` as SQL fragments.
    */
  def sql(params: Map[String, String] = Map.empty): String =
    SqlGen.toSql(expr, params)

  /** The reference's `transform_func_to_new_source` debug surface
    * (ref: polarify/__init__.py:17-37) — renders the resolved tree as the
    * when-chain it compiles to, e.g.
    * `when((x > 0), 1).when((x < 0), -1).otherwise(0)`.
    */
  def explain: String = Render.toText(expr)
}

object Program {
  def apply(stmts: Stmt*)(implicit d: DummyImplicit): Program = Program(stmts.toSeq)

  /** The reference's actual front door, source-to-source: parse a Python
    * function's SOURCE TEXT into a compiled program (ref:
    * `@polarify` → `inspect.getsource` → `ast.parse`,
    * polarify/__init__.py:17-53). `functions` plays the role of the
    * decorated function's globals for call resolution.
    *
    * {{{
    * val signum = Program.fromPython("""
    * def signum(x):
    *     s = 0
    *     if x > 0:
    *         s = 1
    *     elif x < 0:
    *         s = -1
    *     return s
    * """)
    * df.select(signum.column(Map("x" -> col("l_quantity"))))
    * }}}
    */
  def fromPython(
      source: String,
      functions: Map[String, parser.PyParser.PyFn] = Map.empty): Program =
    parser.PyParser.parse(source, functions).program

  /** The reference's `transform_func_to_new_source` surface
    * (ref: polarify/__init__.py:17-37): parse a Python function's
    * source, compile the body, and emit a RUNNABLE renamed function —
    * `def <name>_polarified(<args>)` whose body is
    * `import polars as pl; return <pl.when-chain>` — textually the
    * string CPython's `ast.unparse` produces for the reference's
    * modified tree (minimal parens, 4-space indent, decorators
    * cleared). RenderSpec pins the emitted text and its
    * `ast.unparse`-round-trip stability.
    */
  def transformSourceToNewSource(
      source: String,
      functions: Map[String, parser.PyParser.PyFn] = Map.empty): String = {
    val pf = parser.PyParser.parse(source, functions)
    s"""def ${pf.name}_polarified(${pf.params.mkString(", ")}):
       |    import polars as pl
       |    return ${Render.toPythonSource(pf.program.expr)}""".stripMargin
  }
}
