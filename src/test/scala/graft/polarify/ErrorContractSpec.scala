package graft.polarify

import graft.polarify.dsl._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's error messages are API (ref:
  * tests/test_error_handling.py:8-12, corpus pairs at
  * tests/functions.py:321-329 and tests/functions_310.py:316-322).
  * Each unsupported construct must fail at compile time with a message
  * containing the reference's match string, through `expr` and `column`
  * alike.
  */
class ErrorContractSpec extends AnyFunSuite {

  private val x = "x".ref

  /** Both compilers must reject the program with the same message: the
    * reference behind `expr` and the SSA lowering behind `column`.
    */
  private def expectError(program: Program, substring: String): Unit = {
    val viaExpr = intercept[IllegalArgumentException](Program(program.stmts).expr)
    val viaColumn = intercept[IllegalArgumentException](Program(program.stmts).column())
    assert(viaExpr.getMessage.contains(substring),
      s"expected '${substring}' in '${viaExpr.getMessage}'")
    assert(viaColumn.getMessage === viaExpr.getMessage)
  }

  test("chained_compare_expr → Polars can't handle chained comparisons") {
    expectError(
      Program(
        When(Compare(Lit(0), Seq(CmpOperator.Lt, CmpOperator.Lt), Seq(x, Lit(10))))(
          "s" := 1).otherwise("s" := 2),
        Ret("s".ref)),
      "Polars can't handle chained comparisons")
  }

  test("bool_op → ast.BoolOp") {
    expectError(
      Program(
        When(BoolOp("and", Seq(Lit(0) < x, x < 10)))(Ret(0)).otherwise(Ret(1))),
      "ast.BoolOp")
  }

  test("return_end / return_nothing → return needs a value") {
    expectError(Program("s" := x, Return(None)), "return needs a value")
    expectError(
      Program(When(x > 0)(Return(None)).otherwise(Ret(1))),
      "return needs a value")
  }

  test("no_return → Not all branches return") {
    expectError(Program("s" := x), "Not all branches return")
  }

  test("match_guarded_match_as_no_return → Not all branches return") {
    expectError(
      Program(
        MatchOn(x)(
          CaseVal(1)(Ret(0)),
          CaseWild().ifGuard(x > 1)(Ret(2)))),
      "Not all branches return")
  }

  test("match_mapping → ast.MatchMapping") {
    expectError(
      Program(
        MatchOn(x)(
          MatchCase(MatchMappingPattern, None, Seq(Ret(1))),
          CaseWild()(Ret(x)))),
      "ast.MatchMapping")
  }

  test("match_sequence_star → starred patterns are not supported.") {
    expectError(
      Program(
        MatchOn(x)(
          MatchCase(MatchSequence(Seq(pv(0), MatchStar(Some("other")))), None, Seq(Ret(0))),
          CaseVal(1)(Ret(1))),
        Ret(x)),
      "starred patterns are not supported.")
  }

  test("match_sequence over non-tuple subject → Matching lists is not supported.") {
    expectError(
      Program(
        MatchOn(x)(
          CaseSeq(Seq(pv(0), pv(1)))(Ret(0)),
          CaseVal(2)(Ret(x * 2))),
        Ret(x)),
      "Matching lists is not supported.")
  }

  test("unsupported statement → Unsupported statement type") {
    expectError(Program(UnsupportedStmt("For"), Ret(x)), "Unsupported statement type")
  }

  test("star assignment target → Unsupported expression type inside assignment target") {
    expectError(
      Program(
        Assign(Seq(SeqTarget(Seq(NameTarget("b"), StarTarget(NameTarget("a"))))),
          ListExpr(Seq(Lit(1), Lit(2)))),
        Ret(x)),
      "Unsupported expression type inside assignment target")
  }

  test("destructuring non-sequence value → Assignment target is") {
    expectError(
      Program(
        Assign(Seq(SeqTarget(Seq(NameTarget("a"), NameTarget("b")))), Lit(1)),
        Ret(x)),
      "Assignment target is")
  }

  test("tuple in expression position → Unsupported expression type") {
    expectError(
      Program("a" := tup(Lit(1), Lit(2)), Ret("a".ref)),
      "Unsupported expression type: ast.Tuple")
  }
}
