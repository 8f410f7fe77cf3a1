package graft.polarify

import graft.SparkTestSession
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The SSA lowering behind `Program.column` ([[Compiler.lower]]): it must
  * compute what the reference tree (`Program.expr`, rendered by `sql`)
  * computes, raise nothing the reference does not raise under ANSI, and
  * stay linear in the program's size.
  */
class LoweringSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val xs: Seq[Long] = -20L to 20L
  private lazy val df = {
    import spark.implicits._
    xs.toDF("x").cache()
  }

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val before = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def withAnsi[T](body: => T): T = withConf("spark.sql.ansi.enabled" -> "true")(body)

  private def collect(out: DataFrame): Map[Long, Long] =
    out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** the program's value for every x, through both `.column` and `.sql` */
  private def bothWays(p: Program): (Map[Long, Long], Map[Long, Long]) = (
    collect(df.select(col("x"), p.column(Map("x" -> col("x"))).cast("long"))),
    collect(df.selectExpr("x", s"CAST((${p.sql(Map("x" -> "x"))}) AS BIGINT)")))

  private def assertComputes(p: Program, want: Long => Long): Unit = {
    val (viaColumn, viaSql) = bothWays(p)
    xs.foreach { x =>
      assert(viaColumn(x) == want(x), s"column at x=$x\n${p.explain}")
      assert(viaSql(x) == want(x), s"sql at x=$x\n${p.explain}")
    }
  }

  private def floorDiv(a: Long, b: Long): Long = Math.floorDiv(a, b)

  test("ANSI: a division guarded by its if is never hoisted out of the guard") {
    val p = Program.fromPython(
      """def f(x):
        |    y = 0
        |    if x != 0:
        |        y = 100 // x
        |    return y + y * 3
        |""".stripMargin)
    withAnsi(assertComputes(p, x => { val y = if (x != 0) floorDiv(100, x) else 0L; y + y * 3 }))
  }

  test("ANSI: a value read twice after an early return is let only past the return") {
    val p = Program.fromPython(
      """def f(x):
        |    if x == 0:
        |        return -1
        |    y = 100 // x
        |    return y + y
        |""".stripMargin)
    Compiler.lower(p.stmts) match {
      case WhenChain(Seq(_), Let(Seq(_), _)) => // the let sits in the branch x == 0 skips
      case other => fail(s"unexpected lowering $other")
    }
    withAnsi(assertComputes(p, x => if (x == 0) -1L else 2 * floorDiv(100, x)))
  }

  test("ANSI: an overflowing product on an untaken branch does not raise") {
    val p = Program.fromPython(
      """def f(x):
        |    y = x
        |    if x > 100:
        |        y = x * 9223372036854775807
        |    z = y + 1
        |    if x < 1000:
        |        return y + z
        |    w = y * 9223372036854775807
        |    return w + w
        |""".stripMargin)
    withAnsi(assertComputes(p, x => 2 * x + 1))
  }

  test("ANSI: a value read twice beside a nullable parameter is not hoisted above it") {
    // Spark skips an operand when the one it evaluates first is null, so
    // on w = NULL the reference never computes `100 // x`
    val p = Program.fromPython(
      """def f(x, w):
        |    q = 100 // x
        |    return (w + q) + (w + q)
        |""".stripMargin)
    assert(Compiler.letCount(Compiler.lower(p.stmts)) == 0)
    val withW = df.selectExpr("x", "CASE WHEN x % 2 = 0 THEN NULL ELSE x END AS w")
    def values(out: DataFrame): Map[Long, Option[Long]] =
      out.collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    val (viaColumn, viaSql) = withAnsi((
      values(withW.select(col("x"), p.column(Map("x" -> col("x"), "w" -> col("w"))).cast("long"))),
      values(withW.selectExpr("x", s"CAST((${p.sql(Map("x" -> "x", "w" -> "w"))}) AS BIGINT)"))))
    xs.foreach { x =>
      val want = if (x % 2 == 0) None else Some(2 * (x + floorDiv(100, x)))
      assert(viaColumn(x) == want, s"column at x=$x")
      assert(viaSql(x) == want, s"sql at x=$x")
    }
  }

  test("free-name quirk: a name captured free sees a later rebinding") {
    val p = Program.fromPython(
      """def f(x):
        |    y = x + 1
        |    x = 5
        |    return y
        |""".stripMargin)
    assert(p.explain === "(5 + 1)")
    assertComputes(p, _ => 6L)
  }

  test("free-name quirk: a rebinding in one branch reaches only that branch's rows") {
    val p = Program.fromPython(
      """def f(x):
        |    y = x + 1
        |    if x > 0:
        |        x = 5
        |    return y * 2
        |""".stripMargin)
    assert(p.explain === "when((x > 0), ((5 + 1) * 2)).otherwise(((x + 1) * 2))")
    assertComputes(p, x => if (x > 0) 12L else (x + 1) * 2)
  }

  test("match: a capture pattern's binding is read by a later sibling case") {
    val p = Program.fromPython(
      """def f(x):
        |    match x:
        |        case 1:
        |            return 10
        |        case n if n > 5:
        |            return n * 2
        |        case 3:
        |            return n + 100
        |        case _:
        |            return n - 1
        |""".stripMargin)
    assert(p.explain ===
      "when((x == 1), 10).when((x > 5), (x * 2)).when((x == 3), (x + 100)).otherwise((x - 1))")
    assertComputes(p, x => if (x == 1) 10L else if (x > 5) x * 2 else if (x == 3) 103L else x - 1)
  }

  test("a program with at most one fall-through path per fork lowers to the reference tree") {
    // the other corpus programs join two or more fall-through paths, which
    // the lowering merges into phi values
    val merging = Set("pysource_grade", "pysource_destructure", "override_default",
      "conditional_assign", "multiple_if", "return_unconditional_constant", "match_signum")
    Corpus.all.filterNot(c => merging(c.name)).foreach { c =>
      assert(Compiler.lower(c.program.stmts) == c.program.expr, c.name)
    }
  }

  /** `k` sequential blocks, each reading y three times: 2^k leaves in the
    * reference tree
    */
  private def blocks(k: Int): (Program, Long => Long) = {
    val consts = (1 to k).map(i => ((i * 7) % 11 - 5, i % 4 + 1, i % 3 + 1))
    val src = consts.map { case (c, a, b) =>
      s"    if y < $c:\n        y = y + $a\n    else:\n        y = y * 2 - $b\n"
    }.mkString("def f(x):\n    y = x\n", "", "    return y\n")
    val f = (x: Long) => consts.foldLeft(x) { case (y, (c, a, b)) => if (y < c) y + a else y * 2 - b }
    (Program.fromPython(src), f)
  }

  test("16 sequential blocks plan in under a second and stay in one codegen stage") {
    val (p, want) = blocks(16)
    assert(Compiler.letCount(Compiler.lower(p.stmts)) == 15) // one phi per block, the last one read once

    blocks(2)._1.column(Map("x" -> col("x"))) // warm the lowering path
    val t0 = System.nanoTime()
    val out = df.select(col("x"), p.column(Map("x" -> col("x"))).cast("long"))
    val plan = out.queryExecution.executedPlan
    val planMs = (System.nanoTime() - t0) / 1e6
    assert(planMs < 1000, s"planning took $planMs ms")

    val got = collect(out)
    xs.foreach(x => assert(got(x) == want(x), s"x=$x"))

    // the Project sits inside a whole-stage codegen stage whose code
    // compiles within the huge-method limit (above it Spark falls back)
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    val projects = plan.collect { case p: ProjectExec => p }
    assert(projects.nonEmpty)
    assert(stages.flatMap(_.child.collect { case p: ProjectExec => p }).size == projects.size)
    val limit = spark.sessionState.conf.hugeMethodLimit
    stages.foreach { w =>
      val (_, stats) = CodeGenerator.compile(w.doCodeGen()._2)
      assert(stats.maxMethodCodeSize <= limit)
    }
  }

  test("blocks after an early return, or inside a function call, stay linear") {
    val (p, want) = blocks(16)
    val guarded = Program(If(Compare(Ref("x"), CmpOperator.Lt, Lit(-15L)), Seq(Return(Lit(0L)))) +: p.stmts)
    val called = Program(p.stmts.init :+ Return(CallFn("abs",
      (cs, _) => org.apache.spark.sql.functions.abs(cs.head), Seq(Ref("y")),
      Some((args, _) => s"abs(${args.head})"))))
    assert(Compiler.letCount(Compiler.lower(guarded.stmts)) == 15)
    assert(Compiler.letCount(Compiler.lower(called.stmts)) == 15)
    // the reference tree of 16 blocks is too big for `sql`: `column` only
    for ((q, f) <- Seq[(Program, Long => Long)](
        guarded -> (x => if (x < -15) 0L else want(x)), called -> (x => math.abs(want(x))))) {
      val got = collect(df.select(col("x"), q.column(Map("x" -> col("x"))).cast("long")))
      xs.foreach(x => assert(got(x) == f(x), s"x=$x"))
    }
  }

  test("the lowered Catalyst expression grows linearly with the block count") {
    def nodes(k: Int): Int = {
      var n = 0
      df.select(blocks(k)._1.column(Map("x" -> col("x"))))
        .queryExecution.optimizedPlan.foreach(_.expressions.foreach(_.foreach(_ => n += 1)))
      n
    }
    val (n4, n8) = (nodes(4), nodes(8))
    assert(n8 < 300)
    assert(n8 < 3 * n4, s"4 blocks: $n4 nodes, 8 blocks: $n8")
  }

  test("a let-lowered program works in filter and aggregate positions, and nested") {
    import org.apache.spark.sql.functions.{count, sum}
    val (p, want) = blocks(6)
    val c = p.column(Map("x" -> col("x")))
    assert(df.select(c).columns.length == 1) // an unaliased let chain still names its column
    assert(df.filter(c > 10).count() == xs.count(want(_) > 10))
    val agg = df.groupBy((col("x") % 3).as("g")).agg(sum(c).cast("long"), count(c))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    xs.groupBy(_ % 3).foreach { case (g, vs) => assert(agg(g) == vs.map(want).sum, s"g=$g") }
    // one program's column as another's parameter: the inner lets shadow
    // the outer ones of the same name
    val nested = collect(df.select(col("x"), p.column(Map("x" -> c)).cast("long")))
    xs.foreach(x => assert(nested(x) == want(want(x)), s"x=$x"))
  }

  test("a let-lowered column groups: its select-list copy matches the grouping key") {
    val (p, want) = blocks(6)
    val got = df.groupBy(p.column(Map("x" -> col("x")))).count()
      .collect().map(r => r.get(0).asInstanceOf[Number].longValue -> r.getLong(1)).toMap
    assert(got == xs.groupBy(want).map { case (k, vs) => k -> vs.size.toLong })

    // two separately built copies of a program are the same result,
    // analysed and optimised; a program that differs is not
    def plan(q: Program) = df.select(q.column(Map("x" -> col("x")))).queryExecution
    val other = Program(p.stmts.init :+ Return(BinOp(BinOperator.Add, Ref("y"), Lit(1L))))
    val (a, b, c) = (plan(p), plan(p), plan(other))
    assert(a.analyzed.sameResult(b.analyzed))
    assert(a.optimizedPlan.sameResult(b.optimizedPlan))
    assert(!a.analyzed.sameResult(c.analyzed))
    assert(!a.optimizedPlan.sameResult(c.optimizedPlan))
  }

  test("let canonical forms number slots by position, apart from nested lets'") {
    import org.apache.spark.sql.graft.PolarifyLet.{let, ref}
    val x = col("x")
    def flat(n1: String, n2: String, body: Column) = let(Seq(n1 -> x * 2, n2 -> (x + 3)), body)
    def nested(n1: String, n2: String, body: Column) = let(Seq(n1 -> x * 2), let(Seq(n2 -> (x + 3)), body))
    def same(c1: Column, c2: Column): Boolean = {
      val (q1, q2) = (df.select(c1).queryExecution, df.select(c2).queryExecution)
      val analyzed = q1.analyzed.sameResult(q2.analyzed)
      assert(q1.optimizedPlan.sameResult(q2.optimizedPlan) == analyzed)
      analyzed
    }
    for (shape <- Seq(flat _, nested _)) {
      assert(same(shape("a", "b", ref("a") - ref("b")), shape("p", "q", ref("p") - ref("q"))))
      assert(!same(shape("a", "b", ref("a") - ref("b")), shape("a", "b", ref("b") - ref("a"))))
    }
  }

  test("lets keep their value's type: double, string, boolean and nullable") {
    import graft.polarify.dsl._
    val x = "x".ref
    val p = Program(
      When(x > 0)("d" := x / 4, "s" := "pos", "b" := x > 5)
        .otherwise("d" := x * 0.5, "s" := "neg", "b" := x < -5),
      "n" := ternary(Lit(null), x === 3, x),
      // each value is read twice where every row evaluates it: a block's test
      "r" := 0,
      When("d".ref + "d".ref > 1)("r" := 1),
      When(("s".ref === "pos") & ("s".ref !== "zz"))("r" := "r".ref + 10),
      When("b".ref & "b".ref)("r" := "r".ref + 100),
      When("n".ref + "n".ref > 0)("r" := "r".ref + 1000),
      Ret("r".ref + "d".ref))
    // d, s, b and n, and the phis of r the next block reads twice
    assert(Compiler.letCount(Compiler.lower(p.stmts)) == 7)
    def want(x: Long): Option[Double] = {
      val (d, s, b) = if (x > 0) (x / 4.0, "pos", x > 5) else (x * 0.5, "neg", x < -5)
      val n = if (x == 3) None else Some(x)
      val r = (if (d + d > 1) 1 else 0) + (if (s == "pos") 10 else 0) + (if (b) 100 else 0) +
        (if (n.exists(v => v + v > 0)) 1000 else 0)
      Some(r + d)
    }
    def values(out: DataFrame) =
      out.collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    val viaColumn = values(df.select(col("x"), p.column(Map("x" -> col("x"))).cast("double")))
    val viaSql = values(df.selectExpr("x", s"CAST((${p.sql(Map("x" -> "x"))}) AS DOUBLE)"))
    xs.foreach { x =>
      assert(viaColumn(x) == want(x), s"column at x=$x")
      assert(viaSql(x) == want(x), s"sql at x=$x")
    }
  }

  test("interpreted evaluation agrees with generated code") {
    val (p, want) = blocks(8)
    val got = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      collect(df.select(col("x"), p.column(Map("x" -> col("x"))).cast("long")))
    }
    xs.foreach(x => assert(got(x) == want(x), s"x=$x"))
  }

  test("programs at the nesting limit nest three deep in each other's parameters") {
    // each level of lets costs one analyzer iteration: 3 * 24 of the 100
    val (p, f) = blocks(Compiler.MaxLetDepth + 1)
    assert(Compiler.letCount(Compiler.lower(p.stmts)) == Compiler.MaxLetDepth)
    // `% 7` keeps each program's input small enough not to overflow
    val c = (1 to 3).foldLeft(col("x"))((c, _) => p.column(Map("x" -> c % 7)))
    val got = collect(df.select(col("x"), c.cast("long")))
    xs.foreach(x => assert(got(x) == f(f(f(x % 7) % 7) % 7), s"x=$x"))
  }

  test("lets deeper than the nesting limit are inlined, and the program still plans") {
    val (p, want) = blocks(Compiler.MaxLetDepth + 4)
    assert(Compiler.letCount(Compiler.lower(p.stmts)) == Compiler.MaxLetDepth)
    val got = collect(df.select(col("x"), p.column(Map("x" -> col("x"))).cast("long")))
    xs.foreach(x => assert(got(x) == want(x), s"x=$x"))
  }
}
