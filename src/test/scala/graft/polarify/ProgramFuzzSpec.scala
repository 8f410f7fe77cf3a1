package graft.polarify

import graft.SparkTestSession
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Generative differential test of the compiler core: random programs
  * (assignments, nested if/elif/else with PARTIAL returns, ternaries,
  * comparisons, integer arithmetic) are compiled BOTH ways — to a Spark
  * Column and to oracle SQL — executed over x ∈ [-20, 20], and checked
  * against an independent tree-walking interpreter defined here.
  *
  * The fixed corpus (CorpusSpec) pins the reference's 48 functions; this
  * spec explores the space BETWEEN those fixtures — especially the
  * partial-return continuation logic (`if` without `else` followed by
  * more statements), which is where branch-distribution compilers break.
  */
class ProgramFuzzSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val xs: Seq[Long] = (-20L to 20L)

  // ---------------- independent interpreter ----------------

  private def evalE(e: Expr, env: Map[String, Long]): Any = e match {
    case Lit(v: Int)     => v.toLong
    case Lit(v: Long)    => v
    case Lit(v: Boolean) => v
    case Ref(n)          => env(n)
    case BinOp(op, l, r) =>
      val (a, b) = (evalE(l, env).asInstanceOf[Long], evalE(r, env).asInstanceOf[Long])
      op match {
        case BinOperator.Add  => a + b
        case BinOperator.Sub  => a - b
        case BinOperator.Mult => a * b
        case other            => sys.error(s"fuzz doesn't generate $other")
      }
    case UnaryOp(UnaryOperator.USub, o) => -evalE(o, env).asInstanceOf[Long]
    case UnaryOp(UnaryOperator.Not, o)  => !evalE(o, env).asInstanceOf[Boolean]
    case Compare(l, Seq(op), Seq(r)) =>
      val (a, b) = (evalE(l, env).asInstanceOf[Long], evalE(r, env).asInstanceOf[Long])
      op match {
        case CmpOperator.Eq    => a == b
        case CmpOperator.NotEq => a != b
        case CmpOperator.Lt    => a < b
        case CmpOperator.LtE   => a <= b
        case CmpOperator.Gt    => a > b
        case CmpOperator.GtE   => a >= b
      }
    case IfExp(t, b, o) =>
      if (evalE(t, env).asInstanceOf[Boolean]) evalE(b, env) else evalE(o, env)
    case other => sys.error(s"fuzz doesn't generate $other")
  }

  /** Right(returned) or Left(env after falling through). */
  private def run(stmts: Seq[Stmt], env: Map[String, Long]): Either[Map[String, Long], Long] =
    stmts.foldLeft[Either[Map[String, Long], Long]](Left(env)) {
      case (r @ Right(_), _) => r
      case (Left(e), s) => s match {
        case Assign(Seq(NameTarget(n)), v) =>
          Left(e + (n -> evalE(v, e).asInstanceOf[Long]))
        case If(t, body, orelse) =>
          if (evalE(t, e).asInstanceOf[Boolean]) run(body, e) else run(orelse, e)
        case Return(Some(v)) => Right(evalE(v, e).asInstanceOf[Long])
        case m: Match => runMatch(m, e)
        case other => sys.error(s"fuzz doesn't generate $other")
      }
    }

  /** Interpreter mirror of the reference's match semantics
    * (Compiler.translateMatch/handleMatch): a named MatchAs binds the
    * subject into the env UNCONDITIONALLY, in case order, visible to
    * later cases' guards/bodies and the orelse; each case's test and
    * body evaluate against the env AS OF that case; a MatchOr guard
    * attaches to the FIRST alternative only; catch-all (`case _:`, no
    * guard) becomes the orelse.
    */
  private def runMatch(m: Match, env: Map[String, Long]): Either[Map[String, Long], Long] = {
    val subj = evalE(m.subject, env).asInstanceOf[Long]
    def isCatchAll(c: MatchCase): Boolean =
      c.pattern == MatchAs(None) && c.guard.isEmpty

    var e = env
    // (test result, env snapshot at this case, body)
    val staged = m.cases.filterNot(isCatchAll).map { c =>
      val test: Boolean = c.pattern match {
        case MatchValue(v) =>
          c.guard.forall(g => evalE(g, e).asInstanceOf[Boolean]) &&
            subj == evalE(v, e).asInstanceOf[Long]
        case MatchOr(ps) =>
          val vals = ps.map { case MatchValue(v) => evalE(v, e).asInstanceOf[Long] }
          val firstOk =
            c.guard.forall(g => evalE(g, e).asInstanceOf[Boolean]) && subj == vals.head
          firstOk || vals.tail.contains(subj)
        case MatchAs(Some(n)) =>
          e = e + (n -> subj) // unconditional side effect
          evalE(c.guard.get, e).asInstanceOf[Boolean]
        case MatchAs(None) => // guarded wildcard (bare one is catch-all)
          evalE(c.guard.get, e).asInstanceOf[Boolean]
        case other => sys.error(s"fuzz doesn't generate $other")
      }
      (test, e, c.body)
    }
    staged.find(_._1) match {
      case Some((_, envAt, body)) => run(body, envAt)
      case None =>
        m.cases.find(isCatchAll) match {
          case Some(ca) => run(ca.body, e)
          case None     => Left(e)
        }
    }
  }

  // ---------------- generators ----------------

  private def litGen: Gen[Expr] = Gen.chooseNum(-3, 3).map(i => Lit(i))

  private def refGen(locals: Seq[String]): Gen[Expr] =
    Gen.oneOf("x" +: locals).map(Ref(_))

  private def arithGen(locals: Seq[String], depth: Int): Gen[Expr] =
    if (depth <= 0) Gen.oneOf(litGen, refGen(locals))
    else Gen.frequency(
      3 -> litGen,
      3 -> refGen(locals),
      2 -> (for {
        op <- Gen.oneOf(BinOperator.Add, BinOperator.Sub, BinOperator.Mult)
        l  <- arithGen(locals, depth - 1)
        r  <- arithGen(locals, depth - 1)
      } yield BinOp(op, l, r)),
      1 -> arithGen(locals, depth - 1).map(UnaryOp(UnaryOperator.USub, _)),
      1 -> (for {
        t <- testGen(locals, depth - 1)
        b <- arithGen(locals, depth - 1)
        o <- arithGen(locals, depth - 1)
      } yield IfExp(t, b, o)))

  private def testGen(locals: Seq[String], depth: Int): Gen[Expr] =
    for {
      op <- Gen.oneOf(CmpOperator.Eq, CmpOperator.NotEq, CmpOperator.Lt,
        CmpOperator.LtE, CmpOperator.Gt, CmpOperator.GtE)
      l  <- arithGen(locals, depth)
      r  <- arithGen(locals, depth)
    } yield Compare(l, Seq(op), Seq(r))

  /** A block that ALWAYS returns on every path: optional assigns, an
    * optional if (partial or total), recursively, with a terminal return.
    */
  private def blockGen(locals: Seq[String], depth: Int, nextLocal: Int): Gen[Seq[Stmt]] = {
    val terminal = arithGen(locals, 1).map(e => Seq(Return(e)))
    if (depth <= 0) terminal
    else Gen.frequency(
      2 -> terminal,
      3 -> (for { // assign a new local, continue
        v    <- arithGen(locals, 2)
        rest <- blockGen(locals :+ s"v$nextLocal", depth - 1, nextLocal + 1)
      } yield Assign(s"v$nextLocal", v) +: rest),
      2 -> (for { // total if/else: both branches return
        t <- testGen(locals, 1)
        b <- blockGen(locals, depth - 1, nextLocal)
        o <- blockGen(locals, depth - 1, nextLocal)
      } yield Seq(If(t, b, o))),
      2 -> (for { // PARTIAL if (then-branch returns), fall through to rest
        t    <- testGen(locals, 1)
        b    <- blockGen(locals, depth - 1, nextLocal)
        rest <- blockGen(locals, depth - 1, nextLocal)
      } yield If(t, b) +: rest),
      1 -> (for { // if/else that only reassigns, then continue
        t    <- testGen(locals, 1)
        v    <- arithGen(locals, 2)
        w    <- arithGen(locals, 2)
        rest <- blockGen(locals :+ s"v$nextLocal", depth - 1, nextLocal + 1)
      } yield If(t, Seq(Assign(s"v$nextLocal", v)),
        Seq(Assign(s"v$nextLocal", w))) +: rest))
  }

  private val programGen: Gen[Program] =
    blockGen(Nil, 4, 0).map(Program(_))

  /** One non-catch-all match case over scalar subject `x`. */
  private def caseGen(locals: Seq[String], bind: Option[String]): Gen[MatchCase] = {
    val mv = for {
      v     <- Gen.chooseNum(-2, 2)
      g     <- Gen.option(testGen(locals, 1))
      body  <- blockGen(locals, 2, 100)
    } yield MatchCase(MatchValue(Lit(v)), g, body)
    val mor = for {
      vs    <- Gen.pick(2, Seq(-2, -1, 0, 1, 2))
      g     <- Gen.option(testGen(locals, 1))
      body  <- blockGen(locals, 2, 100)
    } yield MatchCase(MatchOr(vs.map(v => MatchValue(Lit(v))).toSeq), g, body)
    val mas = bind match {
      case Some(n) => for {
        g    <- testGen(locals :+ n, 1) // guard REQUIRED for named binding
        body <- blockGen(locals :+ n, 2, 100)
      } yield MatchCase(MatchAs(Some(n)), Some(g), body)
      case None => mv
    }
    val mwild = for { // guarded wildcard (bare wildcard = catch-all, below)
      g    <- testGen(locals, 1)
      body <- blockGen(locals, 2, 100)
    } yield MatchCase(MatchAs(None), Some(g), body)
    Gen.frequency(3 -> mv, 2 -> mor, 2 -> mas, 1 -> mwild)
  }

  private def matchProgramGen: Gen[Program] = for {
    pre     <- Gen.choose(0, 1).flatMap(k =>
      Gen.listOfN(k, arithGen(Nil, 2)))           // optional v0 assign
    locals   = pre.indices.map(i => s"v$i")
    n       <- Gen.choose(1, 3)
    cases   <- Gen.sequence[Seq[MatchCase], MatchCase](
      (0 until n).map(i => caseGen(locals, if (i == 1) Some("y") else None)))
    withCa  <- Gen.oneOf(true, false)
    caBody  <- blockGen(locals, 2, 200)
    rest    <- blockGen(locals, 2, 300)
  } yield {
    val allCases = if (withCa) cases :+ MatchCase(MatchAs(None), caBody) else cases
    val assigns: Seq[Stmt] = pre.zipWithIndex.map { case (v, i) => Assign(s"v$i", v) }
    Program(assigns ++ Seq(Match(Ref("x"), allCases)) ++ rest)
  }

  test("random MATCH programs: compiled Column and SQL match the interpreter") {
    import spark.implicits._
    val df = xs.toDF("x").cache()
    var seed = Seed(777L)
    (1 to 60).foreach { i =>
      val p = matchProgramGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val expected = xs.map(x => run(p.stmts, Map("x" -> x)).toOption.get)

      val viaColumn = df
        .select(col("x"), p.column(Map("x" -> col("x"))).cast("long").as("r"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaSql = df
        .selectExpr("x", s"CAST((${p.sql(Map("x" -> "x"))}) AS BIGINT) AS r")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      xs.zip(expected).foreach { case (x, want) =>
        assert(viaColumn(x) == want,
          s"[match program $i] Column diverged at x=$x: got ${viaColumn(x)}, want $want\n${p.explain}")
        assert(viaSql(x) == want,
          s"[match program $i] SQL diverged at x=$x: got ${viaSql(x)}, want $want\n${p.explain}")
      }
    }
  }

  // ---------------- let-path programs (the SSA lowering) ----------------

  /** Programs whose values the SSA lowering behind `.column` shares:
    * up to 12 segments of sequential if/else blocks over `y` (and
    * sometimes `z`) whose result the next segment reads again, one-armed
    * updates, partial returns followed by more assignments, and at most
    * three straight-line `y = y + y`. Arms read `y` once, so the reference
    * tree, which the SQL path renders, stays small enough to plan.
    */
  private val letProgramGen: Gen[Program] = {
    import BinOperator._
    val (x, y, z) = (Ref("x"), Ref("y"), Ref("z"))
    val k = Gen.chooseNum(-5, 5).map(i => Lit(i))
    val test = for {
      l  <- Gen.oneOf(x, y, y, z)
      op <- Gen.oneOf(CmpOperator.Lt, CmpOperator.GtE, CmpOperator.NotEq)
      r  <- k
    } yield Compare(l, Seq(op), Seq(r))
    val update: Gen[Stmt] = Gen.oneOf(
      k.map(c => Assign("y", BinOp(Add, y, c))),
      k.map(c => Assign("y", BinOp(Sub, BinOp(Mult, y, Lit(2)), c))),
      k.map(c => Assign("y", BinOp(Sub, y, BinOp(Mult, z, c)))),
      k.map(c => Assign("z", BinOp(Add, z, c))))
    val segment: Gen[Seq[Stmt]] = Gen.frequency(
      6 -> (for { t <- test; a <- Gen.listOfN(2, update); b <- update } yield Seq(If(t, a, Seq(b)))),
      2 -> (for { t <- test; a <- update } yield Seq(If(t, Seq(a)))),
      2 -> (for { t <- test; c <- k } yield Seq(If(t, Seq(Return(BinOp(Add, BinOp(Add, y, z), c)))))),
      1 -> Gen.const(Seq(Assign("y", BinOp(Add, y, y)))))
    for {
      n    <- Gen.frequency(4 -> Gen.choose(1, 6), 2 -> Gen.choose(7, 9), 1 -> Gen.choose(10, 12))
      segs <- Gen.listOfN(n, segment)
      c    <- k
    } yield {
      // at most three doublings: each doubles the reference tree
      var doublings = 0
      val body = segs.flatMap {
        case s @ Seq(Assign(_, BinOp(Add, `y`, `y`))) =>
          doublings += 1
          if (doublings <= 3) s else Seq(Assign("y", BinOp(Add, y, Lit(1))))
        case s => s
      }
      Program(Seq(Assign("y", x), Assign("z", BinOp(Sub, x, c))) ++ body :+
        Return(BinOp(Sub, BinOp(Add, y, y), z)))
    }
  }

  test("random LET-PATH programs: compiled Column and SQL match the interpreter") {
    import spark.implicits._
    val df = xs.toDF("x").cache()
    var seed = Seed(8128L)
    var shared = 0
    (1 to 60).foreach { i =>
      val p = letProgramGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      if (Compiler.letCount(Compiler.lower(p.stmts)) > 0) shared += 1
      val expected = xs.map(x => run(p.stmts, Map("x" -> x)).toOption.get)

      val viaColumn = df
        .select(col("x"), p.column(Map("x" -> col("x"))).cast("long").as("r"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaSql = df
        .selectExpr("x", s"CAST((${p.sql(Map("x" -> "x"))}) AS BIGINT) AS r")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      xs.zip(expected).foreach { case (x, want) =>
        assert(viaColumn(x) == want,
          s"[let program $i] Column diverged at x=$x: got ${viaColumn(x)}, want $want\n${p.stmts}")
        assert(viaSql(x) == want,
          s"[let program $i] SQL diverged at x=$x: got ${viaSql(x)}, want $want\n${p.stmts}")
      }
    }
    assert(shared >= 30, s"only $shared of 60 programs kept a let")
  }

  // ---------------- python-source rendering (for the parser path) ----------------

  private def pyExpr(e: Expr): String = e match {
    case Lit(v: Int)  => v.toString
    case Lit(v: Long) => v.toString
    case Ref(n)       => n
    case BinOp(op, l, r) => s"(${pyExpr(l)} ${op.python} ${pyExpr(r)})"
    case UnaryOp(op, o)  => s"(${op.python}(${pyExpr(o)}))"
    case Compare(l, Seq(op), Seq(r)) =>
      s"(${pyExpr(l)} ${op.python} ${pyExpr(r)})"
    case IfExp(t, b, o) =>
      s"(${pyExpr(b)} if ${pyExpr(t)} else ${pyExpr(o)})"
    case other => sys.error(s"fuzz doesn't generate $other")
  }

  private def pyStmts(stmts: Seq[Stmt], ind: String): String =
    stmts.map {
      case Assign(Seq(NameTarget(n)), v) => s"$ind$n = ${pyExpr(v)}"
      case Return(Some(v))               => s"${ind}return ${pyExpr(v)}"
      case If(t, body, Nil) =>
        s"${ind}if ${pyExpr(t)}:\n${pyStmts(body, ind + "    ")}"
      case If(t, body, orelse) =>
        s"${ind}if ${pyExpr(t)}:\n${pyStmts(body, ind + "    ")}\n" +
          s"${ind}else:\n${pyStmts(orelse, ind + "    ")}"
      case other => sys.error(s"fuzz doesn't generate $other")
    }.mkString("\n")

  test("random programs roundtrip through the Python-source front end") {
    import spark.implicits._
    val df = xs.toDF("x").cache()
    var seed = Seed(4242L)
    (1 to 40).foreach { i =>
      val p = programGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val src = s"def f(x):\n${pyStmts(p.stmts, "    ")}"
      val parsed = Program.fromPython(src)

      val expected = xs.map(x => run(p.stmts, Map("x" -> x)).toOption.get)
      val got = df
        .select(col("x"), parsed.column(Map("x" -> col("x"))).cast("long").as("r"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      xs.zip(expected).foreach { case (x, want) =>
        assert(got(x) == want,
          s"[program $i] parsed source diverged at x=$x: got ${got(x)}, want $want\n$src")
      }
    }
  }

  // ---------------- minimal-paren printer round-trip ----------------

  /** Expressions over the FULL closed-world operator set (no IfExp —
    * the runnable-source surface prints those as pl.when calls, which
    * the parser rightly can't read back; no BoolOp — compile-rejected).
    * Literals are non-negative because the parser, like CPython's ast,
    * produces negatives as USub(Lit).
    */
  private def fullExprGen(depth: Int): Gen[Expr] =
    if (depth <= 0) Gen.oneOf(Gen.chooseNum(0, 3).map(i => Lit(i.toLong)),
      Gen.const(Ref("x")))
    else Gen.frequency(
      2 -> Gen.chooseNum(0, 3).map(i => Lit(i.toLong)),
      2 -> Gen.const(Ref("x")),
      4 -> (for {
        op <- Gen.oneOf(BinOperator.Add, BinOperator.Sub, BinOperator.Mult,
          BinOperator.Div, BinOperator.Mod, BinOperator.FloorDiv,
          BinOperator.Pow, BinOperator.BitAnd, BinOperator.BitOr,
          BinOperator.BitXor)
        l <- fullExprGen(depth - 1)
        r <- fullExprGen(depth - 1)
      } yield BinOp(op, l, r)),
      2 -> (for {
        op <- Gen.oneOf(UnaryOperator.USub, UnaryOperator.Invert,
          UnaryOperator.Not)
        o <- fullExprGen(depth - 1)
      } yield UnaryOp(op, o)),
      1 -> (for {
        op <- Gen.oneOf(CmpOperator.Eq, CmpOperator.NotEq, CmpOperator.Lt,
          CmpOperator.LtE, CmpOperator.Gt, CmpOperator.GtE)
        l  <- fullExprGen(depth - 1)
        r  <- fullExprGen(depth - 1)
      } yield Compare(l, Seq(op), Seq(r))))

  test("minimal-paren Python printer round-trips through the parser tree-exact") {
    // Render.toPythonSource drops every paren CPython's ast.unparse
    // would drop. Soundness check: re-parsing the minimal-paren text
    // must rebuild the EXACT tree — one wrongly-dropped paren
    // re-associates the parse and diverges the (fully-parenthesized)
    // explain rendering. 200 random trees over the full operator set.
    var seed = Seed(31337L)
    (1 to 200).foreach { i =>
      val e = fullExprGen(5).pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val printed = Render.toPythonSource(e)
      val src = s"def f(x):\n    return $printed"
      val parsed = Program.fromPython(src)
      assert(parsed.explain === Program(Return(e)).explain,
        s"[expr $i] printer/parser disagree for:\n  $printed")
    }
  }

  test("random programs: compiled Column and generated SQL match the interpreter") {
    import spark.implicits._
    val df = xs.toDF("x").cache()

    // fixed-seed scalacheck sampling: deterministic run, no shrinking
    // (shrinking would drop assignments whose references stay live)
    var seed = Seed(20260812L)
    (1 to 60).foreach { i =>
      val p = programGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next

      val expected = xs.map(x => run(p.stmts, Map("x" -> x)).toOption.get)

      val viaColumn = df
        .select(col("x"), p.column(Map("x" -> col("x"))).cast("long").as("r"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaSql = df
        .selectExpr("x", s"CAST((${p.sql(Map("x" -> "x"))}) AS BIGINT) AS r")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      xs.zip(expected).foreach { case (x, want) =>
        assert(viaColumn(x) == want,
          s"[program $i] Column path diverged at x=$x: got ${viaColumn(x)}, want $want\n${p.explain}")
        assert(viaSql(x) == want,
          s"[program $i] SQL path diverged at x=$x: got ${viaSql(x)}, want $want\n${p.explain}")
      }
    }
  }
}
