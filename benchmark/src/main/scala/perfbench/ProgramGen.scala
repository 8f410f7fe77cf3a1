package perfbench

import graft.polarify._

import scala.util.Random

/** A generated program: the statement AST the evaluator runs and the
  * Python source text the measured pipeline starts from.
  */
final case class GenProgram(name: String, shape: String, stmts: Seq[Stmt]) {
  lazy val source: String = PySource.render(name, stmts)
}

/** Seeded program generator.
  *
  * A shape fixes a program's structure (how many blocks, arms or cases);
  * the seed picks its constants, comparison operators and arm values. So
  * two seeds give programs of the same size with different code, and a
  * run's cost does not depend on which seed drew it. Every name a
  * program reads is bound before it is read, and no program divides,
  * takes a modulo of a negative number or guards an or-pattern, so
  * Python and polarify give the same result on every row.
  */
object ProgramGen {

  /** A program shape: a name and a builder from a random source. */
  final case class Shape(name: String, build: Random => Seq[Stmt])

  private val x = Ref("x")
  private def lit(v: Long): Expr = Lit(v)
  private def add(l: Expr, r: Expr): Expr = BinOp(BinOperator.Add, l, r)
  private def sub(l: Expr, r: Expr): Expr = BinOp(BinOperator.Sub, l, r)
  private def mul(l: Expr, r: Expr): Expr = BinOp(BinOperator.Mult, l, r)
  private def cmp(l: Expr, op: CmpOperator, r: Expr): Expr = Compare(l, op, r)

  private val orderOps = Vector(CmpOperator.Lt, CmpOperator.LtE, CmpOperator.Gt, CmpOperator.GtE)
  private def orderOp(r: Random): CmpOperator = orderOps(r.nextInt(orderOps.size))
  /** a constant inside x's range over lineitem, [-24, 25] */
  private def inRange(r: Random): Long = r.nextInt(50) - 24L
  private def small(r: Random): Long = 1L + r.nextInt(9)

  /** `k` sequential if/else blocks, each reading the previous block's
    * result; the compiler distributes every later block into both arms
    * of every earlier one, so the when-chain has 2^k leaves.
    */
  def blocks(k: Int): Shape = Shape(s"blocks$k", r => {
    val y = Ref("y")
    val body = (1 to k).map { _ =>
      If(cmp(y, orderOp(r), lit(inRange(r))),
        Seq(Assign("y", add(y, lit(small(r))))),
        Seq(Assign("y", sub(mul(y, lit(2)), lit(small(r))))))
    }
    Assign("y", x) +: body :+ Return(y)
  })

  /** an if/elif/else chain of `n` arms assigning one name */
  def elifChain(n: Int): Shape = Shape(s"elif$n", r => {
    val arms = (1 to n).map(_ => (cmp(x, orderOp(r), lit(inRange(r))),
      add(mul(x, lit(small(r))), lit(r.nextInt(201) - 100L))))
    val chain = arms.foldRight[Seq[Stmt]](Seq(Assign("r", lit(r.nextInt(201) - 100L)))) {
      case ((test, value), orelse) => Seq(If(test, Seq(Assign("r", value)), orelse))
    }
    chain :+ Return(Ref("r"))
  })

  /** a `match x` of `n` cases cycling through value, or-pattern, guarded
    * value and guarded wildcard cases, closed by a catch-all
    */
  def matchCases(n: Int): Shape = Shape(s"match$n", r => {
    val y = Ref("y")
    val cases = (0 until n).map { i =>
      val ret = Seq(Return(add(mul(y, lit(small(r))), lit(small(r)))))
      i % 4 match {
        case 0 => MatchCase(MatchValue(lit(inRange(r))), None, ret)
        case 1 => MatchCase(MatchOr(Seq.fill(2 + r.nextInt(2))(MatchValue(lit(inRange(r))))), None, ret)
        case 2 => MatchCase(MatchValue(lit(inRange(r))), Some(cmp(y, orderOp(r), lit(inRange(r)))), ret)
        case _ => MatchCase(MatchAs(None), Some(cmp(x, orderOp(r), lit(inRange(r)))), ret)
      }
    }
    Seq(Assign("y", add(x, lit(small(r)))),
      Match(x, cases :+ MatchCase(MatchAs(None), None, Seq(Return(sub(y, lit(small(r))))))))
  })

  /** a ternary nested `d` deep in its else arm, plus one more in the return */
  def ternaries(d: Int): Shape = Shape(s"ternary$d", r => {
    val nested = (1 to d).foldRight[Expr](lit(r.nextInt(21) - 10L)) { (_, orelse) =>
      IfExp(cmp(x, orderOp(r), lit(inRange(r))), add(x, lit(small(r))), orelse)
    }
    Seq(Assign("t", nested),
      Return(add(Ref("t"), IfExp(cmp(x, orderOp(r), lit(inRange(r))), lit(small(r)), lit(0)))))
  })

  /** straight-line `y = y + y`, `n` times: inlining gives 2^n leaves */
  def doubling(n: Int): Shape = Shape(s"double$n", r => {
    val y = Ref("y")
    Assign("y", add(x, lit(small(r)))) +: Seq.fill(n)(Assign("y", add(y, y))) :+ Return(y)
  })

  /** program_sweep's schedule: one round visits every shape once. Blocks
    * stop at 8: each further block doubles the cost of a call (about 1.1 s
    * at 8, 2.8 s at 9, 6.7 s at 10 and 14 s at 11 on 4 cores), and a run
    * must stay well inside its time budget.
    */
  val sweepRound: Seq[Shape] =
    (1 to 8).map(blocks) ++ Seq(8, 32, 128).map(elifChain) ++ Seq(4, 16).map(matchCases) ++
      Seq(4, 16).map(ternaries) ++ Seq(4, 6, 8).map(doubling)

  /** corpus_scan's generated programs: mid-size, at most about 1.5k nodes */
  val midRound: Seq[Shape] =
    (2 to 5).map(blocks) ++ Seq(8, 16, 24).map(elifChain) ++ Seq(4, 8).map(matchCases) ++
      Seq(4, 8).map(ternaries) ++ Seq(5, 7).map(doubling)

  /** `rounds` passes over `shapes`, each program with its own constants */
  def programs(seed: Long, prefix: String, shapes: Seq[Shape], rounds: Int): Seq[GenProgram] = {
    val r = new Random(seed)
    for { round <- 0 until rounds; s <- shapes } yield
      GenProgram(s"${prefix}_${s.name}_r$round", s.name, s.build(r))
  }
}

/** Renders the generator's AST as Python source, fully parenthesised,
  * with `elif` for an else arm that is a single `if`.
  */
object PySource {
  def render(name: String, stmts: Seq[Stmt]): String =
    s"def $name(x):\n${block(stmts, "    ")}\n"

  private def expr(e: Expr): String = e match {
    case Lit(v)          => v.toString
    case Ref(n)          => n
    case BinOp(op, l, r) => s"(${expr(l)} ${op.python} ${expr(r)})"
    case UnaryOp(op, o)  => s"(${op.python}(${expr(o)}))"
    case Compare(l, Seq(op), Seq(r)) => s"(${expr(l)} ${op.python} ${expr(r)})"
    case IfExp(t, b, o)  => s"(${expr(b)} if ${expr(t)} else ${expr(o)})"
    case other           => sys.error(s"not generated: $other")
  }

  private def pattern(p: Pattern): String = p match {
    case MatchValue(v)  => expr(v)
    case MatchOr(ps)    => ps.map(pattern).mkString(" | ")
    case MatchAs(None)  => "_"
    case MatchAs(Some(n)) => n
    case other          => sys.error(s"not generated: $other")
  }

  private def block(stmts: Seq[Stmt], ind: String): String =
    stmts.map(stmt(_, ind)).mkString("\n")

  private def stmt(s: Stmt, ind: String): String = s match {
    case Assign(Seq(NameTarget(n)), v) => s"$ind$n = ${expr(v)}"
    case Return(Some(v))               => s"${ind}return ${expr(v)}"
    case If(t, body, orelse)           => ifChain("if", t, body, orelse, ind)
    case Match(subject, cases) =>
      val inner = ind + "    "
      (s"${ind}match ${expr(subject)}:" +: cases.map { c =>
        val guard = c.guard.fold("")(g => s" if ${expr(g)}")
        s"${inner}case ${pattern(c.pattern)}$guard:\n${block(c.body, inner + "    ")}"
      }).mkString("\n")
    case other => sys.error(s"not generated: $other")
  }

  private def ifChain(kw: String, t: Expr, body: Seq[Stmt], orelse: Seq[Stmt], ind: String): String = {
    val head = s"$ind$kw ${expr(t)}:\n${block(body, ind + "    ")}"
    orelse match {
      case Nil                   => head
      case Seq(If(t2, b2, o2))   => head + "\n" + ifChain("elif", t2, b2, o2, ind)
      case other                 => s"$head\n${ind}else:\n${block(other, ind + "    ")}"
    }
  }
}
