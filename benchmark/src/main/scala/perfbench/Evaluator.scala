package perfbench

import graft.polarify._

/** Independent per-row interpreter for polarify programs: runs the
  * statement AST imperatively for one value of `x`, the way the source
  * would run in Python, instead of compiling it to a when-chain.
  *
  * Modelled on the interpreter in ProgramFuzzSpec and extended to every
  * construct the reference corpus uses (destructuring, annotated and
  * multi-target assignment, match sequences, calls). Where polarify
  * deliberately mirrors a quirk of the reference transpiler, so does this
  * interpreter:
  *   - a capture pattern (`case y`) binds the subject as soon as its case
  *     is reached, and the binding stays visible to later cases;
  *   - an or-pattern's guard applies to its first alternative only.
  * The benchmark's generator avoids both shapes, so on generated programs
  * this is plain Python semantics.
  *
  * Modulo truncates, as Spark's does. Constructs neither the corpus nor
  * the generator uses are rejected.
  */
object Evaluator {

  /** Callees the reference corpus uses, by the name polarify records. */
  private val callees: Map[String, (Seq[Long], Map[String, Long]) => Long] = Map(
    "call_target_identity" -> ((a, _) => a.head),
    "double" -> ((a, _) => a.head * 2),
    "clip" -> ((a, kw) => math.max(kw("lo"), math.min(kw("hi"), a.head))))

  private type Env = Map[String, Any]

  /** The program's result for `x`; fails if a path does not return. */
  def apply(stmts: Seq[Stmt], x: Long): Long =
    run(stmts, Map("x" -> x)) match {
      case Right(v) => long(v)
      case Left(_)  => sys.error("not all branches return")
    }

  private def long(v: Any): Long = v match {
    case l: Long    => l
    case i: Int     => i.toLong
    case b: Boolean => if (b) 1L else 0L
    case other      => sys.error(s"not an integer: $other")
  }

  private def bool(v: Any): Boolean = v match {
    case b: Boolean => b
    case other      => sys.error(s"not a boolean: $other")
  }

  def eval(e: Expr, env: Env): Any = e match {
    case Lit(v: Int)     => v.toLong
    case Lit(v: Long)    => v
    case Lit(v: Boolean) => v
    case Lit(null)       => null // Python None: bindable, never computed with
    case Ref(n)          => env.getOrElse(n, sys.error(s"unbound name $n"))
    case BinOp(op, l, r) =>
      (eval(l, env), eval(r, env)) match {
        case (a: Boolean, b: Boolean) => op match {
          case BinOperator.BitAnd => a && b
          case BinOperator.BitOr  => a || b
          case other              => sys.error(s"$other on booleans")
        }
        case (a, b) =>
          val (x, y) = (long(a), long(b))
          op match {
            case BinOperator.Add      => x + y
            case BinOperator.Sub      => x - y
            case BinOperator.Mult     => x * y
            case BinOperator.Mod      => x % y
            case other                => sys.error(s"unsupported operator $other")
          }
      }
    case UnaryOp(UnaryOperator.USub, o) => -long(eval(o, env))
    case UnaryOp(UnaryOperator.Not, o)  => !bool(eval(o, env))
    case Compare(l, Seq(op), Seq(r)) =>
      val (a, b) = (long(eval(l, env)), long(eval(r, env)))
      op match {
        case CmpOperator.Eq    => a == b
        case CmpOperator.NotEq => a != b
        case CmpOperator.Lt    => a < b
        case CmpOperator.LtE   => a <= b
        case CmpOperator.Gt    => a > b
        case CmpOperator.GtE   => a >= b
      }
    case IfExp(t, b, o) => if (bool(eval(t, env))) eval(b, env) else eval(o, env)
    case c: CallFn =>
      val fn = callees.getOrElse(c.name, sys.error(s"unknown callee ${c.name}"))
      fn(c.args.map(a => long(eval(a, env))),
        c.kwargs.map { case (k, v) => k -> long(eval(v, env)) }.toMap)
    case other => sys.error(s"unsupported expression $other")
  }

  // destructuring binds element by element, each value reading the env
  // as already updated, exactly as the compiler's inliner does
  private def bind(t: Target, value: Expr, env: Env): Env = (t, value) match {
    case (NameTarget(n), v) => env + (n -> eval(v, env))
    case (SeqTarget(ts), TupleExpr(vs)) => bindSeq(ts, vs, env)
    case (SeqTarget(ts), ListExpr(vs))  => bindSeq(ts, vs, env)
    case other => sys.error(s"unsupported assignment $other")
  }

  private def bindSeq(ts: Seq[Target], vs: Seq[Expr], env: Env): Env = {
    require(ts.length == vs.length, "destructuring arity mismatch")
    ts.zip(vs).foldLeft(env) { case (acc, (t, v)) => bind(t, v, acc) }
  }

  /** Right(returned value) or Left(env after falling through). */
  private def run(stmts: Seq[Stmt], env: Env): Either[Env, Any] =
    stmts.foldLeft[Either[Env, Any]](Left(env)) {
      case (done @ Right(_), _) => done
      case (Left(e), s) => s match {
        case Assign(ts, v)        => Left(ts.foldLeft(e)((acc, t) => bind(t, v, acc)))
        case AnnAssign(t, v)      => Left(bind(t, v, e))
        case If(t, body, orelse)  => if (bool(eval(t, e))) run(body, e) else run(orelse, e)
        case Return(Some(v))      => Right(eval(v, e))
        case m: Match             => runMatch(m, e)
        case other                => sys.error(s"unsupported statement $other")
      }
    }

  private def isCatchAll(c: MatchCase): Boolean =
    c.pattern == MatchAs(None) && c.guard.isEmpty

  // a tuple subject statically skips value cases and arity mismatches
  private def ignored(c: MatchCase, subject: Expr): Boolean = (c.pattern, subject) match {
    case (MatchSequence(ps), TupleExpr(es)) => ps.length != es.length
    case (MatchValue(_), TupleExpr(_))      => true
    case _                                  => false
  }

  /** Binds the pattern's capture names, then returns its test as of the
    * env after binding (`None` when the pattern tests nothing).
    */
  private def pattern(
      p: Pattern, subj: Expr, guard: Option[Expr], env: Env): (Env, Option[Boolean]) = {
    def guardOk(e: Env) = guard.forall(g => bool(eval(g, e)))
    p match {
      case MatchValue(v) =>
        (env, Some(guardOk(env) && long(eval(subj, env)) == long(eval(v, env))))
      case MatchAs(name) =>
        val e = name.fold(env)(n => env + (n -> eval(subj, env)))
        (e, guard.map(g => bool(eval(g, e))))
      case MatchOr(ps) =>
        val vals = ps.map {
          case MatchValue(v) => long(eval(v, env))
          case other         => sys.error(s"unsupported or-alternative $other")
        }
        val s = long(eval(subj, env))
        (env, Some((guardOk(env) && s == vals.head) || vals.tail.contains(s)))
      case MatchSequence(ps) =>
        val elts = subj match {
          case TupleExpr(es) => es
          case other         => sys.error(s"sequence pattern over $other")
        }
        // every capture binds first; the guard and the element tests then
        // read the env after binding
        val (e, tests) = ps.zip(elts).foldLeft((env, Seq.empty[Option[Boolean]])) {
          case ((acc, ts), (ep, el)) =>
            val (next, t) = pattern(ep, el, None, acc)
            (next, ts :+ t)
        }
        val all = guard.map(g => bool(eval(g, e))).toSeq ++ tests.flatten
        (e, if (all.isEmpty) None else Some(all.forall(identity)))
      case other => sys.error(s"unsupported pattern $other")
    }
  }

  private def runMatch(m: Match, env: Env): Either[Env, Any] = {
    var e = env
    val staged = m.cases.filterNot(c => isCatchAll(c) || ignored(c, m.subject)).map { c =>
      val (next, test) = pattern(c.pattern, m.subject, c.guard, e)
      e = next
      (test.getOrElse(sys.error("match case has no test")), e, c.body)
    }
    staged.find(_._1) match {
      case Some((_, at, body)) => run(body, at)
      case None =>
        m.cases.find(isCatchAll) match {
          case Some(ca) => run(ca.body, e)
          case None     => Left(e)
        }
    }
  }
}
