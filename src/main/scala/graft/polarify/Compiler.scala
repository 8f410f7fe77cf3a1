package graft.polarify

import scala.collection.mutable

/** The control-flow → single-conditional-expression compiler.
  *
  * A 1:1 semantic port of the reference's symbolic-execution state machine
  * (ref: polarify/main.py:129-388): statements are folded into a symbolic
  * environment (`Map[String, Expr]`, SSA-by-substitution), conditionals
  * fork the state tree, returns resolve leaves, and the resolved tree is
  * emitted as one flat first-match-wins when-chain.
  *
  * Faithfully reproduced corner semantics (see SURVEY.md §7):
  *   - eager inlining at assignment AND use sites (main.py:83-93, 142);
  *   - statements after a conditional distribute into every unresolved
  *     leaf with forked (shallow-copied) environments (main.py:270-273,
  *     286-289, 296-299, 344-347, copy() at 281/284);
  *   - dead code after the first top-level return is dropped
  *     (main.py:363);
  *   - match: catch-all hoisted to orelse (main.py:320-324), unmatchable
  *     cases pruned (main.py:311-317), guard-first `&` order
  *     (main.py:210-215), Or-guard on the first alternative only
  *     (main.py:227-236), MatchAs bindings mutate the environment before
  *     sibling cases and the orelse are parsed (main.py:328-342);
  *   - empty pruned case list collapses to orelse (main.py:375-379);
  *   - the reference's error messages are part of the API contract and
  *     reproduced as IllegalArgumentException messages
  *     (tests/functions.py:321-329, tests/functions_310.py:316-322).
  *
  * The same state machine runs in two modes. [[compileToExpr]] is the
  * reference above: `Program.expr`, `explain`, the Python-source surface
  * and `SqlGen` (hence the DuckDB oracle) use it. It copies every later
  * statement into every leaf of a fork, and every stored value into every
  * read, so `k` sequential `if/else` blocks give 2^k leaves. [[lower]] is
  * the SSA lowering behind `Program.column`, and differs in one place: at
  * every `if`/`match` join point where two or more paths fall through, it
  * merges the branches instead of distributing the rest of the body into
  * them. Returns taken inside the fork become first-match-wins guarded
  * cases; the fall-through environments merge into one, each name whose
  * branches disagree bound to a phi value
  * `CASE WHEN test THEN v_then ... ELSE v_else END`. Every non-trivial
  * value is a candidate let; [[Lets.emit]] keeps a let only where the
  * program reads it twice or more AND evaluates it on every row that gets
  * there (ANSI: a kept let runs on all those rows, so a value guarded by a
  * test, such as `100 // x` under `if x != 0`, is never computed outside
  * its guard, nor is one read only as an operand that Spark skips when
  * the other operand is null), and inlines the rest. So the lowered tree
  * grows linearly with the program, and a program whose forks fall
  * through at most one path lowers to the reference's tree.
  */
object Compiler {

  private def err(msg: String): Nothing = throw new IllegalArgumentException(msg)

  // -------------------------------------------------------------------------
  // InlineTransformer (ref: main.py:79-126)
  // -------------------------------------------------------------------------

  /** Substitute bound names by their defining expressions, recursively,
    * validating the closed world of supported expression forms. Stored
    * environment values are re-visited against the *current* environment
    * at use time, exactly like `visit_Name` → `self.visit(assignments[id])`
    * (main.py:89-93) — including the quirk that a name captured free in a
    * stored expression picks up later rebindings.
    *
    * `active` holds the names whose stored values are being re-visited, so
    * a value that reads its own name (SSA phis of a name bound on one path
    * only, or `x = x + 1` with `x` free, where the reference recurses
    * forever) reads it as a free name. In SSA mode a let is re-visited like
    * a stored value when one of its free names has been bound since it was
    * captured (the quirk above).
    */
  private def inline(
      expr: Expr, env: collection.Map[String, Expr], lets: Option[Lets],
      active: Set[String]): Expr = {
    def go(e: Expr): Expr = inline(e, env, lets, active)
    expr match {
      case Ref(n) =>
        env.get(n) match {
          case Some(v) if !active(n) => inline(v, env, lets, active + n)
          case _                     => expr
        }
      case LetRef(k) =>
        val l = lets.get
        if (l.stale(k, env)) go(l.defs(k)) else expr
      case Lit(_) => expr
      case BinOp(op, l, r) => BinOp(op, go(l), go(r))
      case UnaryOp(op, o)  => UnaryOp(op, go(o))
      case c @ CallFn(_, _, args, _, kwargs) =>
        // both positional and keyword arguments inline (main.py:104-107)
        c.copy(
          args = args.map(go),
          kwargs = kwargs.map { case (k, v) => k -> go(v) })
      case IfExp(t, b, o) =>
        // visit_IfExp (main.py:109-113): ternaries become single-case chains
        // at inline time.
        WhenChain(Seq((go(t), go(b))), go(o))
      case Compare(l, ops, cs) =>
        if (cs.length > 1) err("Polars can't handle chained comparisons")
        Compare(go(l), ops, cs.map(go))
      case WhenChain(cases, orelse) =>
        WhenChain(cases.map { case (t, v) => (go(t), go(v)) }, go(orelse))
      case _: Let        => expr // lowering output only
      case BoolOp(_, _)  => err("Unsupported expression type: ast.BoolOp")
      case TupleExpr(_)  => err("Unsupported expression type: ast.Tuple")
      case ListExpr(_)   => err("Unsupported expression type: ast.List")
    }
  }

  // -------------------------------------------------------------------------
  // State tree (ref: main.py:129-187)
  // -------------------------------------------------------------------------

  sealed trait StateKind
  /** Pending assignments of a not-yet-returned flow (main.py:130-157). */
  final class UnresolvedState(val assignments: mutable.Map[String, Expr]) extends StateKind
  /** A finished flow: the (fully inlined) returned expression. */
  final case class ReturnState(expr: Expr) extends StateKind
  /** A fork: ordered (test, state) cases + an orelse state. */
  final case class ConditionalState(body: Seq[Case], orelse: PState) extends StateKind
  final case class Case(test: Expr, state: PState)

  /** Mutable state node, mirroring the reference's `State` dataclass whose
    * `node` field is swapped in place by the handlers.
    */
  final class PState(var node: StateKind, val lets: Option[Lets] = None) {

    private def inl(e: Expr, env: mutable.Map[String, Expr]): Expr =
      inline(e, env, lets, Set.empty)

    // ref: State.handle_assign (main.py:264-273) + UnresolvedState.handle_assign
    // (main.py:138-157)
    def handleAssign(stmt: Stmt): Unit = {
      val (targets, value) = stmt match {
        case Assign(ts, v)    => (ts, v)
        case AnnAssign(t, v)  => (Seq(t), v) // annotation dropped (main.py:264-266)
        case other            => throw new IllegalStateException(s"not an assign: $other")
      }
      node match {
        case u: UnresolvedState => assignInto(targets, value, u.assignments)
        case ConditionalState(body, orelse) =>
          body.foreach(_.state.handleAssign(Assign(targets, value)))
          orelse.handleAssign(Assign(targets, value))
        case _: ReturnState => () // flow already finished; statement is dead
      }
    }

    private def assignInto(
        targets: Seq[Target], value: Expr, env: mutable.Map[String, Expr]): Unit =
      targets.foreach {
        case NameTarget(n) =>
          lets match {
            case None => env(n) = inl(value, env)
            case Some(l) =>
              val from = l.size
              env(n) = l.share(inl(value, env))
              l.capture(from, env)
          }
        case SeqTarget(elts) =>
          val vs = value match {
            case TupleExpr(es) => es
            case ListExpr(es)  => es
            case other =>
              err(s"Assignment target is ast.Tuple, but value is ${other.getClass.getSimpleName}")
          }
          require(elts.length == vs.length,
            s"destructuring arity mismatch: ${elts.length} targets, ${vs.length} values")
          elts.zip(vs).foreach { case (t, v) => assignInto(Seq(t), v, env) }
        case StarTarget(_) =>
          err("Unsupported expression type inside assignment target: ast.Starred")
      }

    // ref: State.handle_if (main.py:275-289)
    def handleIf(stmt: If): Unit = node match {
      case u: UnresolvedState =>
        node = ConditionalState(
          body = Seq(Case(
            inl(stmt.test, u.assignments),
            parseBody(stmt.body, u.assignments.clone(), lets))),
          orelse = parseBody(stmt.orelse, u.assignments.clone(), lets))
        join()
      case ConditionalState(body, orelse) =>
        body.foreach(_.state.handleIf(stmt))
        orelse.handleIf(stmt)
      case _: ReturnState => ()
    }

    // ref: State.handle_return (main.py:291-299)
    def handleReturn(value: Expr): Unit = node match {
      case u: UnresolvedState =>
        node = ReturnState(inl(value, u.assignments))
      case ConditionalState(body, orelse) =>
        body.foreach(_.state.handleReturn(value))
        orelse.handleReturn(value)
      case _: ReturnState => ()
    }

    // ref: State.translate_match (main.py:189-262). Returns None for a
    // bare binding pattern with no guard (the binding is the only effect).
    def translateMatch(subj: Expr, pattern: Pattern, guard: Option[Expr]): Option[Expr] =
      pattern match {
        case MatchValue(v) =>
          val eq = Compare(subj, CmpOperator.Eq, v)
          guard match {
            case Some(g) => Some(BinOp(BinOperator.BitAnd, g, eq)) // guard FIRST (main.py:210-215)
            case None    => Some(eq)
          }
        case MatchAs(nameOpt) =>
          nameOpt.foreach { n =>
            // binds subject to name — mutates the env in place so sibling
            // cases and the orelse see it (main.py:218-226, 328-335)
            handleAssign(Assign(n, subj))
          }
          guard
        case MatchOr(patterns) =>
          // guard ANDed onto the FIRST alternative only (main.py:227-236)
          val left = translateMatch(subj, patterns.head, guard)
          val right =
            if (patterns.length > 2)
              translateMatch(subj, MatchOr(patterns.tail), None)
            else
              translateMatch(subj, patterns(1), None)
          Some(BinOp(BinOperator.BitOr,
            left.getOrElse(err("match case has no test")),
            right.getOrElse(err("match case has no test"))))
        case MatchSequence(patterns) =>
          if (patterns.last.isInstanceOf[MatchStar])
            err("starred patterns are not supported.")
          subj match {
            case TupleExpr(elts) =>
              val left = translateMatch(elts.head, patterns.head, guard)
              val right =
                if (patterns.length > 2)
                  translateMatch(TupleExpr(elts.tail), MatchSequence(patterns.tail), None)
                else
                  translateMatch(elts(1), patterns(1), None)
              (left, right) match {
                case (None, r) => r
                case (l, None) => l
                case (Some(l), Some(r)) => Some(BinOp(BinOperator.BitAnd, l, r))
              }
            case _ => err("Matching lists is not supported.")
          }
        case MatchStar(_) =>
          err("starred patterns are not supported.")
        case other =>
          err(s"Incompatible match and subject types: ast.${patternName(other)} and " +
            s"${subj.getClass.getSimpleName}.")
      }

    /** The join point of a fresh fork: the only place the two modes
      * differ. The reference leaves the fork in place, so later statements
      * distribute into its leaves; SSA mode merges it (see [[Compiler.join]]).
      */
    private def join(): Unit = (lets, node) match {
      case (Some(l), c: ConditionalState) => node = Compiler.join(c, l)
      case _                              => ()
    }

    private def patternName(p: Pattern): String = p match {
      case MatchMappingPattern => "MatchMapping"
      case _                   => p.getClass.getSimpleName
    }

    // ref: State.handle_match (main.py:301-347)
    def handleMatch(stmt: Match): Unit = {
      // catch-all = bare `case _:` with no guard (main.py:302-309)
      def isCatchAll(c: MatchCase): Boolean = c.pattern match {
        case MatchAs(None) => c.guard.isEmpty
        case _             => false
      }
      // python statically ignores arity-incompatible tuple cases
      // (main.py:311-317)
      def ignoreCase(c: MatchCase): Boolean = (c.pattern, stmt.subject) match {
        case (MatchSequence(ps), TupleExpr(es)) => ps.length != es.length
        case (MatchValue(_), TupleExpr(_))      => true
        case _                                  => false
      }

      node match {
        case u: UnresolvedState =>
          val orelseBody: Seq[Stmt] =
            stmt.cases.find(isCatchAll).map(_.body).getOrElse(Nil)
          // Sequencing matters: translate each case's pattern (which may
          // bind names into u.assignments) BEFORE parsing its body with a
          // fork of the then-current env; the orelse is parsed last with
          // the fully mutated env (main.py:325-343 evaluation order).
          val cases = stmt.cases
            .filterNot(c => isCatchAll(c) || ignoreCase(c))
            .map { c =>
              val test = translateMatch(stmt.subject, c.pattern, c.guard)
                .getOrElse(err("match case has no test"))
              Case(
                inl(test, u.assignments),
                parseBody(c.body, u.assignments.clone(), lets))
            }
          node = ConditionalState(cases, parseBody(orelseBody, u.assignments.clone(), lets))
          join()
        case ConditionalState(body, orelse) =>
          body.foreach(_.state.handleMatch(stmt))
          orelse.handleMatch(stmt)
        case _: ReturnState => ()
      }
    }
  }

  // -------------------------------------------------------------------------
  // parse_body (ref: main.py:350-369)
  // -------------------------------------------------------------------------

  def parseBody(
      fullBody: Seq[Stmt],
      assignments: mutable.Map[String, Expr] = mutable.Map.empty,
      lets: Option[Lets] = None): PState = {
    val state = new PState(new UnresolvedState(assignments), lets)
    var i = 0
    var done = false
    while (i < fullBody.length && !done) {
      fullBody(i) match {
        case s: Assign    => state.handleAssign(s)
        case s: AnnAssign => state.handleAssign(s)
        case s: If        => state.handleIf(s)
        case Return(valueOpt) =>
          val v = valueOpt.getOrElse(err("return needs a value"))
          state.handleReturn(v)
          done = true // dead code after the first top-level return (main.py:363)
        case s: Match => state.handleMatch(s)
        case UnsupportedStmt(n) => err(s"Unsupported statement type: ast.$n")
      }
      i += 1
    }
    state
  }

  // -------------------------------------------------------------------------
  // transform_tree_into_expr (ref: main.py:372-388)
  // -------------------------------------------------------------------------

  def resolve(state: PState): Expr = state.node match {
    case ReturnState(e) => e
    case ConditionalState(body, orelse) =>
      if (body.isEmpty) resolve(orelse) // all cases pruned (main.py:375-379)
      else {
        val cases = body.map(c => (c.test, resolve(c.state)))
        resolve(orelse) match {
          // flat chain, not nested otherwise: each later `when` hangs off
          // the previous then node (ref build_polars_when_then_otherwise,
          // main.py:49-75) — also yields ONE flat Catalyst CaseWhen
          case WhenChain(oCases, oElse) => WhenChain(cases ++ oCases, oElse)
          case other                    => WhenChain(cases, other)
        }
      }
    case _: UnresolvedState => err("Not all branches return")
  }

  /** Full pipeline: statements → resolved, fully inlined expression tree. */
  def compileToExpr(stmts: Seq[Stmt]): Expr = resolve(parseBody(stmts))

  /** SSA pipeline: statements → a tree of linear size whose shared values
    * are [[Let]]-bound, for the Spark lowering (see the object doc).
    */
  def lower(stmts: Seq[Stmt]): Expr = {
    val lets = new Lets
    lets.emit(resolve(parseBody(stmts, mutable.Map.empty, Some(lets))))
  }

  /** the number of values a lowered tree binds as lets */
  private[graft] def letCount(e: Expr): Int = e match {
    case Let(bindings, _) => bindings.size + children(e).map(letCount).sum
    case _                => children(e).map(letCount).sum
  }

  // -------------------------------------------------------------------------
  // SSA mode: join points
  // -------------------------------------------------------------------------

  private val True = Lit(true)
  private val False = Lit(false)

  /** First-match-wins choice between arms, the last of which has no
    * test. An arm valued None is a don't-care (no row it takes is ever
    * read), so it is dropped and its rows take a later arm; trailing arms
    * equal to the else fold into it. None when every arm is a don't-care.
    */
  private def choose(arms: Seq[(Option[Expr], Option[Expr])]): Option[Expr] = {
    val live = arms.collect { case (t, Some(v)) => (t, v) }
    live.lastOption.map { case (_, orelse) =>
      val cases = live.init.map { case (t, v) => (t.get, v) }
        .reverse.dropWhile(_._2 == orelse).reverse
      if (cases.isEmpty) orelse
      else orelse match {
        case WhenChain(oc, oe) => WhenChain(cases ++ oc, oe)
        case _                 => WhenChain(cases, orelse)
      }
    }
  }

  /** `f` over the leaves of a state tree, chosen between by its tests */
  private def overLeaves(s: PState)(f: StateKind => Option[Expr]): Option[Expr] =
    s.node match {
      case ConditionalState(cases, orelse) =>
        choose(cases.map(c => Some(c.test) -> overLeaves(c.state)(f)) :+
          (None -> overLeaves(orelse)(f)))
      case leaf => f(leaf)
    }

  private def openLeaves(s: PState): Int = s.node match {
    case ConditionalState(cases, orelse) => cases.map(c => openLeaves(c.state)).sum + openLeaves(orelse)
    case _: UnresolvedState              => 1
    case _: ReturnState                  => 0
  }

  /** Merges the fresh fork `c` at its join point. With at most one leaf
    * falling through there is nothing to merge, and the fork stays as the
    * reference builds it: later statements go to that one leaf. Otherwise
    * the fork's returns become one guarded case (the guard holds on the
    * rows that returned, the value is what they returned), and its open
    * leaves merge into one open state, so later statements compile once.
    */
  private def join(c: ConditionalState, lets: Lets): StateKind = {
    val fork = new PState(c, Some(lets))
    if (openLeaves(fork) <= 1) return c
    val guard = overLeaves(fork) {
      case _: ReturnState => Some(True)
      case _              => Some(False)
    }.get match {
      case WhenChain(Seq((t, True)), False) => t // a WHEN test: null is no match
      case g                                => g
    }
    val open = new UnresolvedState(merge(fork, lets))
    if (guard == False) open
    else {
      val value = overLeaves(fork) {
        case ReturnState(v) => Some(v)
        case _              => None
      }.get
      ConditionalState(
        Seq(Case(guard, new PState(ReturnState(value), Some(lets)))),
        new PState(open, Some(lets)))
    }
  }

  /** One environment for the open leaves of `fork`: a name they bind
    * alike keeps its value, any other gets a phi over the leaves' reads of
    * it (a read where a leaf leaves it unbound is the free name, as in the
    * reference's leaf).
    */
  private def merge(fork: PState, lets: Lets): mutable.Map[String, Expr] = {
    def envs(s: PState): Seq[mutable.Map[String, Expr]] = s.node match {
      case ConditionalState(cases, orelse) => cases.flatMap(c => envs(c.state)) ++ envs(orelse)
      case u: UnresolvedState              => Seq(u.assignments)
      case _: ReturnState                  => Nil
    }
    val from = lets.size
    val merged = mutable.Map.empty[String, Expr]
    envs(fork).flatMap(_.keys).distinct.foreach { n =>
      merged(n) = lets.share(overLeaves(fork) {
        case u: UnresolvedState => Some(inline(Ref(n), u.assignments, Some(lets), Set.empty))
        case _                  => None
      }.get)
    }
    lets.capture(from, merged)
    merged
  }

  /** The shared values of one SSA lowering, in creation order: a value's
    * definition reads only values made before it. Each remembers its free
    * names and the binding each had when captured; a let whose free name
    * has been bound since is stale, and a read re-visits its definition
    * instead of reusing it (the reference's free-name quirk).
    */
  final class Lets {
    private[Compiler] val defs = mutable.ArrayBuffer.empty[Expr]
    private val captured = mutable.ArrayBuffer.empty[Map[String, Option[Expr]]]

    def size: Int = defs.size

    /** `e` as a new let, unless it is an atom */
    def share(e: Expr): Expr = e match {
      case Lit(_) | Ref(_) | LetRef(_) | UnaryOp(UnaryOperator.USub, Lit(_)) => e
      case _ =>
        defs += e
        captured += Map.empty
        LetRef(defs.size - 1)
    }

    /** Captures, for each let made since `from`, its free names' bindings in `env` */
    def capture(from: Int, env: collection.Map[String, Expr]): Unit =
      (from until defs.size).foreach { k =>
        captured(k) = freeNames(defs(k)).iterator.map(n => n -> env.get(n)).toMap
      }

    private def freeNames(e: Expr): Set[String] = e match {
      case Ref(n)    => Set(n)
      case LetRef(k) => captured(k).keySet
      case _         => children(e).iterator.flatMap(freeNames).toSet
    }

    def stale(k: Int, env: collection.Map[String, Expr]): Boolean =
      captured(k).exists { case (n, b) => env.get(n) != b }

    /** The lowered tree. A scope is the root, or a part of the tree that
      * runs on only some of the rows its parent runs on: a when-chain's
      * values and its tests after the first, the right side of `&`/`|`, a
      * function's arguments. A scope keeps the lets it reads at least twice
      * AND evaluates whenever it is evaluated, as [[Let]] levels around
      * itself, and inlines the rest. ANSI: a kept let runs on every row
      * that reaches its scope, and so does the reference tree's copy of it.
      * Kept lets nest at most [[MaxLetDepth]] levels deep, enclosing
      * scopes' levels included; deeper ones inline.
      */
    def emit(root: Expr): Expr = scope(root, Set.empty, 0)

    private lazy val alwaysOf = new Array[Set[Int]](defs.size)

    /** the lets evaluated whenever `e` is */
    private def always(e: Expr): Set[Int] = e match {
      case LetRef(k) =>
        if (alwaysOf(k) == null) alwaysOf(k) = always(defs(k))
        alwaysOf(k) + k
      // Spark evaluates one operand first and skips the other when that
      // one is null (`&`/`|`: when it decides the result); a division
      // evaluates its divisor first
      case BinOp(BinOperator.Div | BinOperator.Mod | BinOperator.FloorDiv, _, r) => always(r)
      case BinOp(_, l, _)   => always(l)
      case Compare(l, _, _) => always(l)
      case WhenChain(cases, orelse) =>
        var tested = Set.empty[Int]
        val paths = cases.map { case (t, v) => tested ++= always(t); tested ++ always(v) } :+
          (tested ++ always(orelse))
        paths.reduce(_ intersect _)
      case _: CallFn => Set.empty // an opaque function may not evaluate an argument
      case _         => children(e).iterator.flatMap(always).toSet
    }

    /** `e` as a scope inside `depth` levels of lets, which bind `bound`.
      * Without `search`, no let is read twice in `e` and all inline.
      */
    private def scope(e: Expr, bound: Set[Int], depth: Int, search: Boolean = true): Expr = {
      val uses = mutable.Map.empty[Int, Int].withDefaultValue(0) // saturates at 2
      val kept = mutable.Set.empty[Int]
      val level = mutable.Map.empty[Int, Int]
      if (search) {
        def count(x: Expr, times: Int): Unit = x match {
          case LetRef(k) => if (!bound(k)) uses(k) = math.min(2, uses(k) + times)
          case _         => children(x).foreach(count(_, times))
        }
        count(e, 1)
        val everyRow = always(e)
        // a definition reads only earlier lets, so counts are final top-down
        for (k <- uses.keys.maxOption.getOrElse(-1) to 0 by -1 if uses(k) > 0) {
          if (uses(k) == 2 && everyRow(k)) kept += k
          count(defs(k), if (kept(k)) 1 else uses(k))
        }
        // a kept let's level is one more than the deepest kept let it reads;
        // an inlined one's is the deepest kept let it reads
        def deepest(x: Expr): Int = x match {
          case LetRef(k) => if (bound(k)) 0 else level(k)
          case _         => children(x).foldLeft(0)((d, c) => d max deepest(c))
        }
        for (k <- uses.keys.toSeq.sorted) {
          val d = deepest(defs(k))
          if (kept(k) && depth + d >= MaxLetDepth) kept -= k
          level(k) = if (kept(k)) d + 1 else d
        }
      }

      val inScope = bound ++ kept
      val inner = depth + kept.iterator.map(level).maxOption.getOrElse(0)
      // a scope below reads a let at most as often as this one does
      val below = uses.exists { case (k, n) => n == 2 && !kept(k) }
      def sub(x: Expr): Expr = scope(x, inScope, inner, below)
      val inlined = mutable.Map.empty[Int, Expr]
      def emitIn(x: Expr): Expr = x match {
        case LetRef(k) => if (inScope(k)) x else inlined.getOrElseUpdate(k, emitIn(defs(k)))
        case WhenChain((t0, v0) +: rest, orelse) =>
          val cases = (emitIn(t0), sub(v0)) +: rest.map { case (t, v) => (sub(t), sub(v)) }
          sub(orelse) match { // flat, like resolve
            case WhenChain(oc, oe) => WhenChain(cases ++ oc, oe)
            case o                 => WhenChain(cases, o)
          }
        case BinOp(op @ (BinOperator.BitAnd | BinOperator.BitOr), l, r) => BinOp(op, emitIn(l), sub(r))
        case c: CallFn => mapChildren(c, sub)
        case _         => mapChildren(x, emitIn)
      }
      val body = emitIn(e)
      kept.toSeq.sorted.groupBy(level).toSeq.sortBy(-_._1).foldLeft(body) {
        case (b, (_, ks)) => Let(ks.map(k => k -> emitIn(defs(k))), b)
      }
    }
  }

  /** Nesting limit for kept lets, per program; see [[Lets.emit]]. The
    * analyzer binds one level per iteration of its fixed-point Resolution
    * batch (`spark.sql.analyzer.maxIterations`, 100 by default), and a
    * program's column passed as another's parameter adds its levels to
    * the other's: four programs at the limit nest within the default, a
    * fifth fails analysis.
    */
  val MaxLetDepth = 24

  private def children(e: Expr): Seq[Expr] = e match {
    case BinOp(_, l, r)    => Seq(l, r)
    case UnaryOp(_, o)     => Seq(o)
    case Compare(l, _, cs) => l +: cs
    case IfExp(t, b, o)    => Seq(t, b, o)
    case c: CallFn         => c.args ++ c.kwargs.map(_._2)
    case WhenChain(cs, o)  => cs.flatMap { case (t, v) => Seq(t, v) } :+ o
    case TupleExpr(es)     => es
    case ListExpr(es)      => es
    case BoolOp(_, vs)     => vs
    case Let(bs, body)     => bs.map(_._2) :+ body
    case Lit(_) | Ref(_) | LetRef(_) => Nil
  }

  private def mapChildren(e: Expr, f: Expr => Expr): Expr = e match {
    case BinOp(op, l, r)    => BinOp(op, f(l), f(r))
    case UnaryOp(op, o)     => UnaryOp(op, f(o))
    case Compare(l, ops, cs) => Compare(f(l), ops, cs.map(f))
    case IfExp(t, b, o)     => IfExp(f(t), f(b), f(o))
    case c: CallFn          => c.copy(args = c.args.map(f), kwargs = c.kwargs.map { case (k, v) => k -> f(v) })
    case WhenChain(cs, o)   => WhenChain(cs.map { case (t, v) => (f(t), f(v)) }, f(o))
    case TupleExpr(es)      => TupleExpr(es.map(f))
    case ListExpr(es)       => ListExpr(es.map(f))
    case BoolOp(op, vs)     => BoolOp(op, vs.map(f))
    case Let(bs, body)      => Let(bs.map { case (k, v) => k -> f(v) }, f(body))
    case Lit(_) | Ref(_) | LetRef(_) => e
  }
}
