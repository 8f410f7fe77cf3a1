package perfbench

import graft.polarify.{Corpus, Program}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests: deterministic inputs, an evaluator that
  * agrees with the corpus oracle, and the percentile rule.
  */
class PerfbenchSpec extends AnyFunSuite {

  test("the same seed gives the same programs, another seed other constants") {
    def sources(seed: Long) =
      ProgramGen.programs(seed, "p", ProgramGen.sweepRound, 2).map(_.source)
    assert(sources(7) == sources(7))
    assert(sources(7) != sources(8))
    assert(sources(7).map(_.length) != Nil)
  }

  test("the gate panel is stratified by family; the seed sets the warm orders") {
    def mix(seed: Long) = new GateMix("unused", seed, 2, "unused")
    val panel = mix(1).sample
    assert(panel.distinct.size == panel.size)
    assert(panel.groupBy(GateMix.family).map { case (f, gs) => f -> gs.size } ==
      GateMix.Families.map(_ -> 2).toMap)
    def orders(seed: Long) = (0 to 3).map(mix(seed).order(_).map(_.name))
    assert(orders(1) == orders(1))
    assert(orders(1).head == orders(2).head && orders(1).head == panel)
    assert(orders(1).tail != orders(2).tail)
    assert(orders(1).forall(_.sorted == panel.sorted))
  }

  test("the evaluator agrees with Corpus.oracle on every corpus program") {
    assert(Corpus.all.size >= 48)
    for (c <- Corpus.all; x <- -100L to 100L) {
      val (got, want) = (Evaluator(c.program.stmts, x), c.oracle(x))
      assert(got == want, s"${c.name} at x=$x")
    }
  }

  test("generated sources mean what the evaluator runs") {
    for (p <- ProgramGen.programs(3, "p", ProgramGen.sweepRound ++ ProgramGen.midRound, 1)) {
      val parsed = Program.fromPython(p.source).stmts
      for (x <- Ops.xs) assert(Evaluator(parsed, x) == Evaluator(p.stmts, x), p.source)
    }
  }

  test("corpus_scan's generated programs are mid-size") {
    for (p <- ProgramGen.programs(5, "m", ProgramGen.midRound, 1)) {
      val (nodes, _) = Ops.exprFigures(Program(p.stmts).expr)
      assert(nodes <= 1500, s"${p.shape} has $nodes nodes")
    }
  }

  test("a percentile keeps ten samples beyond it, or falls back") {
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.percentile(xs, 50).contains((50.0, 100.5)))
    assert(Stats.percentile(xs, 90).get._1 == 90.0)
    // 50 samples: p90 would leave 4 beyond; the highest with 10 is reported
    val few = (1 to 50).map(_.toDouble)
    val (p, v) = Stats.percentile(few, 90).get
    assert(p < 90 && v == 40.0 && few.count(_ > v) == Stats.MinBeyond)
    assert(Stats.percentile((1 to 10).map(_.toDouble), 50).isEmpty)
  }

  private lazy val testdata =
    sys.env.getOrElse("GRAFT_TESTDATA", s"${sys.props("user.home")}/testdata")

  private def aggregateExprs(p: LogicalPlan): Int =
    p.collectWithSubqueries { case a: Aggregate => a.aggregateExpressions.size }.sum

  test("the timed noop write keeps every aggregate a count() would prune") {
    assume(new java.io.File(s"$testdata/sf0.001").isDirectory, s"no testdata at $testdata")
    val spark = graft.Sessions.configure(SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false"))
      .getOrCreate()
    val rec = new Recorder(spark, traced = false)
    val gates = Seq("tx_winnow_fp", "sim_pca_recall", "dd_hll_intersect")
    val losses = gates.map { g =>
      val df = graft.SparkEntry.queries(g)(spark, s"$testdata/sf0.001")
      val declared = aggregateExprs(df.queryExecution.optimizedPlan)
      Ops.materialize(df, collection.mutable.ArrayBuffer.empty)
      val write = rec.drainUntilWrite().filter(e => Recorder.isNoopWrite(e.qe)).last
      assert(aggregateExprs(write.qe.optimizedPlan) == declared, g)
      // count() adds its own count(1) and lets ColumnPruning drop the rest
      declared + 1 - aggregateExprs(df.groupBy().count().queryExecution.optimizedPlan)
    }
    assert(losses.exists(_ > 0), s"count() pruned nothing on ${gates.mkString(", ")}")
  }
}
