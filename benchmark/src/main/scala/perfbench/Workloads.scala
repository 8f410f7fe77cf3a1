package perfbench

import graft.polarify._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import scala.util.Random

/** What one call of an op produced, before listener data is joined in. */
final case class CallOut(
    df: DataFrame,
    /** the benchmark's own stopwatch spans, in call order */
    spans: Seq[Span],
    /** compile time before the noop write's optimisation and planning:
      * source text to analysed DataFrame for a program; for a gate, the
      * analysis of its result, since its construction also runs jobs
      */
    frontMs: Double,
    /** per-call layer figures the stopwatch cannot see (sizes, counts) */
    figures: Map[String, Double] = Map.empty)

/** One unit of measured work. `call` must end in exactly one timed
  * `noop` materialisation (see [[Ops.materialize]]).
  */
trait Op {
  def name: String
  /** what per-group figures aggregate under: the shape or gate family */
  def group: String
  def call(spark: SparkSession): CallOut
  /** the output check of the op's last result, run outside the timed
    * region; `Some(why)` on a mismatch
    */
  def check(spark: SparkSession, result: DataFrame): Option[String]
}

trait Workload {
  def sfDir: String
  def ops: Seq[Op]
  /** the order of pass `pass` (0 = cold) */
  def order(pass: Int): Seq[Op] = ops
  /** warm passes after the cold one, at --seconds 10 */
  def warmPasses: Int
  /** what the run record lists about the inputs */
  def describe: Map[String, Any]
}

object Ops {
  /** the system's x binding over lineitem (SparkEntry's parity queries) */
  val xCol: Column = col("l_quantity").cast("long") - lit(25L)
  /** x over the testdata: l_quantity is 1..50 */
  val xs: Seq[Long] = -24L to 25L

  def stopwatch[T](layer: String, name: String, spans: collection.mutable.Buffer[Span])(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    spans += Span(layer, name, t0, System.nanoTime())
    out
  }

  /** The one timed action: a full materialisation with the `noop` sink,
    * so every declared column is computed (a `count()` lets ColumnPruning
    * drop them).
    */
  def materialize(df: DataFrame, spans: collection.mutable.Buffer[Span]): Unit =
    stopwatch("action", "noop write", spans) {
      df.write.format("noop").mode("overwrite").save()
    }

  /** (tree nodes, when-chain cases) of a compiled polarify expression */
  def exprFigures(e: Expr): (Long, Long) = {
    val (kids, cases) = e match {
      case BinOp(_, l, r)   => (Seq(l, r), 0)
      case UnaryOp(_, o)    => (Seq(o), 0)
      case Compare(l, _, r) => (l +: r, 0)
      case IfExp(t, b, o)   => (Seq(t, b, o), 0)
      case c: CallFn        => (c.args ++ c.kwargs.map(_._2), 0)
      case WhenChain(cs, o) => (cs.flatMap { case (t, v) => Seq(t, v) } :+ o, cs.size)
      case _                => (Nil, 0)
    }
    kids.map(exprFigures).foldLeft((1L, cases.toLong)) {
      case ((n, c), (n2, c2)) => (n + n2, c + c2)
    }
  }

  /** Compiles `programs` (source text or a DSL program) into columns
    * named r0, r1, ... of one select over `base`, timing each layer.
    */
  def compileSelect(base: DataFrame, programs: Seq[Either[String, Program]]): CallOut = {
    val spans = collection.mutable.ArrayBuffer.empty[Span]
    val t0 = System.nanoTime()
    val parsed = stopwatch("parser", "parse", spans) {
      programs.map {
        case Left(src) => Program.fromPython(src)
        case Right(p)  => Program(p.stmts) // fresh: Program.expr is cached per instance
      }
    }
    val exprs = stopwatch("compiler", "compile", spans)(parsed.map(_.expr))
    val cols = stopwatch("colgen", "lower", spans) {
      parsed.map(_.column(Map("x" -> xCol)))
    }
    val df = stopwatch("catalyst", "analyse", spans) {
      base.select(xCol.as("x") +: cols.zipWithIndex.map { case (c, i) => c.cast("long").as(s"r$i") }: _*)
    }
    val frontMs = (System.nanoTime() - t0) / 1e6
    val sizes = exprs.map(exprFigures)
    materialize(df, spans)
    CallOut(df, spans.toSeq, frontMs, Map(
      "parser.source_bytes" -> programs.map {
        case Left(src) => src.getBytes("UTF-8").length.toDouble
        case Right(_)  => 0.0
      }.sum,
      "compiler.expr_nodes" -> sizes.map(_._1).sum.toDouble,
      "compiler.when_cases" -> sizes.map(_._2).sum.toDouble,
      "programs" -> programs.size.toDouble))
  }

  /** Compares the distinct (x, r0, r1, ...) rows of `df` with `expected`.
    * `small` results are collected whole, which reuses the timed write's
    * generated code; large ones are made distinct in Spark first.
    */
  def checkMapping(df: DataFrame, expected: Seq[Long => Long], small: Boolean = false): Option[String] = {
    val rows = if (small) df.collect().distinct else df.distinct().collect()
    val byX = rows.groupBy(_.getLong(0))
    xs.iterator.flatMap { x =>
      val rs = byX.getOrElse(x, Array.empty)
      if (rs.length != 1) Some(s"x=$x has ${rs.length} distinct results")
      else expected.indices.collectFirst {
        case i if rs(0).isNullAt(i + 1) || rs(0).getLong(i + 1) != expected(i)(x) =>
          s"x=$x r$i=${rs(0).get(i + 1)}, want ${expected(i)(x)}"
      }
    }.nextOption()
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
}

/** One generated program per op over sf0.001 lineitem: with ~6k rows the
  * parse → compile → lower → Catalyst → codegen path is most of the work.
  */
final class ProgramSweep(testdata: String, seed: Long, rounds: Int) extends Workload {
  val warmPasses = 5
  val sfDir = s"$testdata/sf0.001"
  private val programs = ProgramGen.programs(seed, "p", ProgramGen.sweepRound, rounds)
  private var base: DataFrame = _

  val ops: Seq[Op] = programs.map { p =>
    new Op {
      val name = p.name
      val group = p.shape
      def call(spark: SparkSession): CallOut = {
        if (base == null) base = Ops.lineitem(spark, sfDir)
        Ops.compileSelect(base, Seq(Left(p.source)))
      }
      def check(spark: SparkSession, result: DataFrame): Option[String] =
        Ops.checkMapping(result, Seq(x => Evaluator(p.stmts, x)), small = true)
    }
  }

  def describe: Map[String, Any] = Map(
    "programs" -> programs.size, "rounds" -> rounds,
    "shapes" -> ProgramGen.sweepRound.map(_.name))
}

/** The reference corpus (Corpus.all: the reference's 48 functions plus
  * polarify's 6 additions) and mid-size generated programs, as selects
  * over sf0.1 lineitem (600k rows): the scan and the CaseWhen evaluation
  * are most of the work, compiling is light. The corpus runs as selects
  * of `corpusPerSelect` columns, in corpus order; each generated program
  * runs as a select of its own, so the shapes keep their place in the
  * schedule whatever the seed.
  */
final class CorpusScan(testdata: String, seed: Long, corpusPerSelect: Int, rounds: Int) extends Workload {
  val warmPasses = 2
  val sfDir = s"$testdata/sf0.1"
  private val generated = ProgramGen.programs(seed, "m", ProgramGen.midRound, rounds)
  private type Item = (String, Either[String, Program], Long => Long)
  private val selects: Seq[(String, Seq[Item])] =
    Corpus.all.grouped(corpusPerSelect).zipWithIndex.map { case (cs, i) =>
      f"corpus$i%02d" -> cs.map(c => (s"pf_${c.name}", Right(c.program), c.oracle))
    }.toSeq ++ generated.map(g =>
      g.name -> Seq((g.name, Left(g.source), (x: Long) => Evaluator(g.stmts, x))))
  private var base: DataFrame = _

  val ops: Seq[Op] = selects.map { case (opName, members) =>
    new Op {
      val name = opName
      val group = if (opName.startsWith("corpus")) "corpus" else opName.split('_')(1)
      def call(spark: SparkSession): CallOut = {
        if (base == null) base = Ops.lineitem(spark, sfDir)
        Ops.compileSelect(base, members.map(_._2))
      }
      def check(spark: SparkSession, result: DataFrame): Option[String] =
        Ops.checkMapping(result, members.map(_._3))
    }
  }

  def describe: Map[String, Any] = Map(
    "corpus_programs" -> Corpus.all.size, "generated_programs" -> generated.size,
    "selects" -> selects.map { case (n, ms) => n -> ms.map(_._1) }.toMap)
}

/** A family-stratified panel of the extension gates over sf0.1: a cold
  * pass that builds the session substrates, then warm passes that reuse
  * them in seeded rotated orders.
  */
final class GateMix(testdata: String, seed: Long, perFamily: Int, outDir: String) extends Workload {
  val sfDir = s"$testdata/sf0.1"
  private val queries = graft.SparkEntry.queries
  // read after the gates ran: some gates derive their oracle SQL from
  // what they computed
  private def oracles = graft.SparkEntry.oracleSql.filter(_._2 != null)

  val sample: Seq[String] = GateMix.panel(queries.keySet, GateMix.costs, perFamily)

  val ops: Seq[Op] = sample.map { g =>
    new Op {
      val name = g
      val group = GateMix.family(g)
      def call(spark: SparkSession): CallOut = {
        val spans = collection.mutable.ArrayBuffer.empty[Span]
        val df = Ops.stopwatch("gate", "construct", spans)(queries(g)(spark, sfDir))
        val analysisMs = df.queryExecution.tracker.phases.get("analysis").fold(0.0)(_.durationMs.toDouble)
        Ops.materialize(df, spans)
        CallOut(df, spans.toSeq, analysisMs)
      }
      /** writes the result for the DuckDB oracle; run.py compares it */
      def check(spark: SparkSession, result: DataFrame): Option[String] = {
        if (oracles.contains(g))
          result.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$g")
        None
      }
    }
  }

  /** two warm passes: the cold pass alone costs more than the other
    * workloads' whole schedules
    */
  val warmPasses = 2

  /** The cold pass runs the panel in family order, so the same gate pays
    * for each shared substrate whatever the seed; warm pass `pass` starts
    * `pass` thirds of the way into a seeded shuffle.
    */
  override def order(pass: Int): Seq[Op] =
    if (pass == 0) ops
    else {
      val shuffled = new Random(seed).shuffle(ops)
      val k = (pass * shuffled.size / 3) % shuffled.size
      shuffled.drop(k) ++ shuffled.take(k)
    }

  def oracleSql: Map[String, String] = {
    val o = oracles
    sample.flatMap(g => o.get(g).map(g -> _)).toMap
  }

  def describe: Map[String, Any] = Map(
    "gates" -> sample, "per_family" -> perFamily,
    "pass_orders" -> (0 to 3).map(p => order(p).map(_.name)))
}

object GateMix {
  val Families: Seq[String] = Seq("ax", "dd", "sim", "tx", "mm", "sq", "st")

  def family(gate: String): String = gate.takeWhile(_ != '_')

  /** (cold s, warm s) per gate, from Calibrate's table */
  lazy val costs: Map[String, (Double, Double)] = {
    val src = scala.io.Source.fromResource("perfbench/gate_costs.tsv")
    try src.getLines().drop(1).map(_.split('\t')).collect {
      case Array(g, c, w, _*) if !c.contains("NaN") && !w.contains("NaN") => g -> (c.toDouble, w.toDouble)
    }.toMap finally src.close()
  }

  /** `perFamily` gates of each family: with a family's calibrated gates
    * ordered by cold plus warm cost, the gates at the quantiles
    * (2i+1)/(2·perFamily). Gates missing from the table are not sampled.
    */
  def panel(gates: collection.Set[String], costs: Map[String, (Double, Double)], perFamily: Int): Seq[String] =
    Families.flatMap { f =>
      val gs = gates.filter(g => family(g) == f && costs.contains(g)).toSeq
        .sortBy(g => (costs(g)._1 + costs(g)._2, g))
      (0 until perFamily).map(i => gs(gs.size * (2 * i + 1) / (2 * perFamily)))
    }
}
