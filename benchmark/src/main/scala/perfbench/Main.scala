package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One measured call of an op, with the listener data joined in. */
final case class CallRec(
    op: String, group: String, pass: Int, traced: Boolean,
    root: Span, spans: Seq[Span], compileMs: Double, actionMs: Double,
    rowsTimesPrograms: Double, error: Option[String], figures: Map[String, Double]) {
  def wallMs: Double = root.ms
}

/** The benchmark's JVM side: sets up a session, runs one workload's
  * passes in a closed loop (each op starts when the previous one ends),
  * checks outputs outside the timed region and writes the run record.
  *
  * {{{
  * perfbench.Main --workload program_sweep --seed 1 --seconds 10 --trace 0 \
  *   --out <dir> --testdata <dir>
  * }}}
  */
object Main {
  val SetupReps = 5
  val OpTimeoutSec = 30L
  val Workloads = Seq("program_sweep", "corpus_scan", "gate_mix")

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = arg(args, "--seed").getOrElse(sys.error("--seed is required")).toLong
    val seconds = arg(args, "--seconds").fold(10)(_.toInt)
    val traced = arg(args, "--trace").contains("1")
    val out = arg(args, "--out").getOrElse(sys.error("--out is required"))
    val testdata = arg(args, "--testdata").getOrElse(sys.error("--testdata is required"))
    val cpus = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(out))

    val w: Workload = workload match {
      case "program_sweep" => new ProgramSweep(testdata, seed, rounds = 1)
      case "corpus_scan"   => new CorpusScan(testdata, seed, corpusPerSelect = 6, rounds = 2)
      case "gate_mix"      => new GateMix(testdata, seed, perFamily = 2, s"$out/gate_results")
    }
    // the schedule is sized for --seconds 10 on 4 cores; more seconds buy
    // more warm passes
    val warmPasses = math.max(1, w.warmPasses * seconds / 10)

    val (spark, setups) = Setup.run(cpus, out, w.sfDir, SetupReps)
    val experimentalBefore = Setup.experimental(spark)
    val rec = new Recorder(spark, traced)
    val runner = new Runner(spark, rec)

    val mem = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType.name == "HEAP")
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    mem.foreach(_.resetPeakUsage())
    val gc0 = gcs.map(_.getCollectionTime).sum

    // pass 0 is cold. A traced run adds an untraced warm pass and a traced
    // one after it: the untraced pass against the mean of its traced
    // neighbours gives the tracing overhead, free of warm-up drift
    val untracedPass = warmPasses + 1
    val calls = (0 to warmPasses + (if (traced) 2 else 0)).flatMap { pass =>
      val tracedPass = traced && pass != untracedPass
      rec.setRecording(tracedPass)
      w.order(pass).map(op => runner.call(op, pass, tracedPass))
    }
    rec.setRecording(false)
    val heapPeakMb = mem.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val gcMs = (gcs.map(_.getCollectionTime).sum - gc0).toDouble

    // output checks, outside the timed region
    val checkStart = System.nanoTime()
    val failedOps = calls.filter(_.error.isDefined).map(c => c.op -> c.error.get).toMap
    val checks = w.ops.filterNot(o => failedOps.contains(o.name)).flatMap { op =>
      val why = try op.check(spark, runner.lastResult(op.name))
        catch { case e: Throwable => Some(s"check failed: $e") }
      why.map(op.name -> _)
    }.toMap
    val gateOracles = w match {
      case g: GateMix => g.oracleSql
      case _          => Map.empty[String, String]
    }

    val checkS = (System.nanoTime() - checkStart) / 1e9
    val experimentalAfter = Setup.experimental(spark)
    val metrics = Metrics.endToEnd(calls.filter(_.pass <= warmPasses), setups)
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "timed_action" -> "df.write.format(\"noop\").mode(\"overwrite\").save()",
      "cores" -> cpus, "sf_dir" -> w.sfDir, "testdata" -> testdata,
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "jdk_version" -> System.getProperty("java.version"),
      "spark_graft_env" -> sys.env.filter(_._1.startsWith("SPARK_GRAFT_")),
      "experimental_before" -> experimentalBefore, "experimental_after" -> experimentalAfter,
      "inputs" -> w.describe, "warm_passes" -> warmPasses,
      "setup_s" -> setups, "check_s" -> checkS,
      "attempted" -> w.ops.size, "calls" -> calls.size,
      "failed_ops" -> (failedOps ++ checks),
      "gate_oracles" -> gateOracles,
      "percentiles" -> metrics.percentiles,
      "metrics" -> metrics.values)

    val trace = if (!traced) Map.empty[String, Any] else {
      val layer = Trace.report(rec, calls, w, warmPasses, heapPeakMb, gcMs)
      Files.writeString(Paths.get(s"$out/spans.jsonl"), layer.spansJsonl)
      Map("per_layer" -> layer.metrics, "self_ms" -> layer.selfMs,
        "groups" -> layer.groups, "overhead" -> layer.overhead)
    }
    Files.writeString(Paths.get(s"$out/record.json"), Json(record ++ trace))
    runner.shutdown()
    spark.stop()
  }
}

/** Session construction, timed from JVM start. */
object Setup {
  def session(cpus: Int, out: String): SparkSession =
    graft.Sessions.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/spark-warehouse"))
      .getOrCreate()

  /** What set-up primes, untimed by any op: the parquet reader, a
    * compiled program through the noop sink, and a shuffle.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val signum = graft.polarify.Corpus.all.head.program
    Ops.lineitem(spark, sfDir)
      .select(graft.polarify.Program(signum.stmts).column(Map("x" -> Ops.xCol)).as("r"))
      .write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy(pmod(col("n_nationkey"), lit(4))).count()
      .write.format("noop").mode("overwrite").save()
  }

  /** Sets up `reps` times; the first is timed from JVM start. Returns the
    * last session and every set-up time in seconds.
    */
  def run(cpus: Int, out: String, sfDir: String, reps: Int): (SparkSession, Seq[Double]) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val times = (0 until reps).map { i =>
      val t0 = if (i == 0) jvmStartMs else System.currentTimeMillis()
      spark = session(cpus, out)
      spark.sparkContext.setLogLevel("WARN")
      warmup(spark, sfDir)
      val s = (System.currentTimeMillis() - t0) / 1000.0
      if (i < reps - 1) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      s
    }
    (spark, times)
  }

  def experimental(spark: SparkSession): Map[String, Seq[String]] = Map(
    "extraOptimizations" -> spark.experimental.extraOptimizations.map(_.ruleName),
    "extraStrategies" -> spark.experimental.extraStrategies.map(_.getClass.getName))
}

/** Runs calls under the system's per-query budget and joins in what the
  * QueryExecutionListener saw.
  */
final class Runner(spark: SparkSession, rec: Recorder) {
  private val budget = new graft.QueryBudget(spark, Main.OpTimeoutSec)
  def shutdown(): Unit = budget.shutdown()
  /** each op's latest result, for the output checks */
  val lastResult = collection.mutable.Map.empty[String, org.apache.spark.sql.DataFrame]

  def call(op: Op, pass: Int, traced: Boolean): CallRec = {
    var out: CallOut = null
    var t0, t1 = 0L
    val rules0 = if (traced) Recorder.ruleEffectiveRuns() else Map.empty[String, Long]
    val (_, err) = budget.run(op.name) {
      t0 = System.nanoTime()
      out = op.call(spark)
      t1 = System.nanoTime()
    }
    val rules1 = if (traced) Recorder.ruleEffectiveRuns() else Map.empty[String, Long]
    val root = Span("harness", op.name, t0, if (t1 > 0) t1 else System.nanoTime())
    val error = err.map { case (tag, detail) => s"$tag: $detail" }
    System.err.println(f"[perfbench] pass $pass ${op.name}%-28s ${root.ms}%10.1f ms" +
      error.fold("")(e => s" ERROR $e"))
    if (error.isDefined || out == null)
      return CallRec(op.name, op.group, pass, traced, root, Nil, 0, 0, 0, error.orElse(Some("no output")), Map.empty)

    lastResult(op.name) = out.df
    val events = rec.drainUntilWrite()
    val write = events.filter(e => Recorder.isNoopWrite(e.qe)).lastOption
    val writeErr = write match {
      case None                      => Some("no noop write reported")
      case Some(QeEvent(_, Some(e))) => Some(s"noop write failed: $e")
      case _                         => None
    }
    val trackers = out.df.queryExecution.tracker +: events.map(_.qe.tracker)
    val phases = for {
      t <- trackers; (name, p) <- t.phases.toSeq
      if Set("analysis", "optimization", "planning").contains(name)
    } yield Span("catalyst", name, rec.msToNs(p.startTimeMs), rec.msToNs(p.endTimeMs))
    val writePhaseMs = write.fold(0.0)(w => Seq("optimization", "planning")
      .flatMap(w.qe.tracker.phases.get).map(_.durationMs.toDouble).sum)
    val plan = write.map(_.qe.executedPlan)
    val programs = out.figures.getOrElse("programs", 1.0)
    val structure = if (!traced) Map.empty[String, Double] else write.fold(Map.empty[String, Double]) { w =>
      val nodes = Plans.nodes(w.qe.executedPlan)
      var exprNodes = 0L
      w.qe.optimizedPlan.foreach(_.expressions.foreach(_.foreach(_ => exprNodes += 1)))
      Map(
        "catalyst.expr_nodes" -> exprNodes.toDouble,
        "catalyst.operators" -> nodes.count(n =>
          !n.isInstanceOf[WholeStageCodegenExec] && !n.isInstanceOf[InputAdapter]).toDouble,
        "catalyst.exchanges" -> nodes.count(_.isInstanceOf[Exchange]).toDouble)
    } ++ Seq("analysis", "optimization", "planning").map(ph =>
      s"catalyst.${ph}_ms" -> phases.filter(_.name == ph).map(_.ms).sum) ++ Map(
      "plans.topn_rewrites" -> Trace.ruleDelta(rules0, rules1, "RewriteTopNPerGroup"),
      "plans.mv_rewrites" -> Trace.ruleDelta(rules0, rules1, "RewriteAggToMv"))
    CallRec(op.name, op.group, pass, traced, root, out.spans ++ phases,
      compileMs = out.frontMs + writePhaseMs,
      actionMs = out.spans.filter(_.layer == "action").map(_.ms).sum,
      rowsTimesPrograms = plan.fold(0.0)(p => Plans.leafRows(p) * programs),
      error = writeErr, figures = out.figures ++ structure)
  }
}

object Plans {
  /** every physical operator, through adaptive query stages and subqueries */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => nodes(q.plan)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** rows the plan's leaves produced: what the materialisation read */
  def leafRows(p: SparkPlan): Double =
    nodes(p).filter(_.children.isEmpty).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum.toDouble
}

/** The end-to-end metrics of a run, with the sample counts behind them. */
final case class Metrics(values: Map[String, Map[String, Any]], percentiles: Map[String, Any])

object Metrics {
  def endToEnd(calls: Seq[CallRec], setups: Seq[Double]): Metrics = {
    val ok = calls.filter(_.error.isEmpty)
    val byOp = ok.groupBy(_.op)
    val cold = ok.filter(_.pass == 0)
    val warmMedians = byOp.values.flatMap { cs =>
      val warm = cs.filter(_.pass > 0).map(_.wallMs)
      if (warm.isEmpty) None else Some(Stats.median(warm))
    }.toSeq
    def pct(name: String, xs: Seq[Double], p: Double) = {
      val r = Stats.percentile(xs, p)
      (name, r.map(_._2).getOrElse(Double.NaN),
        Map("requested" -> p, "reported" -> r.map(_._1), "samples" -> xs.size))
    }
    val pcts = Seq(
      pct("compile_p50_ms", ok.map(_.compileMs), 50), pct("compile_p90_ms", ok.map(_.compileMs), 90),
      pct("program_p50_ms", ok.map(_.wallMs), 50), pct("program_p90_ms", ok.map(_.wallMs), 90))
    val actionS = ok.map(_.actionMs).sum / 1000
    def m(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)
    val values = Map(
      "setup_s" -> m(Stats.median(setups), "s"),
      "rows_per_s" -> m(if (actionS > 0) ok.map(_.rowsTimesPrograms).sum / actionS else 0.0, "rows/s"),
      "gate_cold_total_s" -> m(cold.map(_.wallMs).sum / 1000, "s"),
      "gate_warm_total_s" -> m(warmMedians.sum / 1000, "s"),
      "gate_p50_s" -> m(if (warmMedians.isEmpty) 0.0 else Stats.median(warmMedians) / 1000, "s")) ++
      pcts.map { case (n, v, _) => n -> m(v, "ms") }
    Metrics(values, pcts.map { case (n, _, info) => n -> info }.toMap)
  }
}
