package perfbench

import org.apache.spark.metrics.source.CodegenMetrics

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's report: per-layer metrics, self time per layer, the
  * same per group (gate family or program shape), and tracing overhead.
  */
final case class LayerReport(
    metrics: Map[String, Double],
    selfMs: Map[String, Double],
    groups: Map[String, Map[String, Double]],
    overhead: Map[String, Double],
    spansJsonl: String)

object Trace {
  /** layers, named after the modules they time */
  val Layers: Seq[String] = Seq(
    "harness", "parser", "compiler", "colgen", "catalyst", "codegen", "action", "exec", "gate", "stream")

  def ruleDelta(before: Map[String, Long], after: Map[String, Long], simpleName: String): Double =
    after.collect { case (rule, n) if rule.endsWith(simpleName) =>
      n - before.getOrElse(rule, 0L) }.sum.toDouble

  /** Attributes every instant of `root` to the deepest span covering it
    * (the latest started, among equals), so the self times of a call's
    * layers add up to its wall time exactly. Returns self nanoseconds per
    * layer and, for the span dump, each span with its parent's index.
    */
  def selfTimes(root: Span, spans: Seq[Span]): (Map[String, Long], IndexedSeq[(Span, Int)]) = {
    val all = (root +: spans.map(s => s.copy(
      startNs = math.max(s.startNs, root.startNs), endNs = math.min(s.endNs, root.endNs)))
      .filter(s => s.endNs > s.startNs)).toIndexedSeq
    def dur(i: Int) = all(i).endNs - all(i).startNs
    val parent = all.indices.map { i =>
      if (i == 0) -1
      else all.indices.filter { j =>
        j != i && all(j).startNs <= all(i).startNs && all(j).endNs >= all(i).endNs &&
          (dur(j) > dur(i) || (dur(j) == dur(i) && j < i))
      }.minByOption(dur).getOrElse(0)
    }
    val depth = mutable.Map(0 -> 0)
    def depthOf(i: Int): Int = depth.getOrElseUpdate(i, depthOf(parent(i)) + 1)
    val bounds = all.flatMap(s => Seq(s.startNs, s.endNs)).distinct.sorted
    val self = mutable.Map.empty[String, Long].withDefaultValue(0L)
    bounds.zip(bounds.tail).foreach { case (a, b) =>
      val owner = all.indices.filter(i => all(i).startNs <= a && all(i).endNs >= b)
        .maxBy(i => (depthOf(i), all(i).startNs))
      self(all(owner).layer) += b - a
    }
    (self.toMap, all.zip(parent))
  }

  private def sumMaps(ms: Iterable[Map[String, Double]]): Map[String, Double] =
    ms.foldLeft(Map.empty[String, Double]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
    }

  def report(
      rec: Recorder, allCalls: Seq[CallRec], w: Workload, warmPasses: Int,
      heapPeakMb: Double, gcMs: Double): LayerReport = {
    // per-layer figures cover the untraced runs' schedule: the cold pass
    // and the warm passes; the two passes after it measure the overhead
    val calls = allCalls.filter(_.pass <= warmPasses)
    val jobs = rec.jobs.asScala.toSeq
    val tasks = rec.tasks.asScala.toSeq
    val stages = rec.stagesDone.asScala.toSeq.map(_.longValue)
    val triggers = rec.triggers.asScala.toSeq
    val compiles = rec.codegenCompiles.asScala.toSeq
    val fallbacks = rec.fallbacks.asScala.toSeq.map(_.longValue)
    val streamStarts = rec.streamStarts.asScala.toSeq.map(_.longValue)
    val t0 = calls.headOption.fold(0L)(_.root.startNs)
    val dump = new StringBuilder

    val traced = calls.filter(c => c.traced && c.error.isEmpty)
    val perCall = traced.zipWithIndex.map { case (c, idx) =>
      def in(ns: Long) = ns >= c.root.startNs && ns <= c.root.endNs
      def within(s: Span) = in((s.startNs + s.endNs) / 2)
      val cJobs = jobs.filter(within)
      val cTasks = tasks.filter(t => in(t.launchNs))
      val cTriggers = triggers.filter(t => within(t._1))
      val cCompiles = compiles.filter(within)
      val (self, tree) = selfTimes(c.root, c.spans ++ cJobs ++ cCompiles ++ cTriggers.map(_._1))
      tree.zipWithIndex.foreach { case ((s, parent), i) =>
        dump ++= Json(Map("op" -> idx, "op_name" -> c.op, "group" -> c.group, "pass" -> c.pass,
          "span" -> i, "parent" -> parent, "layer" -> s.layer, "name" -> s.name,
          "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)) += '\n'
      }
      def layerMs(l: String) = c.spans.filter(_.layer == l).map(_.ms).sum
      val construct = c.spans.find(s => s.layer == "gate")
      val triggerMs = cTriggers.map(_._1.ms).sum
      val m = c.figures.filter(_._1.contains('.')) ++ Map(
        "parser.parse_ms" -> layerMs("parser"),
        "compiler.compile_ms" -> layerMs("compiler"),
        "colgen.lower_ms" -> layerMs("colgen"),
        "codegen.compile_ms" -> cCompiles.map(_.ms).sum,
        "codegen.classes" -> cCompiles.size.toDouble,
        "codegen.fallbacks" -> fallbacks.count(in).toDouble,
        "exec.jobs" -> cJobs.size.toDouble,
        "exec.stages" -> stages.count(in).toDouble,
        "exec.tasks" -> cTasks.size.toDouble,
        "exec.task_busy_ms" -> cTasks.map(_.durationMs.toDouble).sum,
        "exec.task_cpu_ms" -> cTasks.map(_.cpuMs).sum,
        "exec.sched_wait_ms" -> cTasks.map(rec.schedWaitMs).sum,
        "exec.shuffle_read_bytes" -> cTasks.map(_.shuffleRead.toDouble).sum,
        "exec.shuffle_write_bytes" -> cTasks.map(_.shuffleWrite.toDouble).sum,
        "exec.spill_bytes" -> cTasks.map(_.spill.toDouble).sum,
        "exec.input_rows" -> cTasks.map(_.inputRows.toDouble).sum,
        "exec.failed_tasks" -> cTasks.count(_.failed).toDouble,
        "exec.gc_ms" -> cTasks.map(_.gcMs.toDouble).sum,
        "stream.queries" -> streamStarts.count(in).toDouble,
        "stream.triggers" -> cTriggers.size.toDouble,
        "stream.trigger_ms" -> triggerMs,
        "stream.addbatch_ms" -> cTriggers.map(_._2.toDouble).sum) ++
        construct.fold(Map.empty[String, Double])(s => Map(
          "gate.construct_ms" -> s.ms,
          "gate.construct_jobs" -> cJobs.count(j => j.startNs >= s.startNs && j.startNs <= s.endNs).toDouble,
          "gate.materialize_ms" -> layerMs("action"))) ++
        (if (c.group == "st") Map("stream.lifecycle_ms" -> (c.wallMs - triggerMs)) else Map.empty) ++
        self.map { case (l, ns) => s"self.${l}_ms" -> ns / 1e6 }
      (c, m, cTasks)
    }

    val callTasks = perCall.flatMap(_._3).map(_.durationMs.toDouble)
    val classes = perCall.map(_._2.getOrElse("codegen.classes", 0.0)).sum
    val bytecode = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getSnapshot.getMean * classes

    // cold against warm, over the cold and warm passes
    val ok = calls.filter(_.error.isEmpty)
    val warmMedian = ok.groupBy(_.op).flatMap { case (op, cs) =>
      val warm = cs.filter(_.pass > 0).map(_.wallMs)
      if (warm.isEmpty) None else Some(op -> Stats.median(warm))
    }
    val coldExtra = ok.filter(_.pass == 0).flatMap(c => warmMedian.get(c.op).map(c.wallMs - _)).sum
    val groupOf = ok.map(c => c.op -> c.group).toMap
    val familyWarm = GateMix.Families.map { f =>
      s"gate.warm_s.$f" -> warmMedian.filter(kv => groupOf(kv._1) == f).values.sum / 1000
    }

    val zero = PerLayer.names.map(_ -> 0.0).toMap
    val metrics = zero ++ sumMaps(perCall.map(_._2)).filter(kv => zero.contains(kv._1)) ++ Map(
      "exec.task_p50_ms" -> (if (callTasks.isEmpty) 0.0 else Stats.median(callTasks)),
      "exec.task_max_ms" -> (if (callTasks.isEmpty) 0.0 else callTasks.max),
      "codegen.bytecode_bytes" -> bytecode,
      "gate.cold_extra_s" -> (if (w.isInstanceOf[GateMix]) coldExtra / 1000 else 0.0),
      "jvm.heap_peak_mb" -> heapPeakMb,
      "jvm.gc_ms" -> gcMs) ++ (if (w.isInstanceOf[GateMix]) familyWarm else Nil)

    // tracing overhead: the untraced pass against the mean of the traced
    // passes either side of it, over the ops all three ran
    val u = warmPasses + 1
    val byOp = allCalls.filter(_.error.isEmpty).groupBy(_.op).values.flatMap { cs =>
      val at = cs.map(c => c.pass -> c.wallMs).toMap
      for (b <- at.get(u - 1); m <- at.get(u); a <- at.get(u + 1)) yield ((b + a) / 2, m)
    }
    val (withTrace, without) = (byOp.map(_._1).sum, byOp.map(_._2).sum)
    val overhead = Map(
      "traced_ms" -> withTrace, "untraced_ms" -> without,
      "overhead_ms" -> (withTrace - without),
      "overhead_pct" -> (if (without > 0) 100 * (withTrace - without) / without else 0.0),
      // self times partition each call's wall time
      "self_total_ms" -> perCall.map(_._2.filter(_._1.startsWith("self.")).values.sum).sum,
      "wall_total_ms" -> perCall.map(_._1.wallMs).sum)

    val groups = perCall.groupBy(_._1.group).map { case (g, rows) =>
      g -> (sumMaps(rows.map(_._2)) + ("calls" -> rows.size.toDouble))
    }
    LayerReport(
      metrics = metrics + ("trace.overhead_pct" -> overhead("overhead_pct")),
      selfMs = Layers.map(l => l -> metrics.getOrElse(s"self.${l}_ms", 0.0)).toMap,
      groups = groups, overhead = overhead, spansJsonl = dump.toString)
  }
}

/** The per-layer metric names a traced run reports (BENCHMARK.json). */
object PerLayer {
  val names: Seq[String] = Seq(
    "parser.parse_ms", "parser.source_bytes",
    "compiler.compile_ms", "compiler.expr_nodes", "compiler.when_cases",
    "colgen.lower_ms",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.expr_nodes", "catalyst.operators", "catalyst.exchanges",
    "plans.topn_rewrites", "plans.mv_rewrites",
    "codegen.compile_ms", "codegen.classes", "codegen.bytecode_bytes", "codegen.fallbacks",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_busy_ms", "exec.task_cpu_ms",
    "exec.task_p50_ms", "exec.task_max_ms", "exec.sched_wait_ms",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.input_rows", "exec.failed_tasks", "exec.gc_ms",
    "gate.construct_ms", "gate.construct_jobs", "gate.materialize_ms", "gate.cold_extra_s") ++
    GateMix.Families.map(f => s"gate.warm_s.$f") ++ Seq(
    "stream.queries", "stream.triggers", "stream.trigger_ms", "stream.addbatch_ms",
    "stream.lifecycle_ms",
    "jvm.heap_peak_mb", "jvm.gc_ms") ++
    Trace.Layers.map(l => s"self.${l}_ms") :+ "trace.overhead_pct"
}
