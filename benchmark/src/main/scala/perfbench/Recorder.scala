package perfbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._

/** A timed interval on the recorder's clock (`System.nanoTime`). */
final case class Span(layer: String, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One executed query, as Spark's QueryExecutionListener reports it. */
final case class QeEvent(qe: QueryExecution, error: Option[Exception])

final case class TaskRec(
    stageId: Int, launchNs: Long, durationMs: Long, cpuMs: Double, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, inputRows: Long, failed: Boolean)

/** Everything the benchmark learns from Spark's own hooks.
  *
  * Always on: a QueryExecutionListener, whose query trackers give the
  * Catalyst phase times that `compile_*` needs. With `traced`, also a
  * SparkListener (jobs, stages, tasks), a StreamingQueryListener (trigger
  * progress), log4j hooks on Spark's codegen loggers (every class
  * compilation and every whole-stage fallback, from Spark's own log lines)
  * and optimizer-rule metering. Traced recording can be paused, so a
  * traced run can also time untraced passes and report its overhead.
  *
  * Listener events carry wall-clock milliseconds; they are mapped onto
  * the `nanoTime` clock the benchmark's own spans use.
  */
final class Recorder(spark: SparkSession, traced: Boolean) {
  private val epochNs = System.nanoTime()
  private val epochMs = System.currentTimeMillis()
  def msToNs(ms: Long): Long = epochNs + (ms - epochMs) * 1000000L

  @volatile private var recording: Boolean = traced

  /** Pauses or resumes traced recording, including Spark's per-class
    * codegen log line, so untraced passes pay none of it.
    */
  def setRecording(on: Boolean): Unit = if (traced) {
    recording = on
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      Recorder.CodegenLogger, if (on) Level.INFO else Level.WARN)
  }

  // ---- queries (always) ----
  private val qes = new LinkedBlockingQueue[QeEvent]()
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.put(QeEvent(qe, None))
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      qes.put(QeEvent(qe, Some(e)))
  })

  /** Every query that ended since the last drain. Waits (outside any
    * timed region) until at least one write command has been reported,
    * because listener events arrive asynchronously.
    */
  def drainUntilWrite(timeoutMs: Long = 30000): Seq[QeEvent] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[QeEvent]
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def seenWrite = out.exists(e => Recorder.isNoopWrite(e.qe))
    while (!seenWrite && System.nanoTime() < deadline) {
      Option(qes.poll(50, TimeUnit.MILLISECONDS)).foreach(out += _)
    }
    qes.drainTo(out.asJava)
    out.toSeq
  }

  // ---- traced: scheduler ----
  val jobs = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stagesDone = new ConcurrentLinkedQueue[java.lang.Long]()
  private val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  // ---- traced: streaming ----
  val streamStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  /** one span per trigger, and its addBatch milliseconds */
  val triggers = new ConcurrentLinkedQueue[(Span, Long)]()

  // ---- traced: codegen log lines ----
  val codegenCompiles = new ConcurrentLinkedQueue[Span]()
  val fallbacks = new ConcurrentLinkedQueue[java.lang.Long]()

  if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (recording) jobStartMs.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStartMs.remove(e.jobId)).foreach { t0 =>
          jobs.add(Span("exec", s"job ${e.jobId}", msToNs(t0), msToNs(e.time)))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (recording) e.stageInfo.submissionTime.foreach(t =>
          stageSubmitMs.put(e.stageInfo.stageId, t))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (recording) e.stageInfo.completionTime.foreach(t => stagesDone.add(msToNs(t)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
        val m = Option(e.taskMetrics)
        val info = e.taskInfo
        tasks.add(TaskRec(
          stageId = e.stageId,
          launchNs = msToNs(info.launchTime),
          durationMs = info.duration,
          cpuMs = m.fold(0.0)(_.executorCpuTime / 1e6),
          gcMs = m.fold(0L)(_.jvmGCTime),
          shuffleRead = m.fold(0L)(x => x.shuffleReadMetrics.totalBytesRead),
          shuffleWrite = m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          spill = m.fold(0L)(x => x.memoryBytesSpilled + x.diskBytesSpilled),
          inputRows = m.fold(0L)(_.inputMetrics.recordsRead),
          failed = e.reason != org.apache.spark.Success))
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (recording) streamStarts.add(System.nanoTime())
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (recording) {
        val p = e.progress
        val d = p.durationMs.asScala
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        val trig = d.get("triggerExecution").map(_.longValue).getOrElse(0L)
        triggers.add((Span("stream", s"trigger ${p.batchId}", msToNs(startMs),
          msToNs(startMs + trig)), d.get("addBatch").map(_.longValue).getOrElse(0L)))
      }
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    Recorder.hookLog(Recorder.CodegenLogger, Level.INFO) { (e, msg) =>
      if (recording) Recorder.CompiledIn.findFirstMatchIn(msg).foreach { m =>
        val endMs = e.getTimeMillis
        val tookNs = (m.group(1).toDouble * 1e6).toLong
        codegenCompiles.add(Span("codegen", "janino", msToNs(endMs) - tookNs, msToNs(endMs)))
      }
    }
    Recorder.hookLog(Recorder.WholeStageLogger, Level.WARN) { (e, msg) =>
      if (recording && msg.contains(Recorder.FallbackLine)) fallbacks.add(msToNs(e.getTimeMillis))
    }
  }

  /** launch wait of a task: from its stage's submission to its launch */
  def schedWaitMs(t: TaskRec): Double =
    Option(stageSubmitMs.get(t.stageId)).fold(0.0)(s => math.max(0.0, (t.launchNs - msToNs(s)) / 1e6))
}

object Recorder {
  val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  val WholeStageLogger = "org.apache.spark.sql.execution.WholeStageCodegenExec"
  /** Spark's line for each Janino compilation */
  val CompiledIn = """Code generated in ([0-9.]+) ms""".r
  /** Spark's line when whole-stage codegen gives up on a stage */
  val FallbackLine = "Whole-stage codegen disabled"

  /** the `df.write.format("noop")` command every timed result goes through */
  def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table.name.startsWith("noop")
    case _                 => false
  }

  /** Sends `logger`'s events at `level` and above to `f` only. */
  private def hookLog(logger: String, level: Level)(f: (LogEvent, String) => Unit): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val appender = new AbstractAppender(s"perfbench-$logger", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = f(e, e.getMessage.getFormattedMessage)
    }
    appender.start()
    config.addAppender(appender)
    val lc = new LoggerConfig(logger, level, false)
    lc.addAppender(appender, level, null)
    config.addLogger(logger, lc)
    ctx.updateLoggers()
  }

  /** Effective runs per optimizer rule so far (Spark meters every rule). */
  def ruleEffectiveRuns(): Map[String, Long] = {
    val line = """^(\S+)\s+\S+\s*/\s*\S+\s+(\d+)\s*/\s*(\d+)\s*$""".r
    RuleExecutor.dumpTimeSpent().linesIterator.flatMap {
      case line(rule, eff, _) => Some(rule -> eff.toLong)
      case _                  => None
    }.toMap
  }
}
