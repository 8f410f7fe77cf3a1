package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.EventsStream
import graft.Gate

/** Driver-gate entries for the Structured Streaming surface (VERDICT.md
  * round-1 item 6: streaming previously had no CORRECTNESS entry).
  *
  * Each query here executes the REAL streaming plan — file source →
  * watermarked stateful transform → memory sink, `processAllAvailable`
  * — and returns the sink table, so the driver's DuckDB compare checks
  * actual streaming execution (state store, watermarks, incremental
  * triggers) against the batch oracle. This is the replayability
  * property that makes the batch/streaming split safe at scale: a
  * bounded replay of the stream must converge to the batch answer.
  *
  * `maxFilesPerTrigger=1` keeps multi-trigger incremental state in the
  * exercised path even when the input is a single file.
  */
object StreamingGate {

  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // The events table comes in two layouts: the testdata SFs store a
    // single FILE named events.parquet (a file stream source needs its
    // parent dir + a glob — handing it the file path fails with
    // "basePath must be a directory"), while any Spark-written table
    // (e.g. the ScaleUp sf1 replica) is a DIRECTORY of part files —
    // there the glob over the parent matches ZERO files and the
    // round-11 sf1 rehearsal's file-sink query silently streamed
    // nothing. Branch on what is actually on disk.
    val path = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reader = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
    val src =
      if (fs.getFileStatus(path).isDirectory) reader.parquet(path.toString)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    graft.Tables.normalizeEventsTs(src)
  }

  /** A stateful streaming op instantiates one state store PER shuffle
    * partition PER stateful operator (two for a stream-stream join) —
    * at the gate's data volume, store setup/commit dominates, so pin
    * streaming shuffles to 8 partitions for the duration of `body`.
    * (This is the real tuning rule at scale too: streaming shuffle
    * partitions size to state volume, not to batch scan width; they
    * cannot be changed across restarts of a real query, so they are
    * chosen deliberately, not inherited.) The round-15 experiment found
    * no gain from other widths (1.017), so the pin is a constant.
    */
  private val StreamShufflePartitions = 8

  private def withGateShuffle[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, StreamShufflePartitions.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** transformWithState requires the RocksDB state store; scope the
    * provider swap to the query run (the provider is captured at query
    * start, so concurrent defaults elsewhere are unaffected)
    */
  private def withRocksDbState[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private[ops] def runToTable(df: DataFrame, name: String, mode: String)(
      spark: SparkSession): DataFrame = {
    withGateShuffle(spark) {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** Stage a one-file parquet slice into a file-stream input dir with
    * a pinned mtime (the file source processes oldest mtime first, so
    * distinct mtimes pin micro-batch arrival order). Shared by every
    * staged-slice gate query. An empty slice may legally produce ZERO
    * part- files (AQE can elide the write entirely); it is skipped
    * rather than crashed on — the remaining slices still carry the
    * whole residue class.
    */
  private def stageSlice(fs: org.apache.hadoop.fs.FileSystem,
      stage: String, input: String)(
      df: DataFrame, name: String, mtime: Long): Unit = {
    val tmp = s"$stage/$name"
    df.coalesce(1).write.parquet(tmp)
    fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).toSeq
      .map(_.getPath).filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).headOption.foreach { part =>
        val dst = new org.apache.hadoop.fs.Path(s"$input/$name.parquet")
        fs.rename(part, dst)
        fs.setTimes(dst, mtime, -1)
      }
  }

  /** Session-cached staged-input directory (round-15). Every staged
    * gate re-derived its deterministic source slices per call —
    * delete, N coalesce(1) batch writes, N mtime pins — before the
    * measured streaming query even started. The slices are pure
    * functions of the fixture (fixed residue classes, fixed arrival
    * order), i.e. corpus-determined fixture PREPARATION, so they
    * follow the substrate discipline: staged once per (application,
    * SF dir, fixture generation), keyed and evicted exactly like
    * every other substrate. The STREAMING query — a fresh
    * StreamingQuery object, a fresh/cleared checkpoint, every
    * trigger, every state-store commit — still runs from scratch per
    * call; only the input staging amortizes. `build(stage, input)`
    * runs against freshly cleared directories, so a fixture
    * regeneration restages in place; the `stage` scratch dir is
    * deleted once `build` has moved its slices into `input`. A hit
    * whose `input` is gone or empty (`sbt clean`, another process)
    * restages too.
    *
    * One cache and one directory root per (family, fixture): a family
    * staged from two fixtures gets two inputs, each evicted when its
    * own fixture changes.
    */
  private val stagedDirCaches = new java.util.concurrent.ConcurrentHashMap[
    String, SubstrateCache[String]]()

  private def stagedInputDir(spark: SparkSession, dir: String,
      fixture: String, family: String)(
      build: (String, String) => Unit): String = {
    val tag = new java.io.File(dir).getName.replace('.', '_')
    val root = s"target/$family/${fixture.stripSuffix(".parquet")}"
    val cache = stagedDirCaches.computeIfAbsent(root,
      _ => new SubstrateCache[String](fixture, _ => ()))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def staged(input: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(input)
      fs.exists(p) && fs.listStatus(p).nonEmpty
    }
    cache.get(spark, dir, staged) {
      val stage = new org.apache.hadoop.fs.Path(s"$root/stage_$tag")
      val input = s"$root/input_$tag"
      fs.delete(stage, true)
      fs.delete(new org.apache.hadoop.fs.Path(input), true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(input))
      build(stage.toString, input)
      fs.delete(stage, true)
      input
    }
  }

  /** Schema of a staged input dir, failing FAST with an explicit
    * message when every staged slice was empty — `spark.read.parquet`
    * on an empty dir otherwise surfaces later as an unrelated
    * schema-inference error far from the staging code.
    */
  private def stagedSchema(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, input: String)
      : org.apache.spark.sql.types.StructType = {
    require(fs.listStatus(new org.apache.hadoop.fs.Path(input)).nonEmpty,
      s"stageSlice: no staged slice produced a part file under $input " +
        "— every slice of this staged query was empty")
    spark.read.parquet(input).schema
  }

  /** hourly tumbling-window counts, streamed end-to-end; batch twin =
    * ax_events_hourly (same oracle SQL)
    */
  private def hourlyStreamed(spark: SparkSession, dir: String): DataFrame =
    runToTable(EventsStream.hourlyByType(eventsStream(spark, dir)),
      "st_events_hourly_sink", "complete")(spark)
      .orderBy("hour", "event_type")

  /** st_quantile_monitor: STREAMING PERCENTILE MONITORING — the
    * per-hour p50/p99 readout every SLO dashboard runs. Percentiles do
    * not merge across triggers, so the streamed state is the thing
    * that DOES merge: the bounded per-(hour, bucket) histogram
    * (EventsStream.hourlyValueHist); the exact-from-histogram
    * resolution — smallest bucket whose cumulative count reaches 1/2
    * resp. 99/100 of the hour's mass — runs on the sink table. This is
    * the DDSketch/t-digest architecture in exact-integer form: the
    * answer is a bucket LOWER BOUND (cents), deterministic in both
    * engines, and the batch oracle replays histogram + resolution
    * directly on events.
    */
  private def quantileMonitorStreamed(spark: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sunk = runToTable(
      EventsStream.hourlyValueHist(eventsStream(spark, dir)),
      "st_quantile_monitor_sink", "complete")(spark)
    val w = Window.partitionBy("hour").orderBy("bucket")
    sunk
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy("hour")))
      .groupBy(col("hour"))
      .agg(max(col("tot")).as("n_events"),
        min(when(col("cum") * 2 >= col("tot"), col("bucket"))).as("p50b"),
        min(when(col("cum") * 100 >= col("tot") * 99, col("bucket")))
          .as("p99b"))
      .select(col("hour"), col("n_events"),
        (col("p50b") * 2000).as("p50_cents_lo"),
        (col("p99b") * 2000).as("p99_cents_lo"))
      .orderBy("hour")
  }

  private val quantileMonitorSql =
    """WITH h AS (SELECT
      |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |    CAST(round(value * 100) AS BIGINT) // 2000 AS bucket
      |  FROM events),
      |g AS (SELECT hour, bucket, COUNT(*) AS n FROM h GROUP BY 1, 2),
      |c AS (SELECT hour, bucket, n,
      |    SUM(n) OVER (PARTITION BY hour ORDER BY bucket) AS cum,
      |    SUM(n) OVER (PARTITION BY hour) AS tot
      |  FROM g)
      |SELECT hour, CAST(MAX(tot) AS BIGINT) AS n_events,
      |  CAST(MIN(CASE WHEN cum * 2 >= tot THEN bucket END) * 2000
      |    AS BIGINT) AS p50_cents_lo,
      |  CAST(MIN(CASE WHEN cum * 100 >= tot * 99 THEN bucket END) * 2000
      |    AS BIGINT) AS p99_cents_lo
      |FROM c GROUP BY hour ORDER BY hour""".stripMargin

  /** streaming exactly-once dedup on event_id; batch twin = DISTINCT */
  private def dedupStreamed(spark: SparkSession, dir: String): DataFrame =
    runToTable(EventsStream.dedupEvents(eventsStream(spark, dir)),
      "st_dedup_events_sink", "append")(spark)
      .select(col("event_id"))
      .orderBy("event_id")

  private val dedupStreamedSql =
    "SELECT DISTINCT event_id FROM events ORDER BY event_id"

  /** custom-state operator streamed end-to-end (flatMapGroupsWithState,
    * Update mode): the memory sink accumulates one row per (user,
    * trigger); the converged answer is the LAST emission per user,
    * selected by argmax on the strictly-increasing n_events counter —
    * robust even for metrics that are not monotone in the values
    * themselves (see twsTotalsStreamed). Oracle = batch
    * gaps-and-islands SQL.
    */
  private def streaksStreamed(spark: SparkSession, dir: String): DataFrame =
    runToTable(
      graft.streaming.EventsStream.purchaseStreaks(eventsStream(spark, dir)).toDF(),
      "st_purchase_streaks_sink", "update")(spark)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_value_cents"),
        col("best_purchase_streak"))).as("last"))
      .select(col("user_id"),
        col("last.n_events").as("n_events"),
        col("last.sum_value_cents").as("sum_value_cents"),
        col("last.best_purchase_streak").as("best_purchase_streak"))
      .orderBy("user_id")

  private val streaksStreamedSql =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, CAST(round(value*100) AS BIGINT) AS cents,
      |    (event_type = 'purchase') AS isp
      |  FROM events),
      |r AS (
      |  SELECT user_id, isp,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      - row_number() OVER (PARTITION BY user_id, isp ORDER BY ts, event_id)
      |      AS grp
      |  FROM e),
      |runs AS (
      |  SELECT user_id, count(*) AS len
      |  FROM r WHERE isp GROUP BY user_id, grp),
      |best AS (
      |  SELECT user_id, max(len) AS best_purchase_streak FROM runs GROUP BY 1),
      |tot AS (
      |  SELECT user_id, count(*) AS n_events,
      |    CAST(sum(cents) AS BIGINT) AS sum_value_cents
      |  FROM e GROUP BY 1)
      |SELECT t.user_id, t.n_events, t.sum_value_cents,
      |  COALESCE(b.best_purchase_streak, 0) AS best_purchase_streak
      |FROM tot t LEFT JOIN best b ON t.user_id = b.user_id
      |ORDER BY t.user_id""".stripMargin

  /** DEDUP → windowed AGGREGATE chained in one query (see
    * EventsStream.dedupThenHourly): exactly-once counting over an
    * at-least-once source. Append mode — the sink holds the hours
    * finalized by the shared watermark; event_ids are unique in the
    * fixture, so the batch oracle is the plain hourly rollup under the
    * same horizon (the dedup tier is exercised, not observable in the
    * answer — exactly the exactly-once contract).
    */
  /** st_new_returning: the growth-accounting split (ax_new_returning's
    * batch semantics) streamed end-to-end. "First-seen day" is a
    * min(day) aggregate per user — deliberately ORDER-INDEPENDENT, so
    * the answer is identical no matter how arrival order scrambles
    * event time (a streaming dropDuplicates would pin "first" to
    * arrival order and diverge); daily actives are the (day, user)
    * distinct-by-aggregate. Complete mode; the two converged sinks
    * compose batch-side into the daily split. Oracle = the batch twin
    * ax_new_returning, so stream and batch must agree row-for-row.
    */
  private def newReturningStreamed(spark: SparkSession, dir: String): DataFrame = {
    val first = runToTable(
      eventsStream(spark, dir)
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .groupBy("user_id").agg(min(col("day")).as("first_day")),
      "st_new_returning_first", "complete")(spark)
    val active = runToTable(
      eventsStream(spark, dir)
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .groupBy("day", "user_id").agg(count(lit(1)).as("cnt")),
      "st_new_returning_active", "complete")(spark)
    val nNew = first.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("n_new"))
    active.groupBy("day").agg(count(lit(1)).as("n_active"))
      .join(nNew, Seq("day"), "left")
      .na.fill(0L, Seq("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"))
      .orderBy("day")
  }

  private def dedupAggStreamed(spark: SparkSession, dir: String): DataFrame =
    runToTable(EventsStream.dedupThenHourly(eventsStream(spark, dir)),
      "st_dedup_agg_sink", "append")(spark)
      .orderBy("hour", "event_type")

  private val dedupAggStreamedSql =
    """WITH mx AS (SELECT MAX(ts) AS mts FROM events),
      |u AS (SELECT DISTINCT ON (event_id) event_id, ts, event_type, value
      |      FROM events ORDER BY event_id, ts)
      |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_value_cents
      |FROM u, mx
      |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      |      <= mts - INTERVAL 2 HOUR
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** CHAINED stateful aggregation streamed end-to-end (hourly tier →
    * daily tier in ONE query — see EventsStream.dailyChained). Append
    * mode: the sink holds exactly the daily windows finalized by the
    * shared watermark, so the oracle's horizon predicate is
    * day_end ≤ max(ts) − 2h — one declarative statement of the
    * two-tier finalization rule.
    */
  private def chainedAggStreamed(spark: SparkSession, dir: String): DataFrame =
    runToTable(EventsStream.dailyChained(eventsStream(spark, dir)),
      "st_chained_agg_sink", "append")(spark)
      .orderBy("day", "event_type")

  private val chainedAggStreamedSql =
    """WITH mx AS (SELECT MAX(ts) AS mts FROM events)
      |SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |  event_type, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_value_cents
      |FROM events, mx
      |WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= mts - INTERVAL 2 HOUR
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** 2h-sliding-1h window counts streamed end-to-end; oracle expands
    * each event into its two covering windows (hour and hour − 1h)
    * and aggregates — the batch statement of sliding-window semantics.
    */
  private def slidingStreamed(spark: SparkSession, dir: String): DataFrame =
    runToTable(EventsStream.slidingByType(eventsStream(spark, dir)),
      "st_sliding_counts_sink", "complete")(spark)
      .orderBy("win_start", "event_type")

  private val slidingStreamedSql =
    """WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
      |x AS (SELECT h AS ws, event_type FROM e
      |      UNION ALL
      |      SELECT h - INTERVAL 1 HOUR, event_type FROM e)
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
      |  COUNT(*) AS cnt
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Durable file sink: windowed counts written APPEND-mode to parquet
    * with a checkpoint — the production shape (exactly-once via sink
    * manifest + checkpointed offsets; the memory sink is test-only).
    * Append mode only emits a window once the watermark passes its
    * end, so the sink holds exactly the FINALIZED windows: the oracle
    * applies the same cutoff (window end ≤ max event time − 2h
    * watermark delay) to the batch aggregate. Spark runs a no-data
    * batch after the last file so the final watermark advance flushes
    * every closable window.
    */
  private def fileSinkStreamed(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val out = s"target/stream_file_sink/$tag"
    val chk = s"target/stream_file_sink_chk/$tag"
    // from-scratch determinism: drop any previous sink + checkpoint
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(out, chk).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))

    withGateShuffle(spark) {
      val q = EventsStream.hourlyByType(eventsStream(spark, dir))
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // loud failure over a cryptic schema-infer error if the source
    // matched no files / the watermark finalized nothing
    val parts = fs.globStatus(new org.apache.hadoop.fs.Path(s"$out/*.parquet"))
    require(parts != null && parts.nonEmpty,
      s"st_file_sink: streaming sink committed no files under $out — " +
        "did the source match any input files?")
    spark.read.parquet(out).orderBy("hour", "event_type")
  }

  private val fileSinkStreamedSql =
    """WITH mx AS (SELECT MAX(ts) AS mts FROM events)
      |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |    AS sum_value_cents
      |FROM events, mx
      |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      |      <= mts - INTERVAL 2 HOUR
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** stream-STATIC join: the enrichment shape — each micro-batch of the
    * stream hash-joins a broadcast batch dimension (no watermark, no
    * join state; the dimension is re-resolvable per trigger, which is
    * how slowly-refreshing dims stay current in production). Aggregated
    * per segment in complete mode; oracle = the plain batch join.
    */
  private def staticJoinStreamed(spark: SparkSession, dir: String): DataFrame = {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = eventsStream(spark, dir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
    runToTable(joined, "st_static_join_sink", "complete")(spark)
      .orderBy("c_mktsegment")
  }

  private val staticJoinStreamedSql =
    """SELECT c_mktsegment, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** session_window sessionization streamed end-to-end (append mode →
    * the sink holds exactly the sessions FINALIZED by the watermark:
    * session end ≤ max event time − 2h delay; Spark's post-input
    * no-data batch flushes every closable session). The oracle is the
    * batch gaps-and-islands rewrite with the same cutoff applied —
    * the same replay-convergence statement st_file_sink makes for
    * tumbling windows, here for MERGING session state.
    */
  private def sessionsStreamed(spark: SparkSession, dir: String): DataFrame =
    runToTable(EventsStream.sessionsByUser(eventsStream(spark, dir)),
      "st_sessionize_sink", "append")(spark)
      .orderBy("user_id", "session_start")

  /** st_timer_sessions: the SAME sessions rebuilt from raw event-time
    * TIMERS in the arbitrary-state v2 operator (ListState of open
    * intervals + one timer per key; see EventsStream.
    * TimerSessionsProcessor). Each session is emitted exactly once,
    * when its close time falls behind the watermark — so the update-
    * mode sink holds the finalized set directly, and the oracle is
    * SHARED with st_sessionize: the packaged `session_window` operator
    * and the hand-built timer machine must converge to the identical
    * gaps-and-islands answer under the identical cutoff. That shared
    * oracle is the point: it proves the timer primitive (register /
    * early-fire / re-arm / finalize-on-watermark) against declarative
    * semantics, which is what makes CUSTOM session rules safe to build
    * on it at scale.
    */
  private def timerSessionsStreamed(spark: SparkSession, dir: String): DataFrame =
    withRocksDbState(spark) {
      runToTable(EventsStream.timerSessions(eventsStream(spark, dir)),
        "st_timer_sessions_sink", "update")(spark)
    }.orderBy("user_id", "session_start")

  private val sessionsStreamedSql =
    """WITH mx AS (SELECT MAX(ts) AS mts FROM events),
      |ordered AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |islands AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM ordered)
      |SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      |  user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM islands, mx GROUP BY user_id, sid, mts
      |HAVING MAX(ts) + INTERVAL 30 MINUTE <= mts - INTERVAL 2 HOUR
      |ORDER BY user_id, session_start""".stripMargin

  /** stream-stream join end-to-end: two independent readers of the
    * same file source (each its own watermark), joined on user + a
    * 1-hour event-time range, append sink. Oracle = the plain batch
    * join.
    */
  private def streamJoinStreamed(spark: SparkSession, dir: String): DataFrame = {
    val purchases = eventsStream(spark, dir).filter(col("event_type") === "purchase")
    val views = eventsStream(spark, dir).filter(col("event_type") === "view")
    runToTable(
      graft.streaming.EventsStream.purchaseViewJoin(purchases, views),
      "st_stream_join_sink", "append")(spark)
      .orderBy("purchase_id", "view_id")
  }

  private val streamJoinStreamedSql =
    """SELECT p.event_id AS purchase_id, v.event_id AS view_id
      |FROM events p JOIN events v
      |  ON p.event_type = 'purchase' AND v.event_type = 'view'
      | AND p.user_id = v.user_id
      | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
      |ORDER BY purchase_id, view_id""".stripMargin

  /** stream-stream JOIN → windowed AGGREGATE in one query (see
    * EventsStream.attributionHourly): per-hour attribution-pair counts.
    * Append mode — the sink holds the hours the shared watermark
    * finalized; oracle = the batch join + rollup under the same
    * horizon.
    */
  private def joinAggStreamed(spark: SparkSession, dir: String): DataFrame = {
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
    val views = eventsStream(spark, dir).filter(col("event_type") === "view")
    runToTable(
      graft.streaming.EventsStream.attributionHourly(purchases, views),
      "st_join_agg_sink", "append")(spark)
      .orderBy("hour")
  }

  private val joinAggStreamedSql =
    """WITH mx AS (SELECT MAX(ts) AS mts FROM events),
      |j AS (
      |  SELECT p.ts AS p_ts
      |  FROM events p JOIN events v
      |    ON p.event_type = 'purchase' AND v.event_type = 'view'
      |   AND p.user_id = v.user_id
      |   AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR)
      |SELECT strftime(date_trunc('hour', p_ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  COUNT(*) AS n_attrib
      |FROM j, mx
      |WHERE date_trunc('hour', p_ts) + INTERVAL 1 HOUR
      |      <= mts - INTERVAL 2 HOUR
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** stream-stream LEFT SEMI join: "purchases preceded by a view" as a
    * streaming EXISTS — the left row emits AT MOST ONCE, on its first
    * match, and unmatched left rows never emit (no watermark-boundary
    * null rows to reason about, unlike the outer variants). State is
    * still watermark-bounded on both sides. The oracle is the batch
    * EXISTS with DISTINCT — dedup of multi-view purchases is the
    * semi-join semantics itself.
    */
  private def semiJoinStreamed(spark: SparkSession, dir: String): DataFrame = {
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
    val views = eventsStream(spark, dir).filter(col("event_type") === "view")
    runToTable(
      graft.streaming.EventsStream.purchaseViewJoin(purchases, views, "left_semi"),
      "st_semi_join_sink", "append")(spark)
      .orderBy("purchase_id")
  }

  private val semiJoinStreamedSql =
    """SELECT DISTINCT p.event_id AS purchase_id
      |FROM events p
      |WHERE p.event_type = 'purchase'
      |  AND EXISTS (SELECT 1 FROM events v
      |    WHERE v.event_type = 'view' AND v.user_id = p.user_id
      |      AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR)
      |ORDER BY purchase_id""".stripMargin

  /** stream-stream LEFT OUTER join: matches emit as they happen; an
    * unmatched purchase emits its null-padded row only once the
    * watermark proves no matching view can still arrive — the
    * state-eviction semantics only streaming needs (batch knows "no
    * match" immediately). The oracle states exactly that: all matched
    * pairs, plus null rows for unmatched purchases whose p_ts is
    * STRICTLY below the global watermark (min of the two sides' max
    * event time − 2h delay; strictness pinned by
    * EventsStreamSpec."left-outer null rows respect the watermark
    * boundary"). Unmatched purchases above the watermark are still in
    * state when the query stops — correctly absent.
    */
  private def outerJoinStreamed(spark: SparkSession, dir: String): DataFrame = {
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
    val views = eventsStream(spark, dir).filter(col("event_type") === "view")
    runToTable(
      graft.streaming.EventsStream.purchaseViewJoin(purchases, views, "left_outer"),
      "st_outer_join_sink", "append")(spark)
      .orderBy("purchase_id", "view_id")
  }

  private val outerJoinStreamedSql =
    """WITH p AS (SELECT event_id AS purchase_id, ts AS p_ts, user_id
      |           FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT event_id AS view_id, ts AS v_ts, user_id
      |      FROM events WHERE event_type = 'view'),
      |wm AS (SELECT LEAST((SELECT MAX(p_ts) FROM p),
      |                    (SELECT MAX(v_ts) FROM v)) - INTERVAL 2 HOUR AS w)
      |SELECT p.purchase_id, v.view_id
      |FROM p JOIN v ON p.user_id = v.user_id
      |  AND v.v_ts <= p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR
      |UNION ALL
      |SELECT p.purchase_id, CAST(NULL AS BIGINT) AS view_id
      |FROM p, wm
      |WHERE p.p_ts < wm.w
      |  AND NOT EXISTS (SELECT 1 FROM v
      |    WHERE v.user_id = p.user_id
      |      AND v.v_ts <= p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR)
      |ORDER BY purchase_id, view_id""".stripMargin

  /** stream-stream FULL OUTER join: both sides' unmatched rows emit
    * null-padded on their own state-eviction schedules — a purchase
    * once the watermark passes p_ts (no earlier-or-equal view can
    * arrive), a view once it passes v_ts + 1h (no purchase inside the
    * view's forward-looking window can arrive). Both boundaries strict,
    * pinned by EventsStreamSpec."full-outer emits BOTH sides' null
    * rows on their own eviction schedules".
    */
  private def fullOuterJoinStreamed(spark: SparkSession, dir: String): DataFrame = {
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
    val views = eventsStream(spark, dir).filter(col("event_type") === "view")
    runToTable(
      graft.streaming.EventsStream.purchaseViewJoin(purchases, views, "full_outer"),
      "st_full_outer_sink", "append")(spark)
      .orderBy("purchase_id", "view_id")
  }

  private val fullOuterJoinStreamedSql =
    """WITH p AS (SELECT event_id AS purchase_id, ts AS p_ts, user_id
      |           FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT event_id AS view_id, ts AS v_ts, user_id
      |      FROM events WHERE event_type = 'view'),
      |wm AS (SELECT LEAST((SELECT MAX(p_ts) FROM p),
      |                    (SELECT MAX(v_ts) FROM v)) - INTERVAL 2 HOUR AS w)
      |SELECT p.purchase_id, v.view_id
      |FROM p JOIN v ON p.user_id = v.user_id
      |  AND v.v_ts <= p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR
      |UNION ALL
      |SELECT p.purchase_id, CAST(NULL AS BIGINT)
      |FROM p, wm
      |WHERE p.p_ts < wm.w
      |  AND NOT EXISTS (SELECT 1 FROM v
      |    WHERE v.user_id = p.user_id
      |      AND v.v_ts <= p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR)
      |UNION ALL
      |SELECT CAST(NULL AS BIGINT), v.view_id
      |FROM v, wm
      |WHERE v.v_ts + INTERVAL 1 HOUR < wm.w
      |  AND NOT EXISTS (SELECT 1 FROM p
      |    WHERE p.user_id = v.user_id
      |      AND v.v_ts <= p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR)
      |ORDER BY purchase_id, view_id""".stripMargin

  /** foreachBatch MERGE sink: the production "upsert into a keyed
    * store" shape. Update-mode aggregation emits only the users whose
    * totals changed in each trigger; the foreachBatch body full-outer
    * merges that delta into the PREVIOUS COMMITTED VERSION and writes a
    * NEW versioned directory named by batchId. The previous version is
    * derived from the FILESYSTEM (max committed v<id> with id <
    * batchId), never from driver memory, so exactly-once holds across
    * restarts too: a replayed batch N overwrites its own v<N> and
    * re-merges against the same v<N-1> the crashed run used — this is
    * how foreachBatch sinks get exactly-once on top of at-least-once
    * triggers, and st_recovery proves it under the gate. The gate reads
    * the final version; oracle = the plain batch aggregate. Multi-batch
    * merge is exercised by EventsStreamSpec (two files → two triggers →
    * second version provably merges the first).
    */
  private def committedVersionBefore(
      fs: org.apache.hadoop.fs.FileSystem, base: String,
      batchId: Long): Option[String] = {
    val dir = new org.apache.hadoop.fs.Path(base)
    if (!fs.exists(dir)) None
    else {
      val ids = fs.listStatus(dir).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v") => n.drop(1) }
        .flatMap(n => scala.util.Try(n.toLong).toOption)
        .filter(id => id < batchId &&
          fs.exists(new org.apache.hadoop.fs.Path(s"$base/v$id/_SUCCESS")))
      if (ids.isEmpty) None else Some(s"$base/v${ids.max}")
    }
  }

  /** one streaming run of the merge sink against `base`/`chk` — does
    * NOT reset them, so a caller can stop and resume from the
    * checkpoint (st_recovery) or run fresh (upsertMergeRun)
    */
  private def runMerge(spark: SparkSession, events: DataFrame,
      base: String, chk: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val agg = events
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
    val mergeBatch: (DataFrame, Long) => Unit = { (batch, id) =>
      val out = s"$base/v$id"
      val merged = committedVersionBefore(fs, base, id) match {
        case None => batch
        case Some(prev) =>
          val old = spark.read.parquet(prev)
            .select(col("user_id").as("ou"), col("n_events").as("on"),
              col("sum_value_cents").as("oc"))
          batch.join(old, col("user_id") === col("ou"), "full_outer")
            .select(
              coalesce(col("user_id"), col("ou")).as("user_id"),
              coalesce(col("n_events"), col("on")).as("n_events"),
              coalesce(col("sum_value_cents"), col("oc")).as("sum_value_cents"))
      }
      merged.write.mode("overwrite").parquet(out)
    }
    withGateShuffle(spark) {
      val q = agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", chk)
        .foreachBatch(mergeBatch)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
  }

  /** final committed version under `base` */
  private def latestVersion(spark: SparkSession, base: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    committedVersionBefore(fs, base, Long.MaxValue)
      .getOrElse(sys.error(s"no committed version under $base"))
  }

  /** the merge runner, parameterized on the input stream so the spec
    * can drive it with a 2-file source (two triggers → the second
    * version provably merges the first)
    */
  def upsertMergeRun(spark: SparkSession, events: DataFrame,
      tag: String): DataFrame = {
    val base = s"target/stream_upsert/$tag"
    val chk = s"target/stream_upsert_chk/$tag"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(base, chk).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    runMerge(spark, events, base, chk)
    spark.read.parquet(latestVersion(spark, base)).orderBy("user_id")
  }

  /** st_recovery: CRASH-RECOVERY under the gate. The events table is
    * split into 4 source files; a first streaming run consumes only 2
    * of them (maxFilesPerTrigger=1 → two triggers) and is then STOPPED
    * — offsets and aggregation state live only in the checkpoint. The
    * remaining files then arrive and a SECOND query — a fresh
    * StreamingQuery object, same checkpoint — resumes: it must recover
    * the state store (per-user running totals), continue batch
    * numbering, and merge against the version the first run committed
    * (filesystem-derived, see above). The final version must equal the
    * plain batch aggregate over ALL events — the exactly-once
    * statement, checked by the DuckDB oracle.
    */
  private def recoveryStreamed(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName.replace('.', '_')
    val stage = s"target/stream_recovery/stage_$tag"
    val input = s"target/stream_recovery/input_$tag"
    val base = s"target/stream_recovery/sink_$tag"
    val chk = s"target/stream_recovery/chk_$tag"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(stage, input, base, chk).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))

    // 4 deterministic source files (one trigger each)
    spark.read.parquet(s"$dir/events.parquet")
      .repartition(4, col("event_id"))
      .write.parquet(stage)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(stage)).toSeq
      .map(_.getPath).filter(_.getName.startsWith("part-")).sortBy(_.getName)
    fs.mkdirs(new org.apache.hadoop.fs.Path(input))
    def arrive(p: org.apache.hadoop.fs.Path): Unit =
      fs.rename(p, new org.apache.hadoop.fs.Path(s"$input/${p.getName}"))

    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    def stream(): DataFrame = graft.Tables.normalizeEventsTs(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input))

    parts.take(2).foreach(arrive)
    runMerge(spark, stream(), base, chk) // run 1: consumes 2 files, stops
    val v0Success = new org.apache.hadoop.fs.Path(s"$base/v0/_SUCCESS")
    val v0Stamp = fs.getFileStatus(v0Success).getModificationTime
    parts.drop(2).foreach(arrive)
    runMerge(spark, stream(), base, chk) // run 2: resumes from checkpoint
    // recovery PROOF, not just matching totals (a from-scratch re-run
    // over all 4 files would converge to the same aggregate): had the
    // second query ignored the checkpoint it would have re-planned
    // batch 0 over the now-larger input and rewritten v0, and batch
    // numbering would have restarted instead of continuing past run 1
    require(fs.getFileStatus(v0Success).getModificationTime == v0Stamp,
      "restart re-ran batch 0: checkpoint state was not recovered")
    // parse the batch id from the FINAL path segment only — splitting
    // the whole path on "/v" breaks under any base dir containing "/v"
    require(new org.apache.hadoop.fs.Path(latestVersion(spark, base))
        .getName.stripPrefix("v").toLong >= 2,
      "restart did not continue batch numbering from the checkpoint")
    spark.read.parquet(latestVersion(spark, base)).orderBy("user_id")
  }

  private def upsertSinkStreamed(spark: SparkSession, dir: String): DataFrame =
    upsertMergeRun(spark, eventsStream(spark, dir),
      new java.io.File(dir).getName)

  /** per-user totals through the arbitrary-state v2 operator
    * (transformWithState + RocksDB store). The update-mode sink holds
    * one row per (user, trigger); the converged answer is the LAST
    * emission per user, selected by argmax on n_events — the running
    * event count strictly increases with every batch that touches the
    * user, so the max-n_events row IS the final row. (A max over the
    * value column itself would be correct only while values are
    * non-negative; with refunds the sum is not monotone.) Oracle = the
    * plain batch aggregate (same as st_upsert_sink).
    */
  private def twsTotalsStreamed(spark: SparkSession, dir: String): DataFrame =
    withRocksDbState(spark) {
      runToTable(EventsStream.userTotalsTws(eventsStream(spark, dir)),
        "st_tws_totals_sink", "update")(spark)
    }
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_value_cents"))).as("last"))
      .select(col("user_id"), col("last.n_events").as("n_events"),
        col("last.sum_value_cents").as("sum_value_cents"))
      .orderBy("user_id")

  private val upsertSinkStreamedSql =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** st_late_drop: WATERMARK LATENESS ACCOUNTING — the one streaming
    * property none of the other st_ queries pins: a late row is DROPPED
    * iff its window is already closed at the late-event watermark, and
    * accepted into any still-open window. The gate stages the events
    * table as THREE source files with controlled modification times so
    * the file source replays a deterministic arrival order:
    *   batch 0 = the RECENT tail (ts ≥ max_ts − 3 d) — its max advances
    *     the watermark to max_ts − 4 d;
    *   batch 1 = the MIDDLE slice (max_ts − 84 h ≤ ts < max_ts − 3 d) —
    *     out-of-order but fully accepted, because Spark's late-event
    *     filter deliberately LAGS state eviction by one batch
    *     (SPARK-40925 two-watermark design: batch N filters with the
    *     eviction watermark of batch N−1) and batch 1's filter
    *     watermark is still the initial 0;
    *   batch 2 = the OLD head (ts < max_ts − 84 h) — now the filter
    *     watermark has caught up to max_ts − 4 d, and the head
    *     straddles it: rows whose hour-window end clears the watermark
    *     are ACCEPTED late, the rest (≈26 days) are dropped.
    * The oracle states the surviving set declaratively — hour-window
    * end > max_ts − 4 d — so the gate hash-checks Spark's actual drop
    * rule (including the one-batch filter lag), not a tautology.
    * (Boundary safety: window ends are hour-aligned while the watermark
    * inherits max_ts's microsecond offset — hundreds of ms from any
    * hour boundary at every SF — so the ms-floor Spark applies to
    * event-time stats cannot flip a row.)
    *
    * At scale this is the bounded-replay contract of every streaming
    * pipeline: lateness beyond the watermark is LOST by design, and the
    * completeness gap must be measurable. Update-mode emissions are
    * resolved to the final row per window by argmax on the
    * strictly-increasing count (st_tws_totals pattern).
    */
  // -------------------------------------------------------------------
  // st_union_sources: TWO independent file sources unioned into ONE
  // streaming query — the multi-source topology every consolidation
  // pipeline runs (regional kafka clusters, per-tenant buckets, a
  // migration reading old+new paths). The semantics under test: both
  // sources feed a single watermark (the query-level watermark is the
  // MIN over sources, so one lagging source holds state for both) and
  // one stateful aggregate sees interleaved triggers from either side.
  // The staged split is deterministic (user parity), the sink runs
  // complete-mode like st_events_hourly, and the batch oracle is the
  // SAME hourly rollup over the undivided table — union must be
  // lossless and order-free.
  // -------------------------------------------------------------------
  private def unionSourcesStreamed(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName.replace('.', '_')
    // both parity halves staged under ONE cached dir (input/a, input/b)
    val input = stagedInputDir(spark, dir, "events.parquet",
      "stream_union") { (_, input) =>
      val ev = graft.Tables.events(spark, dir)
      ev.filter(pmod(col("user_id"), lit(2)) === 0)
        .coalesce(1).write.parquet(s"$input/a")
      ev.filter(pmod(col("user_id"), lit(2)) === 1)
        .coalesce(1).write.parquet(s"$input/b")
    }
    val inA = s"$input/a"
    val inB = s"$input/b"
    val sch = spark.read.parquet(inA).schema
    def src(p: String) = spark.readStream
      .schema(sch)
      .option("maxFilesPerTrigger", "1")
      .parquet(p)
    runToTable(
      EventsStream.hourlyByType(src(inA).unionByName(src(inB))),
      s"st_union_sources_sink_$tag", "complete")(spark)
      .orderBy("hour", "event_type")
  }

  private def lateDropStreamed(spark: SparkSession, dir: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val input = stagedInputDir(spark, dir, "events.parquet",
      "stream_late") { (stage, input) =>
      val ev = graft.Tables.events(spark, dir).select(col("ts"))
      val mx = ev.agg(max(col("ts")).as("mt")) // 1-row scalar attach
      val tagged = ev.crossJoin(broadcast(mx))
        .withColumn("recent", col("ts") >= col("mt") - expr("INTERVAL 3 DAYS"))
        .withColumn("mid", !col("recent") &&
          col("ts") >= col("mt") - expr("INTERVAL 84 HOURS"))

      val writeOne = stageSlice(fs, stage, input) _
      // distinct mtimes pin arrival order (file source processes oldest
      // modification time first): recent tail, then middle, then old head
      val base = System.currentTimeMillis() - 600000L
      writeOne(tagged.filter(col("recent")).select(col("ts")), "b0", base)
      writeOne(tagged.filter(col("mid")).select(col("ts")), "b1",
        base + 60000L)
      writeOne(tagged.filter(!col("recent") && !col("mid")).select(col("ts")),
        "b2", base + 120000L)
    }
    val tag = new java.io.File(dir).getName.replace('.', '_')
    val sch = stagedSchema(spark, fs, input)
    val agg = spark.readStream
      .schema(sch)
      .option("maxFilesPerTrigger", "1")
      .parquet(input)
      .withWatermark("ts", "4 days")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour"), col("n_events"))
    runToTable(agg, s"st_late_drop_sink_$tag", "update")(spark)
      .groupBy("hour")
      .agg(max(col("n_events")).as("n_events"))
      .orderBy("hour")
  }

  private val lateDropStreamedSql =
    // batches 0/1 (ts ≥ mt − 84 h) satisfy this predicate trivially
    // (their window ends exceed mt − 84 h + 0 > mt − 4 d), so the one
    // surviving-set predicate covers all three arrival batches
    """WITH mx AS (SELECT max(ts) AS mt FROM events)
      |SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events
      |FROM events, mx
      |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > mt - INTERVAL 4 DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** st_cdc_sink: STREAMING CDC APPLY WITH DELETES — st_upsert_sink's
    * merge handles additive deltas only; real change streams carry
    * I/U/D rows and the store must honor sequence order and
    * tombstones. The change log derives exactly as ax_cdc_apply's
    * (same classes, same seq numbers) and is staged as TWO source
    * files with pinned modification times — inserts first, then the
    * update+delete wave — so maxFilesPerTrigger=1 replays a
    * deterministic two-trigger arrival where batch 1's updates
    * override batch 0's inserts ACROSS the store boundary and deletes
    * tombstone rows committed by an earlier trigger. The foreachBatch
    * body is last-writer-wins resolution: union the batch with the
    * previous committed version (read from the filesystem, never
    * driver memory — the st_upsert_sink exactly-once discipline) and
    * take ONE max(struct(seq, op, cents)) argmax per key; replaying a
    * batch re-merges against the same previous version and rewrites
    * its own directory, so at-least-once triggers stay exactly-once.
    * Tombstones are KEPT in the store (a delete must survive replay
    * and block earlier-seq re-inserts); the readout filters them.
    * Oracle = the batch ax_cdc_apply aggregate — the streamed store
    * must converge to the batch answer.
    */
  private def cdcSinkStreamed(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName.replace('.', '_')
    val base = s"target/stream_cdc/store_$tag"
    val chk = s"target/stream_cdc/chk_$tag"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // the STORE and CHECKPOINT reset per call — every invocation runs
    // the full two-trigger merge from scratch; only the staged change
    // log (a pure function of orders.parquet) amortizes per session
    Seq(base, chk).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val input = stagedInputDir(spark, dir, "orders.parquet",
      "stream_cdc") { (stage, input) =>
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val writeOne = stageSlice(fs, stage, input) _
      val now = System.currentTimeMillis() - 600000L
      writeOne(o.select(col("k"), lit(1L).as("seq"), lit("I").as("op"),
        col("cents")), "b0", now)
      writeOne(
        o.filter(pmod(col("k"), lit(5)) === 1)
          .select(col("k"), lit(2L).as("seq"), lit("U").as("op"),
            (col("cents") + 777L).as("cents"))
          .unionAll(o.filter(pmod(col("k"), lit(11)) === 4)
            .select(col("k"), lit(3L).as("seq"), lit("D").as("op"),
              lit(0L).as("cents"))),
        "b1", now + 60000L)
    }

    val sch = stagedSchema(spark, fs, input)
    val mergeBatch: (DataFrame, Long) => Unit = { (batch, id) =>
      val all = committedVersionBefore(fs, base, id) match {
        case None => batch
        case Some(prev) => batch.unionAll(spark.read.parquet(prev))
      }
      all.groupBy("k")
        .agg(max(struct(col("seq"), col("op"), col("cents"))).as("m"))
        .select(col("k"), col("m.seq").as("seq"), col("m.op").as("op"),
          col("m.cents").as("cents"))
        .write.mode("overwrite").parquet(s"$base/v$id")
    }
    withGateShuffle(spark) {
      val q = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(input)
        .writeStream
        .option("checkpointLocation", chk)
        .foreachBatch(mergeBatch)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.read.parquet(latestVersion(spark, base))
      .agg(
        sum((col("op") =!= "D").cast("long")).as("n_live"),
        sum(when(col("op") =!= "D", col("cents")).otherwise(lit(0L)))
          .as("live_cents"),
        sum((col("op") === "U").cast("long")).as("n_updated"),
        sum((col("op") === "D").cast("long")).as("n_deleted"))
  }

  // -------------------------------------------------------------------
  // st_ivf_assign: STREAMING ANN-INDEX INGEST — the streaming twin of
  // sim_ivf_delta's cell-assignment rule, closing the batch/streaming
  // asymmetry for the vector side the way the CDC family closed it for
  // maintenance verbs. The IVF index is trained OFFLINE (base
  // centroids over the non-delta corpus — a batch aggregate whose
  // K-row result is collected and INLINED into the streaming plan as
  // literals, K×64 ints of metadata); the stream is the delta
  // arriving in three staged slices, and each vector's cell is chosen
  // by a STATELESS map-side argmin over the literal centroid array —
  // array_min over (distance, cell) structs, the same exact integer
  // L2 algebra and (dist asc, cell asc) tie-break as the batch twin,
  // no shuffle and no state until the occupancy aggregate. The one
  // stateful operator is the per-cell occupancy count the index
  // maintainer actually tracks (complete mode, K rows of state); the
  // memory-sink table after the last trigger must equal the BATCH
  // assignment of the whole delta — the oracle replays exactly that.
  //
  // Scale shape: assignment is scan-shaped (work ∝ delta × K, the
  // sim_ivf_delta economics verbatim); state is K rows. At 100 TB the
  // same plan serves a real ingest firehose: centroids broadcast,
  // cells assigned in the map phase, occupancy as a tiny keyed agg.
  // -------------------------------------------------------------------
  /** Stateless cell argmin + per-cell occupancy over frozen centroids
    * inlined as literals — ONE formulation shared by the gate query
    * and IvfAssignStreamSpec's MemoryStream twin, so the spec pins
    * exactly the plan the gate runs (same integer L2 algebra, same
    * (dist asc, cell asc) tie-break via the struct ordering).
    */
  private[graft] def ivfCellOccupancy(vecs: DataFrame,
      cents: Seq[(Long, Seq[Long])]): DataFrame = {
    import graft.functions.GraftFunctions.l2sqLong
    val distStructs = cents.map { case (cell, c) =>
      struct(
        l2sqLong(col("q"), expr(c.mkString("array(", ",", ")"))).as("d"),
        lit(cell).as("cell"))
    }
    vecs.withColumn("q", expr(Similarity.quantize))
      .withColumn("best", array_min(array(distStructs: _*)))
      .select(col("vec_id"), col("best.cell").as("cell"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_assigned"),
        sum(col("vec_id")).as("vec_id_sum"))
  }

  /** Frozen base centroids (K×64 ints of trained-index METADATA) —
    * the offline training pass is a pure function of the corpus, so
    * it trains once per (application, SF dir, fixture generation)
    * like every other frozen-index substrate (MinHashLsh.frozenIndex,
    * Dedup.spanFrozenIndex); the streamed assignment still evaluates
    * per call per trigger.
    */
  private val ivfCentsCache =
    new SubstrateCache[Seq[(Long, Seq[Long])]]("embeddings.parquet",
      (_: Seq[(Long, Seq[Long])]) => ())

  private def ivfAssignStreamed(spark: SparkSession, dir: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // offline training pass: frozen base centroids (K = 8 geometric
    // cells, the sim_ivf_delta formulation), K×64 ints collected
    val cents = ivfCentsCache.get(spark, dir) {
      spark.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("q", expr(Similarity.quantize))
        .filter(pmod(col("vec_id"), lit(10)) =!= 7)
        .withColumn("bkt", Hyperplanes.bucketCol(col("q"), 3))
        .groupBy(col("bkt").as("cell"))
        .agg(array((0 until 64).map(d =>
          floor(avg(col("q").getItem(d))).cast("long")): _*).as("centroid"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
        .sortBy(_._1).toSeq
    }

    // the delta arrives as three staged slices with pinned mtimes —
    // deterministic trigger order, one slice per micro-batch
    val input = stagedInputDir(spark, dir, "embeddings.parquet",
      "stream_ivf") { (stage, input) =>
      val writeOne = stageSlice(fs, stage, input) _
      val delta = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(pmod(col("vec_id"), lit(10)) === 7)
        .select(col("vec_id"), col("embedding"))
      val now = System.currentTimeMillis() - 600000L
      Seq(7L, 17L, 27L).zipWithIndex.foreach { case (r, i) =>
        writeOne(delta.filter(pmod(col("vec_id"), lit(30)) === r),
          s"d$i", now + i * 60000L)
      }
    }

    val sch = stagedSchema(spark, fs, input)
    val assigned = ivfCellOccupancy(
      spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(input),
      cents)
    runToTable(assigned, "st_ivf_assign_sink", "complete")(spark)
      .orderBy("cell")
  }

  private val ivfAssignStreamedSql: String = {
    val centroid = (0 until 64)
      .map(d => s"CAST(floor(avg(q[${d + 1}])) AS BIGINT)")
      .mkString("[", ", ", "]")
    val l2 = s"(${PortableHash.dotSqlDuck("d.q", "d.q")} - " +
      s"2 * ${PortableHash.dotSqlDuck("d.q", "c.centroid")} + " +
      s"${PortableHash.dotSqlDuck("c.centroid", "c.centroid")})"
    s"""WITH q0 AS (SELECT vec_id, ${Similarity.quantizeDuck} AS q
       |  FROM embeddings),
       |qt AS (SELECT vec_id, q,
       |    ${Hyperplanes.bucketSqlDuck("q", 3)} AS bkt FROM q0),
       |b AS (SELECT * FROM qt WHERE vec_id % 10 <> 7),
       |d AS (SELECT * FROM qt WHERE vec_id % 10 = 7),
       |cb AS (SELECT bkt AS cell, $centroid AS centroid
       |  FROM b GROUP BY bkt),
       |a AS (SELECT vec_id, cell FROM (
       |    SELECT d.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY d.vec_id
       |        ORDER BY $l2 ASC, c.cell ASC) AS rn
       |    FROM d, cb c) t WHERE rn = 1)
       |SELECT cell, COUNT(*) AS n_assigned,
       |  CAST(SUM(vec_id) AS BIGINT) AS vec_id_sum
       |FROM a GROUP BY cell ORDER BY cell""".stripMargin
  }

  // -------------------------------------------------------------------
  // st_dedup_probe: STREAMING INGEST-TIME NEAR-DUP GATE — the text twin
  // of st_ivf_assign, closing the batch/streaming asymmetry for the
  // dedup side the way st_ivf_assign closed it for vectors. The banded
  // MinHash INDEX is frozen offline (the session's capped bucket table
  // + per-doc distinct-hash arrays over the non-delta corpus — at
  // 100 TB: the persisted, (band, bh)-partitioned index every ingest
  // probes); the delta documents arrive in three staged slices, and
  // each document's ENTIRE feature pipeline runs STATELESSLY in-row —
  // shingle → 60-bit hash → 32 affine mins → 8 band hashes, all array
  // HOFs over the one text value, no shuffle before the index probe.
  // Candidates come from a stream-static equi-join against the frozen
  // buckets; exact Jaccard verification is ALSO in-row
  // (array_intersect of the delta's hash array with the index doc's
  // array — no second aggregate over token rows); the one stateful
  // operator is the per-new-doc argmax (complete mode, delta-bounded
  // state). The sink then right-joins the full delta so rejected and
  // candidate-less documents both surface, exactly like the batch
  // ingest gate (dd_incremental_dup): best match, best Jaccard
  // (permille), accept/reject flag.
  //
  // Scale shape: work ∝ delta × bucket occupancy (the index is capped
  // at MaxBucket, so the join fan-out is bounded); index text never
  // moves — only hash arrays of matched candidates attach. The oracle
  // replays the identical distinct-hash formulation in DuckDB.
  // -------------------------------------------------------------------
  private def dedupProbeStreamed(spark: SparkSession, dir: String): DataFrame = {
    import MinHashLsh.{Bands, RowsPerBand, ThresholdPm, P, coefA, coefB}
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)

    def isNew(c: org.apache.spark.sql.Column) = pmod(c, lit(10)) === 9

    // frozen index from the session substrate (shared with the batch
    // ingest gate — see MinHashLsh.frozenIndex): capped banded buckets
    // + per-doc distinct-hash arrays, both materialized BEFORE the
    // stream starts (a stream-static join re-evaluates an
    // unmaterialized static side every micro-batch)
    val (idx, docArrs) = MinHashLsh.frozenIndex(spark, dir)

    val delta = spark.read.parquet(s"$dir/documents.parquet")
      .filter(isNew(col("doc_id")))
      .select(col("doc_id"), col("text"))
    val input = stagedInputDir(spark, dir, "documents.parquet",
      "stream_dedup") { (stage, input) =>
      val writeOne = stageSlice(fs, stage, input) _
      val now = System.currentTimeMillis() - 600000L
      Seq(9L, 19L, 29L).zipWithIndex.foreach { case (r, i) =>
        writeOne(delta.filter(pmod(col("doc_id"), lit(30)) === r),
          s"d$i", now + i * 60000L)
      }
    }

    // one fused native pass for all NumHashes affine mins (guide §4):
    // the per-s `array_min(transform(ha, ...))` formulation ran 32
    // interpreted higher-order lambdas per document per trigger, each
    // allocating an intermediate array; MinHashMins reduces h%P once
    // per element and folds every permutation in one loop — values
    // pinned identical by MinHashMinsSpec
    val minsCol = graft.functions.GraftFunctions
      .minHashMins(col("ha"), coefA, coefB, P)
    val bandCols = (0 until Bands).map { bi =>
      val slice = (0 until RowsPerBand)
        .map(r => col("mins").getItem(bi * RowsPerBand + r))
      PortableHash.hashCol(concat_ws(",", slice: _*))
    }
    val sch = stagedSchema(spark, fs, input)
    val scored = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1")
      .parquet(input)
      .withColumn("ws", split(trim(lower(col("text"))), "\\s+"))
      .withColumn("feats", expr(
        """array_distinct(CASE WHEN size(ws) >= 3
          |  THEN transform(sequence(0, size(ws) - 3),
          |    i -> concat_ws(' ', slice(ws, i + 1, 3)))
          |  ELSE array(concat_ws(' ', ws)) END)""".stripMargin))
      .withColumn("ha", array_distinct(
        transform(col("feats"), f => PortableHash.hashCol(f))))
      .withColumn("na", size(col("ha")).cast("long"))
      .select(col("doc_id").as("a"), col("ha"), col("na"),
        minsCol.as("mins"))
      .select(col("a"), col("ha"), col("na"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
      .join(idx, Seq("band", "bh"))
      .join(docArrs, Seq("b"))
      .withColumn("inter",
        size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jaccard_pm",
        floor(col("inter") * lit(1000.0) /
          (col("na") + col("nb") - col("inter"))).cast("long"))
      .groupBy(col("a"))
      .agg(max(struct(col("jaccard_pm").as("j"), (-col("b")).as("negb")))
        .as("best"))
    val sunk = runToTable(scored, "st_dedup_probe_sink", "complete")(spark)
    val best = sunk.select(col("a").as("new_doc"),
      (-col("best.negb")).as("best_match"),
      col("best.j").as("best_jaccard_pm"))
    delta.select(col("doc_id").as("new_doc"))
      .join(best, Seq("new_doc"), "left")
      .select(col("new_doc"),
        coalesce(col("best_match"), lit(-1L)).as("best_match"),
        coalesce(col("best_jaccard_pm"), lit(0L)).as("best_jaccard_pm"))
      .withColumn("is_dup",
        (col("best_jaccard_pm") >= ThresholdPm).cast("long"))
      .orderBy("new_doc")
  }

  // -------------------------------------------------------------------
  // st_span_probe: STREAMING INGEST-TIME LONG-SPAN GATE — the Lee-et-al
  // substring semantic (verbatim shared spans ≥ 50 chars, the
  // dd_substring_span family) as an ingest probe, closing the
  // batch/streaming asymmetry for SPAN dedup the way st_dedup_probe
  // closed it for near-dup MinHash. The span-anchor INDEX is frozen
  // offline (Dedup.spanFrozenIndex: doc-fair capped (seed, doc, pos)
  // anchors + norms of the non-delta corpus — at 100 TB: the
  // persisted, seed-partitioned table every ingest batch probes); the
  // delta documents arrive in three staged slices, and each document's
  // anchor featurization runs STATELESSLY in-row (normalize →
  // content-defined 8-gram anchor positions selected inside the array
  // → 32-char md5 seeds), no shuffle before the index probe.
  // Candidates come from a stream-static equi-join on the seed; the
  // one stateful operator is the diagonal collapse (min anchor per
  // (new_doc, corpus_doc, diagonal) — complete mode, delta-bounded
  // state). Exact verification runs batch-side over the sunk diagonal
  // table: seed byte re-check, then the native DiagonalBoundaries
  // kernel scans each diagonal's whole overlap once; best match per
  // new doc by maximal verified span.
  //
  // Scale shape: work ∝ delta anchors × frozen per-seed occupancy
  // (the index is capped at SpanSeedCap, so each delta anchor's
  // fan-out is bounded); corpus text moves only for verified
  // candidates. The delta side is uncapped by design — its fan-out
  // bound comes from the index cap. The oracle replays the identical
  // asymmetric pipeline in DuckDB.
  // -------------------------------------------------------------------
  private def spanProbeStreamed(spark: SparkSession, dir: String): DataFrame =
    spanProbeStreamedCore(spark, dir, sampled = false)

  /** st_span_probe_s: the probe's SAMPLED twin — same machinery, the
    * frozen index and the delta both restricted to the deterministic
    * portable-hash document sample (Dedup.spanSampleKeep), so the
    * DuckDB oracle replay scales by p² on the pair stages and the
    * streaming span gate carries cross-engine sf1 evidence like its
    * batch siblings (dd_substring_span_s / tx_span_dedup_s).
    */
  private def spanProbeStreamedSampled(
      spark: SparkSession, dir: String): DataFrame =
    spanProbeStreamedCore(spark, dir, sampled = true)

  private def spanProbeStreamedCore(spark: SparkSession, dir: String,
      sampled: Boolean): DataFrame = {
    val sfx = if (sampled) "_s" else ""
    val keep = (c: org.apache.spark.sql.Column) =>
      if (sampled) Dedup.spanSampleKeep(c) else lit(true)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)

    def isNew(c: org.apache.spark.sql.Column) = pmod(c, lit(10)) === 9

    val (idx, corpusNorms) =
      if (sampled) Dedup.spanFrozenIndexSampled(spark, dir)
      else Dedup.spanFrozenIndex(spark, dir)
    val idxSide = idx.select(
      col("seed"), col("doc_id").as("b"), col("pos").as("pb"))

    val delta = spark.read.parquet(s"$dir/documents.parquet")
      .filter(isNew(col("doc_id")) && keep(col("doc_id")))
      .select(col("doc_id"), col("text"))
    val input = stagedInputDir(spark, dir, "documents.parquet",
      s"stream_span$sfx") { (stage, input) =>
      val writeOne = stageSlice(fs, stage, input) _
      val now = System.currentTimeMillis() - 600000L
      Seq(9L, 19L, 29L).zipWithIndex.foreach { case (r, i) =>
        writeOne(delta.filter(pmod(col("doc_id"), lit(30)) === r),
          s"d$i", now + i * 60000L)
      }
    }

    val sch = stagedSchema(spark, fs, input)
    val diag = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1")
      .parquet(input)
      .withColumn("norm", TextAnalysis.normCol)
      .filter(length(col("norm")) >= Dedup.SpanSeedLen)
      // native one-pass 8-gram windows hash for the in-row anchor
      // featurization (same values — Hash60Spec; the per-position
      // md5-of-substring lambda was the per-trigger hotspot)
      .withColumn("h8",
        graft.functions.GraftFunctions.hash60Windows(col("norm"), 8))
      .select(col("doc_id").as("a"), col("norm"), explode(filter(
        sequence(lit(1), length(col("norm")) - (Dedup.SpanSeedLen - 1)),
        i => element_at(col("h8"), i) % Dedup.SpanAnchorMod === 0)).as("pa"))
      .select(col("a"), col("pa"),
        md5(expr(s"substring(norm, CAST(pa AS INT), ${Dedup.SpanSeedLen})"))
          .as("seed"))
      .join(idxSide, Seq("seed"))
      .groupBy(col("a"), col("b"), (col("pa") - col("pb")).as("diag"))
      .agg(min(col("pa")).as("pa"))
    val sunk = runToTable(diag, s"st_span_probe${sfx}_sink",
      "complete")(spark)

    val deltaNorms = delta
      .select(col("doc_id").as("a"), TextAnalysis.normCol.as("norm_a"))
      .filter(length(col("norm_a")) >= Dedup.SpanSeedLen)
    val best = sunk
      .withColumn("pb", col("pa") - col("diag"))
      .join(deltaNorms, Seq("a"))
      .join(corpusNorms.select(col("doc_id").as("b"),
        col("norm").as("norm_b")), Seq("b"))
      .filter(expr(
        s"substring(norm_a, CAST(pa AS INT), ${Dedup.SpanSeedLen}) = " +
          s"substring(norm_b, CAST(pb AS INT), ${Dedup.SpanSeedLen})"))
      .withColumn("bnd", graft.functions.GraftFunctions.diagonalBoundaries(
        col("norm_a"), col("norm_b"),
        col("pa").cast("int"), col("pb").cast("int")))
      .withColumn("max_run", expr(
        """array_max(zip_with(slice(bnd, 2, size(bnd) - 1),
          |  slice(bnd, 1, size(bnd) - 1), (x, y) -> x - y - 1))""".stripMargin))
      .groupBy(col("a"), col("b"))
      .agg(max(col("max_run").cast("long")).as("span_len"))
      .groupBy(col("a"))
      .agg(max(struct(col("span_len"), (-col("b")).as("negb"))).as("best"))
      .select(col("a").as("new_doc"),
        (-col("best.negb")).as("best_match"),
        col("best.span_len").as("best_span_len"))
    delta.select(col("doc_id").as("new_doc"))
      .join(best, Seq("new_doc"), "left")
      .select(col("new_doc"),
        coalesce(col("best_match"), lit(-1L)).as("best_match"),
        coalesce(col("best_span_len"), lit(0L)).as("best_span_len"))
      .withColumn("is_dup",
        (col("best_span_len") >= Dedup.SpanMinLen).cast("long"))
      .orderBy("new_doc")
  }

  /** st_mv_upkeep: the STREAMING leg of the materialized-view story
    * (build: MatViews fixture / serve: plans.MvRewrite / maintain:
    * this). The post-cut lineitem slice arrives as three mtime-pinned
    * source files (month residues — three triggers); an update-mode
    * aggregation at the MV grain emits each trigger's changed groups
    * with their CUMULATIVE stream totals, and the foreachBatch body
    * keeps a versioned stream-totals store (latest value per key wins,
    * previous version read from the filesystem — the st_upsert_sink
    * exactly-once discipline). The readout adds the final stream
    * totals onto the STORED pre-cut rollup; oracle = the full-table
    * batch rollup, so the streamed MV must converge to exactly the
    * batch answer. At 100 TB the upkeep job touches only arriving
    * files and a |MV|-sized store — never the fact history.
    */
  private def mvUpkeepStreamed(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName.replace('.', '_')
    val stage = s"target/stream_mv/stage_$tag"
    val input = s"target/stream_mv/input_$tag"
    val base = s"target/stream_mv/store_$tag"
    val chk = s"target/stream_mv/chk_$tag"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(stage, input, base, chk).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    fs.mkdirs(new org.apache.hadoop.fs.Path(input))

    val delta = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") >= lit(MatViews.DeltaCut))
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"),
        month(col("l_shipdate")).as("mth"))
    val writeOne = stageSlice(fs, stage, input) _
    val now = System.currentTimeMillis() - 600000L
    (0 until 3).foreach { r =>
      writeOne(delta.filter(pmod(col("mth"), lit(3)) === r).drop("mth"),
        s"b$r", now + r * 60000L)
    }

    val sch = stagedSchema(spark, fs, input)
    val agg = MatViews.rollup(spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1")
      .parquet(input))
    val mergeBatch: (DataFrame, Long) => Unit = { (batch, id) =>
      val merged = committedVersionBefore(fs, base, id) match {
        case None => batch
        case Some(prev) =>
          val old = spark.read.parquet(prev)
            .select(col("l_returnflag").as("orf"),
              col("l_linestatus").as("ols"),
              col("mv_sum_qty").as("oq"), col("mv_disc_cents").as("oc"),
              col("mv_n_rows").as("on"))
          batch.join(old,
              col("l_returnflag") === col("orf") &&
                col("l_linestatus") === col("ols"), "full_outer")
            .select(
              coalesce(col("l_returnflag"), col("orf")).as("l_returnflag"),
              coalesce(col("l_linestatus"), col("ols")).as("l_linestatus"),
              coalesce(col("mv_sum_qty"), col("oq")).as("mv_sum_qty"),
              coalesce(col("mv_disc_cents"), col("oc")).as("mv_disc_cents"),
              coalesce(col("mv_n_rows"), col("on")).as("mv_n_rows"))
      }
      merged.write.mode("overwrite").parquet(s"$base/v$id")
    }
    withGateShuffle(spark) {
      val q = agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", chk)
        .foreachBatch(mergeBatch)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }

    val streamTot = spark.read.parquet(latestVersion(spark, base))
      .select(col("l_returnflag").as("srf"), col("l_linestatus").as("sls"),
        col("mv_sum_qty").as("sq"), col("mv_disc_cents").as("sc"),
        col("mv_n_rows").as("sn"))
    spark.read.parquet(MatViews.mvPreCutPath(spark, dir))
      .join(streamTot,
        col("l_returnflag") === col("srf") &&
          col("l_linestatus") === col("sls"), "full_outer")
      .select(
        coalesce(col("l_returnflag"), col("srf")).as("l_returnflag"),
        coalesce(col("l_linestatus"), col("sls")).as("l_linestatus"),
        (coalesce(col("mv_sum_qty"), lit(0L)) + coalesce(col("sq"), lit(0L)))
          .as("mv_sum_qty"),
        (coalesce(col("mv_disc_cents"), lit(0L)) +
          coalesce(col("sc"), lit(0L))).as("mv_disc_cents"),
        (coalesce(col("mv_n_rows"), lit(0L)) + coalesce(col("sn"), lit(0L)))
          .as("mv_n_rows"))
      .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)
  }

  private val mvUpkeepStreamedSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS mv_sum_qty,
      |  CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100)
      |    AS BIGINT)) AS BIGINT) AS mv_disc_cents,
      |  COUNT(*) AS mv_n_rows
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // a streamed gate's oracle is its batch answer: the bounded replay of
  // the stream must converge to it
  val gates: Seq[Gate] = Seq(
    Gate("st_mv_upkeep", mvUpkeepStreamed, mvUpkeepStreamedSql),
    Gate("st_span_probe", spanProbeStreamed, Dedup.spanProbeOracleSql()),
    Gate("st_span_probe_s", spanProbeStreamedSampled,
      Dedup.spanProbeOracleSql("(" + Dedup.spanSampleKeepSql("doc_id") + ")")),
    Gate("st_dedup_probe", dedupProbeStreamed, Dedup.streamProbeOracleSql),
    Gate("st_ivf_assign", ivfAssignStreamed, ivfAssignStreamedSql),
    // the streamed CDC store must converge to the batch apply
    Gate("st_cdc_sink", cdcSinkStreamed, Maintenance.cdcApplySql),
    Gate("st_late_drop", lateDropStreamed, lateDropStreamedSql),
    Gate("st_union_sources", unionSourcesStreamed, Analytics.eventsHourlySql),
    Gate("st_timer_sessions", timerSessionsStreamed, sessionsStreamedSql),
    Gate("st_tws_totals", twsTotalsStreamed, upsertSinkStreamedSql),
    Gate("st_recovery", recoveryStreamed, upsertSinkStreamedSql),
    Gate("st_full_outer", fullOuterJoinStreamed, fullOuterJoinStreamedSql),
    Gate("st_outer_join", outerJoinStreamed, outerJoinStreamedSql),
    Gate("st_upsert_sink", upsertSinkStreamed, upsertSinkStreamedSql),
    Gate("st_sessionize", sessionsStreamed, sessionsStreamedSql),
    Gate("st_static_join", staticJoinStreamed, staticJoinStreamedSql),
    Gate("st_stream_join", streamJoinStreamed, streamJoinStreamedSql),
    Gate("st_file_sink", fileSinkStreamed, fileSinkStreamedSql),
    Gate("st_chained_agg", chainedAggStreamed, chainedAggStreamedSql),
    Gate("st_new_returning", newReturningStreamed,
      TemporalStats.newReturningSql),
    Gate("st_dedup_agg", dedupAggStreamed, dedupAggStreamedSql),
    Gate("st_join_agg", joinAggStreamed, joinAggStreamedSql),
    Gate("st_sliding_counts", slidingStreamed, slidingStreamedSql),
    Gate("st_events_hourly", hourlyStreamed, Analytics.eventsHourlySql),
    Gate("st_quantile_monitor", quantileMonitorStreamed, quantileMonitorSql),
    Gate("st_dedup_events", dedupStreamed, dedupStreamedSql),
    Gate("st_semi_join", semiJoinStreamed, semiJoinStreamedSql),
    Gate("st_purchase_streaks", streaksStreamed, streaksStreamedSql)
  )
}
