package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Event-log operators: semi-structured (JSON) extraction and the
  * binned range join — both everyday needs of a 100 TB event pipeline.
  */
object EventsOps {

  // -------------------------------------------------------------------
  // ax_props_json: JSON property extraction + aggregation. `from_json`
  // with an explicit schema parses each props string exactly once into
  // a struct (at scale, never re-parse per field the way chained
  // `get_json_object` calls would — one parse, then struct field
  // reads are free). Oracle: DuckDB json_extract_string.
  // -------------------------------------------------------------------
  private def propsJson(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .withColumn("k",
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k"))
      .groupBy("event_type")
      .agg(
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(col("k")).as("n_with_k"))
      .orderBy("event_type")

  private val propsJsonSql =
    """SELECT event_type,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(MIN(k) AS BIGINT) AS min_k,
      |  CAST(MAX(k) AS BIGINT) AS max_k,
      |  COUNT(k) AS n_with_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_props_variant: the same extraction through Spark 4's VARIANT
  // type — `parse_json` once into the binary variant encoding, then
  // `variant_get` path reads. At 100 TB this is the semi-structured
  // strategy that beats both schema-on-write structs (no upfront schema
  // commitment; unknown keys survive) and per-field string re-parsing
  // (the variant parses ONCE and every path read is a binary descent;
  // parquet can shred it columnar). The gate also pins the null
  // contract: a missing path is NULL (counted zero), never an error,
  // and a present path casts losslessly to BIGINT. Oracle = the same
  // aggregate over DuckDB's JSON reads — variant is an encoding, not a
  // semantics change, and the gate proves exactly that.
  // -------------------------------------------------------------------
  private def propsVariant(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .withColumn("v", expr("parse_json(props)"))
      .withColumn("k", expr("variant_get(v, '$.k', 'bigint')"))
      .withColumn("missing", expr("variant_get(v, '$.not_there', 'bigint')"))
      .groupBy("event_type")
      .agg(
        sum(col("k")).as("sum_k"),
        count(col("k")).as("n_with_k"),
        count(col("missing")).as("n_missing_path"))
      .orderBy("event_type")

  private val propsVariantSql =
    """SELECT event_type,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  COUNT(k) AS n_with_k,
      |  COUNT(m) AS n_missing_path
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |        CAST(json_extract_string(props, '$.not_there') AS BIGINT) AS m
      |      FROM events)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_interval_errors: range join done the scale-native way. Error
  // events are joined into their user's session interval
  // [start, last+30min) — a point-in-interval predicate. A naive
  // `e.user = s.user AND e.ts >= s.s AND e.ts < s.e` plan degenerates
  // per key (every event × every session of that user); instead both
  // sides are BINNED to the hour — intervals explode to the hour bins
  // they cover (sessions are short, so ~1-2 bins each), events map to
  // one bin — so the join is a plain equi-join on (user, bin) with the
  // exact range predicate as a residual filter. Candidate count is
  // O(events × intervals-touching-their-hour), not O(events ×
  // sessions-per-user). Intervals are disjoint per user, so each event
  // matches at most once — no dedup step needed.
  // The oracle is the naive non-equi join (DuckDB plans it as an
  // IEJoin, fine at oracle scale).
  // -------------------------------------------------------------------
  private def intervalErrors(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    val sessions = ev
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("s"), col("sw.end").as("e"))
      .withColumn("bin",
        explode(sequence(
          date_trunc("hour", col("s")), date_trunc("hour", col("e")),
          expr("INTERVAL 1 HOUR"))))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("eu"), col("ts"))
      .withColumn("bin", date_trunc("hour", col("ts")))
    sessions
      .join(errors,
        col("user_id") === col("eu") && sessions("bin") === errors("bin") &&
          col("ts") >= col("s") && col("ts") < col("e"))
      .groupBy(col("user_id"), col("s"))
      .agg(count(lit(1)).as("n_errors"))
      .select(col("user_id"),
        date_format(col("s"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_errors"))
      .orderBy("user_id", "session_start")
  }

  private val intervalErrorsSql =
    """WITH ordered AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |islands AS (
      |  SELECT user_id, ts,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM ordered),
      |sess AS (
      |  SELECT user_id, MIN(ts) AS s, MAX(ts) + INTERVAL 30 MINUTE AS e
      |  FROM islands GROUP BY user_id, sid),
      |err AS (
      |  SELECT user_id AS eu, ts FROM events WHERE event_type = 'error')
      |SELECT x.user_id, strftime(x.s, '%Y-%m-%d %H:%M:%S') AS session_start,
      |  COUNT(*) AS n_errors
      |FROM sess x JOIN err ON x.user_id = err.eu
      |  AND err.ts >= x.s AND err.ts < x.e
      |GROUP BY x.user_id, x.s
      |ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_jsonl_roundtrip: JSONL sink + source — the interchange format of
  // training-data pipelines. Write a typed projection of events as
  // JSON-lines, read it back WITH an explicit schema (schema inference
  // is a full extra pass at 100 TB — never rely on it), aggregate.
  // The oracle aggregates the original parquet: a lossless roundtrip
  // must be invisible to the query. Timestamps travel as epoch micros
  // (JSON has no timestamp type; ISO strings roundtrip too but cost
  // parse time at scale).
  // -------------------------------------------------------------------
  private def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val path = s"target/jsonl_roundtrip/$tag"
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .write.mode("overwrite").json(path)
    spark.read
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, ts_us BIGINT, cents BIGINT")
      .json(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
      .orderBy("event_type")
  }

  private val jsonlRoundtripSql =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us,
      |  CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // csv roundtrip of a relational projection — header on, explicit
  // schema on read (same no-inference rule)
  private def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val path = s"target/csv_roundtrip/$tag"
    spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      .write.mode("overwrite").option("header", "true").csv(path)
    spark.read
      .schema("c_custkey BIGINT, c_mktsegment STRING, bal_cents BIGINT")
      .option("header", "true")
      .csv(path)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("bal_cents")).as("sum_bal_cents"))
      .orderBy("c_mktsegment")
  }

  private val csvRoundtripSql =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_bal_cents
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // ORC roundtrip — the columnar alternative when a downstream system is
  // ORC-native (Hive-era warehouses). Same rules as the other sinks:
  // explicit schema on read, lossless integer money, oracle on the
  // original parquet so the roundtrip must be invisible.
  private def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val path = s"target/orc_roundtrip/$tag"
    spark.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey"), col("p_brand"),
        round(col("p_retailprice") * 100).cast("long").as("price_cents"))
      .write.mode("overwrite").orc(path)
    spark.read
      .schema("p_partkey BIGINT, p_brand STRING, price_cents BIGINT")
      .orc(path)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_price_cents"),
        min(col("p_partkey")).as("min_part"), max(col("p_partkey")).as("max_part"))
      .orderBy("p_brand")
  }

  private val orcRoundtripSql =
    """SELECT p_brand, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(p_retailprice*100) AS BIGINT)) AS BIGINT)
      |    AS sum_price_cents,
      |  MIN(p_partkey) AS min_part, MAX(p_partkey) AS max_part
      |FROM part GROUP BY 1 ORDER BY 1""".stripMargin

  // XML roundtrip — Spark 4's native XML datasource (the format legacy
  // enterprise feeds still speak). Same rules: explicit schema on read
  // (XML inference is an extra full pass AND type-guesses), lossless
  // integer money, oracle on the original parquet. rowTag is the one
  // mandatory knob — each row element is independent, so reads split
  // and parallelize like any text source.
  private def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val path = s"target/xml_roundtrip/$tag"
    spark.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey").cast("long").as("nkey"), col("n_name"),
        col("n_regionkey").cast("long").as("rkey"))
      .write.mode("overwrite").option("rowTag", "nation").format("xml").save(path)
    spark.read
      .schema("nkey BIGINT, n_name STRING, rkey BIGINT")
      .option("rowTag", "nation").format("xml").load(path)
      .groupBy("rkey")
      .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"),
        sum(col("nkey")).as("key_sum"))
      .orderBy("rkey")
  }

  private val xmlRoundtripSql =
    """SELECT CAST(n_regionkey AS BIGINT) AS rkey, COUNT(*) AS n,
      |  MIN(n_name) AS first_name,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
      |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_user_journey: ordered event-sequence aggregation — the feature
  // extractor behind funnel/session-path analysis. `collect_list` has
  // NO ordering guarantee in a distributed agg, so the portable recipe
  // is collect structs → array_sort on (ts, event_id) → project the
  // event types; the journey is emitted as a joined string (first 8
  // steps) for a stable cross-engine representation. Per-user arrays
  // stay small (cap the slice) — a 100 TB run bounds the collect the
  // same way.
  // -------------------------------------------------------------------
  private def userJourney(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id"), col("event_type")).as("e"))
      .groupBy("user_id")
      .agg(collect_list(col("e")).as("es"), count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"),
        concat_ws(">", expr(
          "transform(slice(array_sort(es), 1, 8), x -> x.event_type)"))
          .as("journey8"))
      .orderBy("user_id")

  private val userJourneySql =
    """SELECT user_id, COUNT(*) AS n_events,
      |  array_to_string((list(event_type ORDER BY ts, event_id))[1:8], '>') AS journey8
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // ax_markov_events: the event-type TRANSITION MATRIX — the Markov
  // chain ax_user_journey's raw sequences feed (next-step prediction,
  // funnel leakage, bot detection all read this table first). Per
  // user, consecutive events (ordered by ts, event_id) yield (src →
  // dst) transitions via ONE lead() window partitioned on user_id — a
  // high-cardinality key, so every partition's sort is one user's
  // bounded history, never a global sort (contrast the ax_ntile_bins
  // hazard: a window keyed on a handful of values). The per-src
  // probability normalization then runs over the AGGREGATED matrix —
  // |event_type|² rows, not corpus rows — so the only corpus-sized
  // work is the keyed window and one partial-agg'd groupBy. Output in
  // exact permille (integer div) so both engines hash identically.
  // -------------------------------------------------------------------
  private def markovEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    graft.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(byUser))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("n"))
      .withColumn("pm",
        expr("(1000 * n) div sum(n) over (partition by src)"))
      .select(col("src"), col("dst"), col("n"),
        col("pm").cast("long").as("pm"))
      .orderBy("src", "dst")
  }

  private val markovEventsSql =
    """WITH nx AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS dst
      |  FROM events),
      |t AS (SELECT src, dst, COUNT(*) AS n FROM nx
      |      WHERE dst IS NOT NULL GROUP BY 1, 2)
      |SELECT src, dst, CAST(n AS BIGINT) AS n,
      |  CAST((1000 * n) // SUM(n) OVER (PARTITION BY src) AS BIGINT) AS pm
      |FROM t ORDER BY src, dst""".stripMargin

  // -------------------------------------------------------------------
  // ax_event_motifs: depth-3 SEQUENTIAL PATTERN mining — the top-10
  // contiguous event-type trigrams across all user histories, the
  // behavioral-motif table funnel design and bot detection read after
  // the ax_markov_events pair matrix (pairs say what follows what;
  // motifs say which three-step paths actually dominate). Trigrams
  // form in the SAME single lead() window pass as the Markov matrix —
  // two leads over the high-cardinality user_id key, zero self-joins
  // (the posexplode-and-join-twice formulation shuffles the corpus
  // three times; this shuffles once) — then one map-side-combined
  // count and a TakeOrderedAndProject top-10 (n desc, motif asc:
  // deterministic under ties).
  // -------------------------------------------------------------------
  private def eventMotifs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    graft.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("e1"))
      .withColumn("e2", lead(col("e1"), 1).over(byUser))
      .withColumn("e3", lead(col("e1"), 2).over(byUser))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("motif"))
      .groupBy("motif").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("motif").asc)
      .limit(10)
  }

  private val eventMotifsSql =
    """WITH nx AS (
      |  SELECT event_type AS e1,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |                              ORDER BY ts, event_id) AS e2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id
      |                              ORDER BY ts, event_id) AS e3
      |  FROM events)
      |SELECT e1 || '>' || e2 || '>' || e3 AS motif, COUNT(*) AS n
      |FROM nx WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, motif ASC LIMIT 10""".stripMargin

  // -------------------------------------------------------------------
  // ax_partitioned_write: Hive-style partitioned layout + partition-
  // pruned read. Events are written `partitionBy(event_type)` (each
  // type its own directory), then ONE partition is read back with a
  // filter on the partition column — the scan's PartitionFilters prune
  // the other directories without opening a file (verify with
  // `runMain graft.Explain <sf> ax_partitioned_write`). This is the
  // layout decision that turns "scan 100 TB, filter 20 TB" into "list
  // one directory"; the oracle filters the original table, so pruning
  // must be semantically invisible.
  // -------------------------------------------------------------------
  private def partitionedWrite(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val path = s"target/events_by_type/$tag"
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    spark.read.parquet(path)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy("user_id")
  }

  private val partitionedWriteSql =
    """SELECT user_id, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_sorted_layout: sort-clustered layout — events range-partitioned
  // and sorted by user_id on write, so a point/range predicate on the
  // read side skips whole files AND whole row groups via parquet
  // min/max stats (PushedFilters on the scan; at 100 TB this is the
  // difference between touching every file and touching ~1). The
  // complement of ax_partitioned_write: partitioning prunes by
  // DIRECTORY on low-cardinality keys; sort-clustering prunes by
  // STATS on high-cardinality keys, without the small-files explosion
  // a million-value partitionBy would cause.
  // -------------------------------------------------------------------
  private def sortedLayout(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val path = s"target/events_by_user/$tag"
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .repartitionByRange(8, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
      .filter(col("user_id") >= 10 && col("user_id") < 20)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy("user_id", "event_type")
  }

  private val sortedLayoutSql =
    """SELECT user_id, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events WHERE user_id >= 10 AND user_id < 20
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_rle_advisor: WITHIN-PARTITION SORT-KEY ADVISOR — the measurement
  // that DECIDES between ax_sorted_layout / ax_zorder_layout orderings
  // before a 100 TB rewrite is committed. Columnar formats pay for
  // value CHANGES, not values: parquet RLE/dictionary run length —
  // and min/max-stat pruning tightness — are both functions of how
  // many runs each column decomposes into under the chosen
  // within-partition order. For each candidate sort key (arrival,
  // event_type, user_id, value) this computes the EXACT total run
  // count of the three payload columns inside each day partition
  // (run starts = first row of a partition or value ≠ previous), and
  // the argmin row is the advised key — measured on the data, not
  // guessed. The trade surfaces honestly: sorting by user collapses
  // user runs but re-randomizes type runs, and near-unique columns
  // (cents) stay ≈ n runs under every foreign order.
  //
  // Scale shape: windows partition by DAY (the physical partition
  // unit — thousands of keys, bounded rows each), so each partition
  // sorts independently and in parallel; at 100 TB the advisor runs
  // on a SAMPLE of partitions (it is a planning query; runs-per-row
  // is translation-invariant across similar partitions) and emits
  // |candidates| rows either way.
  // -------------------------------------------------------------------
  /** Run-start counts of the three payload columns under `ord` within
    * `d` partitions, over a (d, event_id, user_id, event_type, cents)
    * frame — the advisor's core, exposed for the fuzz differential
    * (SelectionFuzzSpec checks it against an in-memory sorted-sequence
    * run counter on random heavy-tie inputs).
    */
  private[ops] def runCountsOf(ev: DataFrame, name: String,
      ord: Seq[org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("d").orderBy(ord: _*)
    def starts(c: String) =
      when(lag(col(c), 1).over(w).isNull ||
        col(c) =!= lag(col(c), 1).over(w), 1L).otherwise(0L)
    ev.select(starts("event_type").as("se"), starts("user_id").as("su"),
        starts("cents").as("sc"))
      .agg(sum(col("se")).as("runs_event_type"),
        sum(col("su")).as("runs_user_id"),
        sum(col("sc")).as("runs_cents"))
      .select(lit(name).as("sort_key"), col("runs_event_type"),
        col("runs_user_id"), col("runs_cents"),
        (col("runs_event_type") + col("runs_user_id") + col("runs_cents"))
          .as("total_runs"))
  }

  private def rleAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), col("event_id"),
        col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    Seq(
      runCountsOf(ev, "arrival", Seq(col("event_id"))),
      runCountsOf(ev, "type", Seq(col("event_type"), col("event_id"))),
      runCountsOf(ev, "user", Seq(col("user_id"), col("event_id"))),
      runCountsOf(ev, "value", Seq(col("cents"), col("event_id"))))
      .reduce(_ unionAll _)
      .orderBy("sort_key")
  }

  private val rleAdvisorSql = {
    def block(name: String, ord: String) =
      s"""SELECT '$name' AS sort_key,
         |  SUM(CASE WHEN pe IS NULL OR pe <> event_type THEN 1 ELSE 0 END)
         |    AS runs_event_type,
         |  SUM(CASE WHEN pu IS NULL OR pu <> user_id THEN 1 ELSE 0 END)
         |    AS runs_user_id,
         |  SUM(CASE WHEN pc IS NULL OR pc <> cents THEN 1 ELSE 0 END)
         |    AS runs_cents
         |FROM (SELECT event_type, user_id, cents,
         |    LAG(event_type) OVER (PARTITION BY d ORDER BY $ord) AS pe,
         |    LAG(user_id) OVER (PARTITION BY d ORDER BY $ord) AS pu,
         |    LAG(cents) OVER (PARTITION BY d ORDER BY $ord) AS pc
         |  FROM ev) t""".stripMargin
    val blocks = Seq(
      block("arrival", "event_id"),
      block("type", "event_type, event_id"),
      block("user", "user_id, event_id"),
      block("value", "cents, event_id")).mkString("\nUNION ALL\n")
    s"""WITH ev AS (SELECT CAST(ts AS DATE) AS d, event_id, user_id,
       |    event_type, CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events)
       |SELECT sort_key, CAST(runs_event_type AS BIGINT) AS runs_event_type,
       |  CAST(runs_user_id AS BIGINT) AS runs_user_id,
       |  CAST(runs_cents AS BIGINT) AS runs_cents,
       |  CAST(runs_event_type + runs_user_id + runs_cents AS BIGINT)
       |    AS total_runs
       |FROM ($blocks) u ORDER BY sort_key""".stripMargin
  }

  // -------------------------------------------------------------------
  // ax_zorder_layout: multi-dimensional clustering — the Z-ORDER
  // technique (interleave the bits of two filter columns into one
  // Morton key, range-partition + sort by it) that lets ONE physical
  // sort order serve range predicates on BOTH dimensions: rows close
  // in (partkey, suppkey) space land in the same row groups, so
  // parquet min/max stats prune for either column. Single-column
  // sorting (ax_sorted_layout) serves only its own column; this is the
  // layout a 100 TB table uses when two access paths matter. The
  // Morton arithmetic (32 shift/mask terms) is generated ONCE for both
  // engines, and min/max of the key are part of the oracle-checked
  // output — the interleaving must agree bit-for-bit cross-engine.
  // -------------------------------------------------------------------
  /** bits interleaved per dimension — 21 bits covers keys up to 2M
    * (2·21 = 42-bit morton, comfortably inside BIGINT on both engines);
    * keys ABOVE 2^MortonBits alias silently, so widen this with the
    * key domain (the layout degrades to random placement for aliased
    * high bits, it never corrupts results — the key is layout-only)
    */
  private val MortonBits = 21

  private def mortonExpr(sr: (String, Int) => String,
      sl: (String, Int) => String): String =
    (0 until MortonBits).flatMap(i => Seq(
      sl(s"(${sr("l_partkey", i)} & 1)", 2 * i),
      sl(s"(${sr("l_suppkey", i)} & 1)", 2 * i + 1))).mkString("(", " + ", ")")

  private[ops] val mortonSpark =
    mortonExpr((c, n) => s"shiftright($c, $n)", (c, n) => s"shiftleft($c, $n)")
  private val mortonDuck =
    mortonExpr((c, n) => s"($c >> $n)", (c, n) => s"($c << $n)")

  private def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val path = s"target/lineitem_zorder/$tag"
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"))
      .withColumn("morton", expr(mortonSpark))
      .repartitionByRange(8, col("morton"))
      .sortWithinPartitions("morton")
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
      .filter(col("l_partkey").between(100, 300) &&
        col("l_suppkey").between(10, 30))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("qty")).as("sum_qty"),
        min(col("morton")).as("min_morton"),
        max(col("morton")).as("max_morton"))
  }

  private val zorderLayoutSql =
    s"""SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       |  CAST(MIN($mortonDuck) AS BIGINT) AS min_morton,
       |  CAST(MAX($mortonDuck) AS BIGINT) AS max_morton
       |FROM lineitem
       |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 30""".stripMargin

  // -------------------------------------------------------------------
  // ax_manifest_prune: METADATA-DRIVEN SCAN PLANNING — the table-format
  // core (Iceberg/Delta manifests) built from first principles. The
  // layout step writes one file per user-range bucket; the manifest is
  // then a RELATION of file-level zone maps (file, min, max, rows)
  // built in one scan, and the query plans its own scan set: files
  // whose [min,max] interval intersects the predicate, read by
  // explicit path list. ax_sorted_layout trusts parquet ROW-GROUP
  // stats inside whichever files the reader opens; this query never
  // OPENS the pruned files at all — the decision is made from KBs of
  // metadata, which is what lets a 100 TB table answer a narrow range
  // predicate from 2 files out of hundreds (the emitted
  // n_files_total / n_files_read pair pins exactly that: files-read
  // stays constant as the table scales 100×, 4 of 4 buckets at
  // sf0.001 → 2 of ~375 at sf0.1). The manifest collect() moves
  // O(files) rows — the same KB-scale metadata a table format keeps —
  // never data. Oracle restates the zone-map selection declaratively.
  // -------------------------------------------------------------------
  /** The user-range-bucketed events layout shared by ax_manifest_prune
    * and ax_manifest_bloom — a table's layout is written once, not per
    * query. Disk layout keyed by the bucket width AND the events
    * generation (regeneration rebuilds).
    */
  private def bucketedEventsLayout(spark: SparkSession, dir: String): String =
    FixtureCache.layout(spark, "events_manifest", dir, Seq("events.parquet"),
        "bucketWidth" -> 4) { path =>
      graft.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("bucket", expr("user_id div 4"))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
    }

  private def manifestPrune(spark: SparkSession, dir: String): DataFrame = {
    val path = bucketedEventsLayout(spark, dir)

    // the manifest: file-level zone maps as a relation (one scan)
    val manifest = spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("user_id")).as("lo"), max(col("user_id")).as("hi"))
      .collect() // O(files) — KBs of metadata at any table size
    val (qLo, qHi) = (4L, 8L)
    val selected = manifest
      .filter(m => m.getLong(1) <= qHi && m.getLong(2) >= qLo)
      .map(_.getString(0))

    spark.read.parquet(selected.toSeq: _*)
      .filter(col("user_id").between(qLo, qHi))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .select(
        lit(manifest.length.toLong).as("n_files_total"),
        lit(selected.length.toLong).as("n_files_read"),
        col("n_events"), col("sum_cents"))
  }

  private val manifestPruneSql =
    """WITH m AS (SELECT user_id // 4 AS b, MIN(user_id) AS lo,
      |    MAX(user_id) AS hi
      |  FROM events GROUP BY 1)
      |SELECT
      |  (SELECT COUNT(*) FROM m) AS n_files_total,
      |  (SELECT COUNT(*) FROM m WHERE lo <= 8 AND hi >= 4) AS n_files_read,
      |  (SELECT COUNT(*) FROM events WHERE user_id BETWEEN 4 AND 8)
      |    AS n_events,
      |  (SELECT CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |   FROM events WHERE user_id BETWEEN 4 AND 8) AS sum_cents""".stripMargin

  // -------------------------------------------------------------------
  // ax_manifest_bloom: BLOOM-INDEXED MANIFEST POINT LOOKUP — the zone
  // maps' complement. ax_manifest_prune's [min,max] intervals answer
  // RANGE predicates on the layout key; a point lookup on a column the
  // layout does NOT sort by (event_id inside user-bucketed files) gets
  // nothing from zone maps — every file's event_id interval spans
  // ~the whole domain, so interval intersection selects ~every file
  // (the emitted n_files_zonemap pins exactly that). Table formats
  // answer this with per-file BLOOM filters: the manifest carries one
  // KB-scale blob per file (bloom_filter_agg grouped by file — ONE
  // scan), the coordinator probes the blobs with the query's key set,
  // and only files that might contain a probe key are opened. The
  // blobs are a deterministic function of file contents, so the gate
  // can pin the bloom-selected set against the oracle's exact
  // containment — proving zero false positives at these parameters
  // (131072 bits per file) rather than hoping. Probes include an
  // absent key (987654321): blooms must exclude it from every file.
  //
  // Scale: manifest collect moves O(files) KB-scale rows — what every
  // table-format coordinator materializes — never data; the fact scan
  // reads only bloom-selected files with the IN-filter pushed down.
  // -------------------------------------------------------------------
  private val BloomProbes = Seq(7L, 431L, 876L, 987654321L)

  /** The bloom manifest as a DISK fixture next to the layout, keyed on
    * the same source stamp — built once per layout commit, read back
    * as O(files) KB-scale rows on every probe (the economics of a
    * table-format metadata layer: manifests are WRITTEN at commit
    * time, never rebuilt per query).
    *
    * The build is TWO full scans of the layout, amortized per commit:
    * pass 0 sizes the blooms from the MEASURED per-file row count
    * (rows, not distinct event_id — an overestimate of cardinality,
    * deliberately conservative: oversizing bits can only lower the FP
    * rate). estimatedNumItems sizes the hash-function count
    * k ≈ m/n·ln2 and must reflect PER-FILE cardinality: a corpus-level
    * estimate gave k=1 and two measured false positives at sf0.01, and
    * a hardcoded 4096 would silently under-size if a fixture
    * regeneration raised per-file counts (k stays high while m/n
    * collapses — near-certain FPs). Bits scale with the estimate
    * (m/n ≥ 32 ⇒ FP ≈ 2⁻²² per probe), so the zero-FP pin holds by
    * sizing, not by luck.
    */
  private def bloomManifest(spark: SparkSession, dir: String,
      layoutPath: String): Array[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.graft.Sketches
    // the manifest references layout part files by ABSOLUTE path, so it
    // is keyed by the layout's location AND its part-file stamp: a
    // layout rebuilt or moved rebuilds the manifest, and the rows never
    // point at dead files
    val mDir = FixtureCache.layout(spark, "events_bloom_manifest", dir,
        Seq(layoutPath), "layout" -> layoutPath, "minBits" -> 17) { mDir =>
      val estItems = math.max(1L,
        spark.read.parquet(layoutPath)
          .groupBy(input_file_name().as("file"))
          .agg(count(lit(1)).as("cnt"))
          .agg(max(col("cnt"))).collect().head.getLong(0))
      val numBits = math.max(1L << 17, java.lang.Long.highestOneBit(
        estItems * 32 - 1) << 1)
      spark.read.parquet(layoutPath)
        .groupBy(input_file_name().as("file"))
        .agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi"),
          Sketches.bloomFilterAgg(col("event_id"), estItems, numBits)
            .as("bf"))
        .coalesce(1) // O(files) KB-scale manifest rows — one blob file
        .write.mode("overwrite").parquet(mDir)
    }
    spark.read.parquet(mDir).collect() // O(files) manifest rows
  }

  private def manifestBloom(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.Sketches
    val path = bucketedEventsLayout(spark, dir)
    val m = bloomManifest(spark, dir, path)
    val zonemap = m.count(r =>
      BloomProbes.exists(p => r.getLong(1) <= p && p <= r.getLong(2)))
    val selected = m.filter { r =>
      val bf = Sketches.readBloom(r.getAs[Array[Byte]]("bf"))
      BloomProbes.exists(p => bf.mightContainLong(Sketches.xxhash64Long(p)))
    }.map(_.getString(0))
    spark.read.parquet(selected.toSeq: _*)
      .filter(col("event_id").isin(BloomProbes: _*))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .select(
        lit(m.length.toLong).as("n_files_total"),
        lit(zonemap.toLong).as("n_files_zonemap"),
        lit(selected.length.toLong).as("n_files_bloom"),
        col("n_events"), col("sum_cents"))
  }

  private val manifestBloomSql = {
    val in = BloomProbes.mkString(", ")
    val zone = BloomProbes
      .map(p => s"(lo <= $p AND hi >= $p)").mkString(" OR ")
    s"""WITH f AS (SELECT user_id // 4 AS b, MIN(event_id) AS lo,
       |    MAX(event_id) AS hi,
       |    MAX(CASE WHEN event_id IN ($in) THEN 1 ELSE 0 END) AS has_probe
       |  FROM events GROUP BY 1)
       |SELECT
       |  (SELECT COUNT(*) FROM f) AS n_files_total,
       |  (SELECT COUNT(*) FROM f WHERE $zone) AS n_files_zonemap,
       |  (SELECT COUNT(*) FROM f WHERE has_probe = 1) AS n_files_bloom,
       |  (SELECT COUNT(*) FROM events WHERE event_id IN ($in)) AS n_events,
       |  (SELECT CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
       |   FROM events WHERE event_id IN ($in)) AS sum_cents""".stripMargin
  }

  // -------------------------------------------------------------------
  // ax_partition_evolution: PARTITION-SPEC EVOLUTION — the second
  // table-format axis after schema evolution: the table starts
  // UNPARTITIONED (v1 commit, two plain files) and later commits
  // switch to partitioning by event_type (v2 delta, one directory per
  // type). History is never rewritten — the entire point — so a
  // reader must plan PER LAYOUT: the v2 half of a type-filtered query
  // prunes to ONE directory of K, while every v1 file must still be
  // opened (old files carry no partition info; this asymmetry is the
  // measured argument for eventually compacting history into the new
  // spec, or attaching zone maps as in ax_manifest_prune). The
  // emitted accounting pins exactly that: v2 reads 1 of K
  // directories, v1 reads all its files, and the union equals the
  // logical table — layouts are physical, answers are not.
  // -------------------------------------------------------------------
  private def partitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val base = FixtureCache.layout(spark, "events_part_evo", dir,
        Seq("events.parquet")) { base =>
      val ev = graft.Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .repartition(2) // v1 commit: the pre-evolution unpartitioned layout
        .write.mode("overwrite").parquet(s"$base/v1")
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .repartition(col("event_type"))
        .write.mode("overwrite").partitionBy("event_type")
        .parquet(s"$base/v2")
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val v1 = spark.read.parquet(s"$base/v1")
    val v1Files = v1.select(input_file_name()).distinct().count()
    val v2Parts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/v2"))
      .count(s => s.isDirectory && s.getPath.getName.startsWith("event_type="))
    // per-layout planning: v1 full scan + residual filter; v2 reads
    // exactly the one matching directory (no other v2 file is opened)
    val a1 = v1.filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n1"), sum(col("cents")).as("c1"))
    val a2 = spark.read.parquet(s"$base/v2/event_type=purchase")
      .agg(count(lit(1)).as("n2"), sum(col("cents")).as("c2"))
    a1.crossJoin(a2).select(
      lit(v1Files).as("n_v1_files_read"),
      lit(v2Parts.toLong).as("n_v2_parts_total"),
      lit(1L).as("n_v2_parts_read"),
      (col("n1") + col("n2")).as("n_events"),
      (col("c1") + col("c2")).as("sum_cents"))
  }

  private val partitionEvolutionSql =
    """SELECT CAST(2 AS BIGINT) AS n_v1_files_read,
      |  (SELECT COUNT(DISTINCT event_type) FROM events
      |   WHERE event_id % 2 = 1) AS n_v2_parts_total,
      |  CAST(1 AS BIGINT) AS n_v2_parts_read,
      |  (SELECT COUNT(*) FROM events WHERE event_type = 'purchase')
      |    AS n_events,
      |  (SELECT CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |   FROM events WHERE event_type = 'purchase') AS sum_cents""".stripMargin

  // -------------------------------------------------------------------
  // ax_schema_evolution: the lake's schema-evolution path — a table
  // whose early files lack a column later files carry. Generation 1
  // (even event ids) is written WITHOUT event_type; generation 2 (odd
  // ids) adds it. `mergeSchema` unions the footers at read time and
  // null-fills the missing column in old files — no rewrite of
  // petabytes of history to add a column, which is the entire point.
  // (mergeSchema is opt-in because footer-merging every file costs a
  // planning pass; production lakes pin the merged schema in a
  // catalog.) The aggregate groups on the evolved column with old rows
  // surfacing as 'legacy'; the oracle replays the generation split.
  // -------------------------------------------------------------------
  private def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val path = s"target/schema_evo/$tag"
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"), col("event_type"))
    ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .drop("event_type") // generation 1: the column does not exist yet
      .write.mode("overwrite").parquet(path)
    ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .write.mode("append").parquet(path)
    spark.read.option("mergeSchema", "true").parquet(path)
      .groupBy(coalesce(col("event_type"), lit("legacy")).as("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy("event_type")
  }

  private val schemaEvolutionSql =
    """SELECT CASE WHEN event_id % 2 = 0 THEN 'legacy' ELSE event_type END
      |    AS event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_corrupt_ingest: malformed-record QUARANTINE — real feeds carry
  // broken lines, and at 100 TB the wrong answers are both "crash the
  // job" (FAILFAST) and "silently drop" (DROPMALFORMED). PERMISSIVE
  // mode with columnNameOfCorruptRecord keeps every line: parseable
  // fields populate, broken lines land intact in the corrupt column
  // for quarantine/replay, and the audit counts both populations in
  // one pass. The fixture manufactures the corruption deterministically
  // (odd event ids become truncated JSON) so the oracle replays the
  // split from the source table; it is written once per events
  // generation and corruption scheme as a FixtureCache.layout — the
  // query's cost is the PERMISSIVE scan, not fixture write
  // amplification.
  // -------------------------------------------------------------------
  private def corruptIngest(spark: SparkSession, dir: String): DataFrame = {
    val path = FixtureCache.layout(spark, "corrupt_json", dir,
        Seq("events.parquet"), "scheme" -> "odd-truncated-json;cents") { path =>
      graft.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .select(
          when(pmod(col("event_id"), lit(2)) === 0,
            to_json(struct(col("event_id"), col("user_id"), col("cents"))))
            .otherwise(concat(lit("{\"event_id\": "), col("event_id"),
              lit(", BROKEN"))).as("value"))
        .write.mode("overwrite").text(path)
    }
    spark.read
      .schema("event_id BIGINT, user_id BIGINT, cents BIGINT, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_quarantined"),
        sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_parsed"),
        sum(when(col("_corrupt").isNull, col("cents"))).as("parsed_cents_sum"))
  }

  private val corruptIngestSql =
    """SELECT COUNT(*) AS n_lines,
      |  CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_quarantined,
      |  CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_parsed,
      |  CAST(SUM(CASE WHEN event_id % 2 = 0
      |           THEN CAST(round(value*100) AS BIGINT) END) AS BIGINT)
      |    AS parsed_cents_sum
      |FROM events""".stripMargin

  // -------------------------------------------------------------------
  // ax_ntile_bins: EQUAL-FREQUENCY DISCRETIZATION — the feature-
  // engineering step that turns a continuous column into decile labels
  // (per event type), the input shape for monotone-binned features and
  // per-bin calibration tables. `ntile(10)` over a TOTAL order (value
  // cents, event_id tiebreak — determinism requires the unique key, or
  // same-value rows straddling a boundary bin arbitrarily) costs ONE
  // exchange keyed on event_type; the emitted audit is the per-bin
  // count + [min, max] boundary table a serving system would ship. At
  // 100 TB the per-key window sorts within partitions after one
  // keyed exchange — no global sort; skewed single-key corpora would
  // switch to approx-quantile boundaries (ax_approx_quantiles) instead
  // of exact ntile.
  // -------------------------------------------------------------------
  private def ntileBins(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("u"))
      .withColumn("bin", ntile(10).over(
        Window.partitionBy("event_type").orderBy(col("u"), col("event_id")))
        .cast("long"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"), min(col("u")).as("min_v"),
        max(col("u")).as("max_v"))
      .orderBy("event_type", "bin")
  }

  private val ntileBinsSql =
    """SELECT event_type, CAST(bin AS BIGINT) AS bin, COUNT(*) AS n,
      |  MIN(u) AS min_v, MAX(u) AS max_v
      |FROM (SELECT event_type,
      |        CAST(round(value*100) AS BIGINT) AS u,
      |        NTILE(10) OVER (PARTITION BY event_type
      |          ORDER BY CAST(round(value*100) AS BIGINT), event_id) AS bin
      |      FROM events) t
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // ax_ntile_approx: the AT-SCALE twin of ax_ntile_bins. Exact ntile
  // partitioned by a low-cardinality key sends every key's entire row
  // set through ONE reducer's sort — a scale-killer when a key holds
  // 10 TB. This formulation never sorts and never windows: decile cut
  // points come from a MERGEABLE quantile sketch (approx_percentile —
  // map-side partials, one tiny row per key), the 9-boundary arrays
  // broadcast onto the corpus, and bin assignment is a per-row array
  // rank (# boundaries < u). Cost: one scan + one (key, bin) keyed
  // exchange of COUNTS. The sketch makes per-bin counts approximate,
  // so the gate is the dd_approx_users tolerance pattern: emit the
  // exact oracle-reproducible per-key row count plus approx_ok =
  // (all 10 bins materialized AND max-min bin spread ≤ 10% of the key's
  // rows — sketch accuracy 1e-4 keeps the real spread far below that);
  // the oracle asserts the literal 1.
  // -------------------------------------------------------------------
  private def ntileApprox(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("u"))
    val bnds = ev.groupBy("event_type")
      .agg(expr("approx_percentile(u, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 10000)")
        .as("bnds"))
    ev.join(broadcast(bnds), "event_type")
      .withColumn("bin", (size(filter(col("bnds"), b => b < col("u"))) + 1))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_rows"), count(lit(1)).as("n_bins"),
        max(col("n")).as("max_n"), min(col("n")).as("min_n"))
      .select(col("event_type"), col("n_rows"),
        (col("n_bins") === 10 &&
          (col("max_n") - col("min_n")) <= col("n_rows") * 0.1)
          .cast("long").as("approx_ok"))
      .orderBy("event_type")
  }

  private val ntileApproxSql =
    """SELECT event_type, COUNT(*) AS n_rows, CAST(1 AS BIGINT) AS approx_ok
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** The approx-binning frame, exposed for PlanShapeSpec: the plan must
    * contain NO window operator (the exact twin's per-key ntile sort is
    * precisely what this path exists to avoid) and the boundary attach
    * must broadcast.
    */
  private[graft] def ntileApproxFrame(spark: SparkSession, dir: String): DataFrame =
    ntileApprox(spark, dir)

  // -------------------------------------------------------------------
  // ax_ewma_smooth: exponentially-weighted moving average over the
  // daily per-type revenue series — the standard smoothing primitive
  // for monitoring/forecasting pipelines. Two scale decisions:
  //
  //   1. EXACT INTEGERS, not floating point. With α = 1/5 the weight of
  //      lag j is 4^j/5^(j+1); truncating to a W = 12-day window and
  //      scaling by 5^12 makes every weight the exact BIGINT
  //      4^j·5^(11-j), so `ewma_scaled = Σ w_j·x_{d-j}` is
  //      order-independent and bit-identical across engines (a naive
  //      double recurrence is neither). True EWMA = ewma_scaled/5^12.
  //      (The tail beyond 12 lags carries (4/5)^12 ≈ 6.9% of the mass —
  //      the truncation is the documented semantics, not an error.)
  //   2. NO per-key ordered window and NO range join on the
  //      low-cardinality event_type key. The fact table collapses to
  //      the calendar-bounded daily aggregate first (one shuffle,
  //      map-side partials); the rolling weighted sum is then an
  //      EXPLODE-TO-ANCHOR equi-join: each daily row fans out to the 12
  //      anchor days it contributes to (crossJoin with the broadcast
  //      12-row weight table — a map-side flatMap), and a hash
  //      aggregate on (event_type, anchor_day) — a high-cardinality
  //      key — sums the weighted contributions. The final inner join
  //      back to `daily` keeps only anchors that are real data days and
  //      attaches the unsmoothed value. At 100 TB the only
  //      data-proportional stage is the first aggregate; everything
  //      after is calendar-sized.
  // -------------------------------------------------------------------
  private val EwmaW = 12
  /** lag-j weight scaled by 5^12: 4^j·5^(11-j), exact in Long. */
  private val ewmaWeights: Seq[(Int, Long)] =
    Seq.tabulate(EwmaW) { j =>
      j -> (math.pow(4, j) * math.pow(5, EwmaW - 1 - j)).toLong
    }

  private def ewmaSmooth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x_cents"))
    val w = broadcast(ewmaWeights.toDF("lag", "w"))
    val contrib = daily.crossJoin(w)
      .select(col("event_type"),
        date_add(col("day"), col("lag")).as("anchor"),
        (col("x_cents") * col("w")).as("wx"))
    val g = contrib.groupBy(col("event_type"), col("anchor"))
      .agg(sum(col("wx")).as("ewma_scaled"),
        count(lit(1)).as("lags_present"))
      .withColumnRenamed("event_type", "g_type")
    g.join(daily,
        col("g_type") === col("event_type") && col("anchor") === col("day"))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("x_cents"), col("ewma_scaled"), col("lags_present"))
      .orderBy("event_type", "day")
  }

  private val ewmaSmoothSql = {
    val values = ewmaWeights
      .map { case (j, w) => s"($j, ${w}::BIGINT)" }.mkString(", ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS x_cents
       |  FROM events GROUP BY 1, 2),
       |w(lag, w) AS (VALUES $values),
       |contrib AS (
       |  SELECT d.event_type, d.day + w.lag AS anchor, d.x_cents * w.w AS wx
       |  FROM daily d, w),
       |g AS (
       |  SELECT event_type, anchor,
       |    CAST(SUM(wx) AS BIGINT) AS ewma_scaled,
       |    COUNT(*) AS lags_present
       |  FROM contrib GROUP BY 1, 2)
       |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
       |  d.x_cents, g.ewma_scaled, g.lags_present
       |FROM g JOIN daily d ON g.event_type = d.event_type AND g.anchor = d.day
       |ORDER BY 1, 2""".stripMargin
  }

  // -------------------------------------------------------------------
  // ax_occ_commits: OPTIMISTIC-CONCURRENCY COMMIT VALIDATION — the
  // write-side rule the table-format family (manifest prune/bloom,
  // time travel, vacuum, partition evolution) was missing: given
  // prospective commits all based on the SAME snapshot of the bucketed
  // layout, classify each pair as safe-to-rebase vs conflicting from
  // MANIFEST ROWS ONLY (the Iceberg validation semantics — nobody
  // reads data to decide a commit). The law: two commits conflict iff
  // their delete sets intersect, where a compaction's delete set is
  // its rewritten inputs — which makes delete-vs-compaction-of-the-
  // same-files a conflict, append-vs-anything safe, and disjoint
  // deletes safely rebasable. Five prospective commits span the
  // classes (two purges, two compactions, one append), their bucket
  // ranges SF-proportional off the max bucket id; the ten pair
  // dispositions are the emitted table. Driver-side cost: one
  // directory listing (the manifest) — O(files) KBs at any table
  // size, the ax_vacuum_plan discipline. The oracle replays the
  // classification from the bucket definition.
  // -------------------------------------------------------------------
  /** the manifest: bucket ids from the layout's partition directories */
  private def occBuckets(path: String): Seq[Long] =
    Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toLong).sorted.toSeq

  /** the five prospective commits spanning the OCC classes, bucket
    * ranges SF-proportional off the max bucket id (shared by the
    * classification gate and the rebase executor — one source of truth)
    */
  private def occCommitDefs(
      buckets: Seq[Long]): Seq[(String, String, Set[Long])] = {
    val bMax = buckets.max
    Seq(
      ("c1_purge_low", "delete",
        buckets.filter(_ <= bMax / 5).toSet),
      ("c2_compact_low", "rewrite",
        buckets.filter(_ <= bMax / 3).toSet),
      ("c3_append", "append", Set.empty[Long]),
      ("c4_purge_high", "delete",
        buckets.filter(_ >= bMax - bMax / 5).toSet),
      ("c5_compact_high", "rewrite",
        buckets.filter(_ >= bMax - bMax / 3).toSet))
  }

  private def occCommits(spark: SparkSession, dir: String): DataFrame = {
    val path = bucketedEventsLayout(spark, dir)
    val buckets = occBuckets(path)
    val commits = occCommitDefs(buckets)
    val rows = for {
      (ca, opA, sa) <- commits
      (cb, opB, sb) <- commits
      if ca < cb
    } yield {
      val n = (sa & sb).size.toLong
      val disposition = if (n > 0) "conflict" else "rebase"
      val reason =
        if (n == 0 && (opA == "append" || opB == "append")) "append-only"
        else if (n == 0) "disjoint-deletes"
        else if (opA == "rewrite" || opB == "rewrite")
          "rewrite-overlaps-delete"
        else "overlapping-deletes"
      (ca, opA, cb, opB, n, disposition, reason)
    }
    import spark.implicits._
    rows.toDF("commit_a", "op_a", "commit_b", "op_b", "n_overlap",
        "disposition", "reason")
      .orderBy("commit_a", "commit_b")
  }

  private val occCommitsSql =
    """WITH b AS (SELECT DISTINCT user_id // 4 AS bk FROM events),
      |mx AS (SELECT MAX(bk) AS B FROM b),
      |sets AS (
      |  SELECT 'c1_purge_low' AS cid, bk FROM b, mx WHERE bk <= B // 5
      |  UNION ALL
      |  SELECT 'c2_compact_low', bk FROM b, mx WHERE bk <= B // 3
      |  UNION ALL
      |  SELECT 'c4_purge_high', bk FROM b, mx WHERE bk >= B - (B // 5)
      |  UNION ALL
      |  SELECT 'c5_compact_high', bk FROM b, mx WHERE bk >= B - (B // 3)),
      |ops AS (SELECT * FROM (VALUES
      |  ('c1_purge_low', 'delete'), ('c2_compact_low', 'rewrite'),
      |  ('c3_append', 'append'), ('c4_purge_high', 'delete'),
      |  ('c5_compact_high', 'rewrite')) AS t(cid, op)),
      |pairs AS (SELECT a.cid AS commit_a, a.op AS op_a,
      |    bb.cid AS commit_b, bb.op AS op_b
      |  FROM ops a JOIN ops bb ON a.cid < bb.cid),
      |ov AS (SELECT s1.cid AS ca, s2.cid AS cb, COUNT(*) AS n
      |  FROM sets s1 JOIN sets s2 ON s1.bk = s2.bk AND s1.cid < s2.cid
      |  GROUP BY 1, 2)
      |SELECT p.commit_a, p.op_a, p.commit_b, p.op_b,
      |  CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap,
      |  CASE WHEN COALESCE(ov.n, 0) > 0 THEN 'conflict'
      |       ELSE 'rebase' END AS disposition,
      |  CASE WHEN COALESCE(ov.n, 0) = 0
      |         AND (p.op_a = 'append' OR p.op_b = 'append')
      |         THEN 'append-only'
      |       WHEN COALESCE(ov.n, 0) = 0 THEN 'disjoint-deletes'
      |       WHEN p.op_a = 'rewrite' OR p.op_b = 'rewrite'
      |         THEN 'rewrite-overlaps-delete'
      |       ELSE 'overlapping-deletes' END AS reason
      |FROM pairs p LEFT JOIN ov
      |  ON ov.ca = p.commit_a AND ov.cb = p.commit_b
      |ORDER BY 1, 3""".stripMargin

  // -------------------------------------------------------------------
  // ax_occ_rebase: OCC REBASE EXECUTION — ax_occ_commits classifies;
  // this is the verb that APPLIES a safe schedule: validate every pair
  // (delete sets must be disjoint — the same law the classifier
  // emits), then rebase the commits onto each other in commit order
  // against the base manifest and MATERIALIZE the resulting manifest.
  // Because validation guarantees no commit touches files another
  // commit delete-claims, the rebased result is identical to serial
  // application — which is exactly what the oracle recomputes
  // independently from the bucket definition. A schedule containing a
  // conflicting pair must RAISE rather than rebase (LifecycleSpec pins
  // the raise and its message). Like the classifier, the whole verb is
  // O(manifest) driver-side — bucket ids from one directory listing,
  // never data.
  //
  // The applied schedule (c2_compact_low, c3_append, c4_purge_high)
  // exercises all three verbs: the low third compacts into one file,
  // an append lands past the max bucket, and the high band's original
  // files are purged — the compacted file's coverage is untouched by
  // the purge (disjointness is what the validation proved).
  // -------------------------------------------------------------------
  private[ops] def occRebaseApply(
      buckets: Seq[Long],
      defs: Seq[(String, String, Set[Long])],
      schedule: Seq[String]): Seq[(String, Long, Long, String)] = {
    val byId = defs.map(d => d._1 -> d).toMap
    val picked = schedule.map(byId)
    for {
      i <- picked.indices
      j <- (i + 1) until picked.size
    } {
      val (ca, _, sa) = picked(i)
      val (cb, _, sb) = picked(j)
      val ov = sa & sb
      if (ov.nonEmpty) throw new IllegalStateException(
        s"OCC rebase refused: $ca and $cb conflict on ${ov.size} " +
          "overlapping delete buckets")
    }
    val maxB = buckets.max
    var manifest: Vector[(String, Long, Long, String)] =
      buckets.sorted.map(b => (s"bucket=$b", b, b, "base")).toVector
    picked.foreach { case (cid, op, s) =>
      op match {
        case "delete" =>
          manifest = manifest.filterNot(e =>
            e._4 == "base" && s.contains(e._2))
        case "rewrite" =>
          manifest = manifest.filterNot(e =>
            e._4 == "base" && s.contains(e._2)) :+
            ((s"compact-$cid", s.min, s.max, cid))
        case "append" =>
          manifest = manifest :+ ((s"append-$cid", maxB + 1, maxB + 1, cid))
      }
    }
    manifest.sortBy(_._1)
  }

  private def occRebase(spark: SparkSession, dir: String): DataFrame = {
    val path = bucketedEventsLayout(spark, dir)
    val buckets = occBuckets(path)
    val rows = occRebaseApply(buckets, occCommitDefs(buckets),
      Seq("c2_compact_low", "c3_append", "c4_purge_high"))
    import spark.implicits._
    rows.toDF("file", "bucket_lo", "bucket_hi", "origin")
      .orderBy("file")
  }

  private val occRebaseSql =
    """WITH b AS (SELECT DISTINCT user_id // 4 AS bk FROM events),
      |mx AS (SELECT MAX(bk) AS B FROM b)
      |SELECT * FROM (
      |  SELECT 'bucket=' || CAST(bk AS VARCHAR) AS file,
      |    bk AS bucket_lo, bk AS bucket_hi, 'base' AS origin
      |  FROM b, mx
      |  WHERE NOT (bk <= B // 3) AND NOT (bk >= B - (B // 5))
      |  UNION ALL
      |  SELECT 'compact-c2_compact_low',
      |    CAST(MIN(bk) AS BIGINT), CAST(MAX(bk) AS BIGINT),
      |    'c2_compact_low'
      |  FROM b, mx WHERE bk <= B // 3
      |  UNION ALL
      |  SELECT 'append-c3_append', B + 1, B + 1, 'c3_append' FROM mx)
      |ORDER BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_occ_commits", occCommits, occCommitsSql),
    Gate("ax_occ_rebase", occRebase, occRebaseSql),
    Gate("ax_ewma_smooth", ewmaSmooth, ewmaSmoothSql),
    Gate("ax_ntile_bins", ntileBins, ntileBinsSql),
    Gate("ax_ntile_approx", ntileApprox, ntileApproxSql),
    Gate("ax_corrupt_ingest", corruptIngest, corruptIngestSql),
    Gate("ax_schema_evolution", schemaEvolution, schemaEvolutionSql),
    Gate("ax_zorder_layout", zorderLayout, zorderLayoutSql),
    Gate("ax_sorted_layout", sortedLayout, sortedLayoutSql),
    Gate("ax_rle_advisor", rleAdvisor, rleAdvisorSql),
    Gate("ax_partitioned_write", partitionedWrite, partitionedWriteSql),
    Gate("ax_user_journey", userJourney, userJourneySql),
    Gate("ax_markov_events", markovEvents, markovEventsSql),
    Gate("ax_event_motifs", eventMotifs, eventMotifsSql),
    Gate("ax_props_json", propsJson, propsJsonSql),
    Gate("ax_props_variant", propsVariant, propsVariantSql),
    Gate("ax_manifest_prune", manifestPrune, manifestPruneSql),
    Gate("ax_manifest_bloom", manifestBloom, manifestBloomSql),
    Gate("ax_partition_evolution", partitionEvolution, partitionEvolutionSql),
    Gate("ax_interval_errors", intervalErrors, intervalErrorsSql),
    Gate("ax_jsonl_roundtrip", jsonlRoundtrip, jsonlRoundtripSql),
    Gate("ax_csv_roundtrip", csvRoundtrip, csvRoundtripSql),
    Gate("ax_orc_roundtrip", orcRoundtrip, orcRoundtripSql),
    Gate("ax_xml_roundtrip", xmlRoundtrip, xmlRoundtripSql)
  )
}
