package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Gate queries for the custom DataSource V2 connector
  * (graft.sources.GraftLines) — the source must not merely parse, it
  * must PRUNE and PUSH: the gate reads the documents-metadata TSV
  * fixture through the full connector stack with a filter and a
  * two-column projection, and the oracle computes the same answer from
  * the original parquet — so a parsing, pruning, pushdown, or
  * partitioning bug lands as a value mismatch, and Dsv2SourceSpec pins
  * the plan-visible contracts (pushed filters in the scan description,
  * pruned ReadSchema, one partition per part file).
  */
object Dsv2Source {

  /** documents metadata as multi-file TSV, written once per documents
    * generation
    */
  def tsvFixturePath(spark: SparkSession, dir: String): String =
    FixtureCache.layout(spark, "dsv2_lines", dir, Seq("documents.parquet"),
        "v" -> 1) { path =>
      spark.read.parquet(s"$dir/documents.parquet")
        .select(concat_ws("\t",
          col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .as("value"))
        .repartition(4)
        .write.mode("overwrite").text(path)
    }

  def linesRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.format(classOf[graft.sources.GraftLines].getName)
      .option("path", tsvFixturePath(spark, dir))
      .load()

  // -------------------------------------------------------------------
  // ax_dsv2_pushdown: filtered, projected aggregate through the
  // connector. The lang equality and the n_chars band are pushed into
  // the partition readers (rows die before materialization), the
  // projection prunes to the three referenced columns, and the four
  // part files scan as four input partitions. Oracle = the same
  // aggregate over the original parquet table.
  // -------------------------------------------------------------------
  private def dsv2Pushdown(spark: SparkSession, dir: String): DataFrame =
    linesRead(spark, dir)
      .filter(col("lang") === "en" && col("n_chars") >= 200L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source").asc)

  private[ops] val dsv2PushdownSql =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE lang = 'en' AND n_chars >= 200
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_dsv2_roundtrip: the connector's WRITE side — documents metadata
  // written through the two-phase-commit sink (tasks stage hidden
  // files; only the driver's commit renames them visible, so failed or
  // speculative tasks can never surface a partial file), then read
  // back through the connector's scan and aggregated. The write runs
  // EVERY execution (overwrite = SupportsTruncate), so a commit-
  // protocol regression lands as a gate failure, not a stale fixture.
  // Oracle = the same aggregate over the original parquet.
  // -------------------------------------------------------------------
  private def dsv2Roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName.replace('.', '_')
    val out = new java.io.File(s"target/dsv2_write/$tag").getAbsolutePath
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartition(4)
      .write.format(classOf[graft.sources.GraftLines].getName)
      .option("path", out)
      .mode("overwrite")
      .save()
    spark.read.format(classOf[graft.sources.GraftLines].getName)
      .option("path", out)
      .load()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang").asc)
  }

  private val dsv2RoundtripSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_dsv2_join: the connector as a JOIN side with no hint anywhere —
  // the honest SupportsReportStatistics sizing is what lets Catalyst
  // elect the connector side for broadcast (without it a V2 relation
  // prices at defaultSizeInBytes and every join over the source pays a
  // shuffle). The metadata TSV joins back to the documents parquet on
  // doc_id and aggregates a parquet-side measure per connector-side
  // key; Dsv2SourceSpec pins that the executed plan broadcasts the
  // GraftLines scan, hint-free. At 100 TB: dims served through custom
  // connectors still broadcast into fact scans — the sizing contract is
  // what makes a source a first-class citizen of join planning.
  // -------------------------------------------------------------------
  private def dsv2Join(spark: SparkSession, dir: String): DataFrame = {
    val meta = linesRead(spark, dir)
      .filter(col("n_chars") >= 100L)
      .select(col("doc_id"), col("lang"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("d_doc_id"), length(col("text")).as("n_text"))
    meta.join(docs, col("doc_id") === col("d_doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_text").cast("long")).as("sum_text"))
      .orderBy(col("lang").asc)
  }

  private val dsv2JoinSql =
    """SELECT m.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(length(d.text)) AS BIGINT) AS sum_text
      |FROM documents m JOIN documents d ON m.doc_id = d.doc_id
      |WHERE m.n_chars >= 100
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // st_dsv2_stream: the connector's STREAMING leg — the metadata TSV
  // read as a MicroBatchStream with byte-offset admission control (the
  // cap sizes to ~4 triggers at EVERY SF, so multi-batch increments are
  // the exercised path), aggregated statefully, memory sink. Offsets
  // are per-file consumed-byte positions under the same line-split
  // protocol as the batch scan, so any byte cut — including a cap cut
  // mid-line — reads each row exactly once across batches; the
  // checkpointed-restart replay is pinned in Dsv2SourceSpec. Oracle =
  // the same aggregate over the documents parquet.
  // -------------------------------------------------------------------
  private def dsv2Stream(spark: SparkSession, dir: String): DataFrame = {
    val path = tsvFixturePath(spark, dir)
    val total = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && f.length > 0)
      .map(_.length).sum
    val src = spark.readStream
      .format(classOf[graft.sources.GraftLines].getName)
      .option("path", path)
      .option("maxBytesPerTrigger", math.max(1L, total / 3).toString)
      .load()
    val agg = src.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    StreamingGate.runToTable(agg, "st_dsv2_stream_sink", "complete")(spark)
      .orderBy(col("lang").asc)
  }

  private val dsv2StreamSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_dsv2_dpp: RUNTIME FILTERING on the connector — the DPP analogue
  // the parquet path already gates (ax_dpp_prune). The fixture is the
  // documents metadata written THROUGH THE SINK range-partitioned by
  // doc_id, so the `_ranges.tsv` sidecar the commit wrote carries
  // disjoint per-file doc_id ranges; the query joins the connector
  // side to a selective dim slice (the lowest doc_id band), and the
  // scan's SupportsRuntimeFiltering leg prunes every file whose range
  // holds none of the surviving keys — at 100 TB the fact scan reads
  // the slice the dim joins, not the table. The oracle computes the
  // same aggregate from raw parquet, so over- OR under-pruning lands
  // as a hash mismatch; Dsv2SourceSpec pins that pruning actually
  // happened (files-planned probe + the plan's runtime filter).
  // -------------------------------------------------------------------
  def dppFixturePath(spark: SparkSession, dir: String): String =
    // v2: the sidecar carries row counts (aggregate pushdown needs them)
    FixtureCache.layout(spark, "dsv2_dpp", dir, Seq("documents.parquet"),
        "v" -> 2) { path =>
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartitionByRange(8, col("doc_id"))
        .write.format(classOf[graft.sources.GraftLines].getName)
        .option("path", path)
        .mode("overwrite")
        .save()
    }

  private def dsv2Dpp(spark: SparkSession, dir: String): DataFrame = {
    val path = dppFixturePath(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the dim slice: the lowest eighth of the doc_id space — a 1-row
    // driver agg (bounded metadata) keeps the cut deterministic and
    // SF-proportional; the oracle recomputes the identical floor
    val maxDoc = docs.agg(max(col("doc_id"))).head.getLong(0)
    val cut = (maxDoc + 1L) / 8L
    val fact = spark.read
      .format(classOf[graft.sources.GraftLines].getName)
      .option("path", path)
      .load()
    val dim = docs.filter(col("doc_id") < lit(cut))
      .select(col("doc_id").as("d_id"))
    // broadcast the DIM explicitly (the ax_dpp_prune convention): the
    // runtime filter is served from the reused dim broadcast, which
    // only exists if the dim — not the connector side — is the build
    // side (at tiny SFs Spark would otherwise happily broadcast the
    // fact and AQE would degrade the pruning filter to `true`)
    fact.join(broadcast(dim), col("doc_id") === col("d_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang").asc)
  }

  private val dsv2DppSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE doc_id < (SELECT (MAX(doc_id)+1)//8 FROM documents)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_dsv2_zonemap: STATIC zone-map pruning on the connector — the
  // other half of the footer contract ax_dsv2_dpp started: there the
  // pruning keys arrive at RUNTIME from a joined dim; here a plain
  // pushed `doc_id` range predicate (no join anywhere) is folded into
  // an interval and intersected with the `_ranges.tsv` sidecar BEFORE
  // planInputPartitions emits splits, so files provably outside the
  // range are never opened — exactly what parquet row-group min/max
  // gives a static filter. The fixture is range-partitioned by doc_id
  // (disjoint per-file ranges), so the lowest-quarter predicate must
  // plan ~2 of 8 files; Dsv2SourceSpec pins the planned-file drop and
  // the "no sidecar → no pruning" default. The oracle computes the
  // same aggregate from raw parquet, so over-pruning (missing rows)
  // lands as a hash mismatch.
  // -------------------------------------------------------------------
  private def dsv2Zonemap(spark: SparkSession, dir: String): DataFrame = {
    val path = dppFixturePath(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val maxDoc = docs.agg(max(col("doc_id"))).head.getLong(0)
    val cut = (maxDoc + 1L) / 4L
    spark.read
      .format(classOf[graft.sources.GraftLines].getName)
      .option("path", path)
      .load()
      .filter(col("doc_id") < lit(cut) && col("doc_id") >= lit(cut / 8L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang").asc)
  }

  private val dsv2ZonemapSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE doc_id < (SELECT (MAX(doc_id)+1)//4 FROM documents)
      |  AND doc_id >= (SELECT ((MAX(doc_id)+1)//4)//8 FROM documents)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // ax_dsv2_agg_push: AGGREGATE PUSHDOWN on the connector — the
  // metadata-only-query contract parquet footers give (`SELECT
  // count(*) FROM t` never scans data), completed for the custom
  // source: COUNT(*) / MIN(doc_id) / MAX(doc_id) with no grouping and
  // no predicates are answered from the `_ranges.tsv` sidecar ALONE
  // (the sink records per-file row counts at commit), ZERO file opens
  // — Dsv2SourceSpec pins files-planned == 0 and the PushedAggregation
  // marker in the scan description, plus the refusals: any predicate,
  // any grouping, any file without a full sidecar entry falls back to
  // the scan (stats prune work, never change answers). At 100 TB this
  // is the difference between a catalog lookup and a full-table scan
  // for the commonest audit query there is.
  // -------------------------------------------------------------------
  private def dsv2AggPush(spark: SparkSession, dir: String): DataFrame = {
    val path = dppFixturePath(spark, dir)
    spark.read
      .format(classOf[graft.sources.GraftLines].getName)
      .option("path", path)
      .load()
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
  }

  private val dsv2AggPushSql =
    """SELECT COUNT(*) AS n_docs,
      |  CAST(MIN(doc_id) AS BIGINT) AS min_id,
      |  CAST(MAX(doc_id) AS BIGINT) AS max_id
      |FROM documents""".stripMargin

  // -------------------------------------------------------------------
  // st_dsv2_sink: the connector's STREAMING WRITE leg — the metadata
  // stream (admission-capped to ~4 epochs at every SF) is written back
  // through the epoch-keyed 2PC sink under Trigger.AvailableNow, then
  // the SAME checkpoint is drained a second time (a restart): the
  // `_committed-<epoch>` markers and replay-stable published names must
  // make the second run add NOTHING — a duplicated or dropped epoch
  // lands as an oracle hash mismatch on the batch read-back. Both
  // sink directory and checkpoint are rebuilt every execution, so the
  // protocol itself is what passes, never stale state.
  // -------------------------------------------------------------------
  private def dsv2Sink(spark: SparkSession, dir: String): DataFrame = {
    val path = tsvFixturePath(spark, dir)
    val tag = new java.io.File(dir).getName.replace('.', '_')
    val outF = new java.io.File(s"target/dsv2_stream_sink/$tag")
    val cpF = new java.io.File(s"target/dsv2_stream_sink_cp/$tag")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(outF); rm(cpF)
    val total = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && f.length > 0)
      .map(_.length).sum
    def drain(): Unit = {
      val src = spark.readStream
        .format(classOf[graft.sources.GraftLines].getName)
        .option("path", path)
        .option("maxBytesPerTrigger", math.max(1L, total / 3).toString)
        .load()
        .filter(col("n_chars") >= 100L)
      val q = src.writeStream
        .format(classOf[graft.sources.GraftLines].getName)
        .option("path", outF.getAbsolutePath)
        .option("checkpointLocation", cpF.getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // the capped epochs publish exactly-once
    drain() // restart over the same checkpoint: must add nothing
    spark.read.format(classOf[graft.sources.GraftLines].getName)
      .option("path", outF.getAbsolutePath)
      .load()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang").asc)
  }

  private val dsv2SinkSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE n_chars >= 100
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("ax_dsv2_pushdown", dsv2Pushdown, dsv2PushdownSql),
    Gate("ax_dsv2_roundtrip", dsv2Roundtrip, dsv2RoundtripSql),
    Gate("ax_dsv2_join", dsv2Join, dsv2JoinSql),
    Gate("ax_dsv2_dpp", dsv2Dpp, dsv2DppSql),
    Gate("ax_dsv2_zonemap", dsv2Zonemap, dsv2ZonemapSql),
    Gate("ax_dsv2_agg_push", dsv2AggPush, dsv2AggPushSql),
    Gate("st_dsv2_stream", dsv2Stream, dsv2StreamSql),
    Gate("st_dsv2_sink", dsv2Sink, dsv2SinkSql)
  )
}
