package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** Table-lifecycle operators: the jobs that keep a 100 TB lake usable
  * over time — small-file compaction, versioned (time-travel) reads off
  * a commit manifest, and the deterministic export paths a training
  * pipeline needs (hash-sharded dataset export, seeded global shuffle).
  *
  * Everything here gates through the same oracle discipline as
  * [[Maintenance]]: content is fingerprinted with [[PortableHash]]
  * (order-insensitive XOR + modular-sum combiners) so layout changes
  * are provably content-preserving, and every derived dataset is
  * replayed by the DuckDB oracle from the source tables with exact
  * integer arithmetic.
  */
object Lifecycle {

  private def ordersKc(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))

  private val ordersKcSql =
    "SELECT o_orderkey AS k, CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders"

  private val ChecksumMod = 1000000007L

  /** count the data files of a parquet directory (driver-side metadata
    * listing — the same information a catalog/manifest serves for free)
    */
  private def parquetFileCount(path: String): Long =
    Option(new java.io.File(path).listFiles())
      .map(_.count(_.getName.endsWith(".parquet")).toLong).getOrElse(0L)

  // -------------------------------------------------------------------
  // ax_compact_files: SMALL-FILE COMPACTION — the lake-maintenance job
  // that undoes ingest fragmentation (streaming sinks and per-executor
  // writers emit a file per task per trigger; at 100 TB a fragmented
  // table spends longer on task scheduling + footer reads than on row
  // decoding). The job is read → repartition(target) → rewrite; the
  // invariant that makes it safe to run blindly is gated here: the
  // order-insensitive content fingerprint of the compacted layout must
  // equal the oracle's fingerprint of the SOURCE rows (content
  // unchanged), while the file count drops 64 → 4 (both counts are
  // deterministic: round-robin repartition writes exactly one file per
  // partition). At scale the rewrite is embarrassingly parallel and
  // incremental compactors pick only the partitions whose small-file
  // count crosses a threshold — the fingerprint contract is identical.
  // -------------------------------------------------------------------
  private val FragFiles = 64
  private val CompactTarget = 4

  private def fragmentedPath(spark: SparkSession, dir: String): String =
    FixtureCache.layout(spark, "compact_frag", dir, Seq("orders.parquet"),
        "files" -> FragFiles) { path =>
      ordersKc(spark, dir).repartition(FragFiles)
        .write.mode("overwrite").parquet(path)
    }

  private def compactFiles(spark: SparkSession, dir: String): DataFrame = {
    val frag = fragmentedPath(spark, dir)
    val comp = FixtureCache.layout(spark, "compact_out", dir, Seq(frag),
        "files" -> FragFiles, "target" -> CompactTarget) { comp =>
      spark.read.parquet(frag).repartition(CompactTarget)
        .write.mode("overwrite").parquet(comp)
    }
    val h = PortableHash.hashCol(concat_ws("|", col("k"), col("cents")))
    spark.read.parquet(comp)
      .select(h.as("h"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_fp"),
        sum(pmod(col("h"), lit(ChecksumMod))).as("sum_fp"))
      .select(lit(parquetFileCount(frag)).as("n_files_before"),
        lit(parquetFileCount(comp)).as("n_files_after"),
        col("n_rows"), col("xor_fp"), col("sum_fp"))
  }

  private val compactFilesSql = {
    val hh = PortableHash.hashSql(
      "CAST(k AS VARCHAR) || '|' || CAST(cents AS VARCHAR)")
    s"""WITH base AS ($ordersKcSql)
       |SELECT CAST($FragFiles AS BIGINT) AS n_files_before,
       |  CAST($CompactTarget AS BIGINT) AS n_files_after,
       |  COUNT(*) AS n_rows,
       |  bit_xor(hh) AS xor_fp,
       |  CAST(SUM(hh % $ChecksumMod) AS BIGINT) AS sum_fp
       |FROM (SELECT $hh AS hh FROM base) t""".stripMargin
  }

  // -------------------------------------------------------------------
  // ax_time_travel: VERSIONED READS off a commit manifest — the
  // Delta/Iceberg time-travel contract restated relationally. The
  // fixture table log holds v1 (a full base snapshot) and commit v2 as
  // a DELETION LIST plus an APPEND delta (an update is delete+append;
  // same merge-on-read layout as ax_mor_read), plus a tiny JSON
  // manifest naming each version's file sets. `asOf(v)` plans the read
  // for version v: base for v1; (base ANTI JOIN deletes) ∪ delta for
  // v2. The manifest is KBs at any table size (it lists file sets, not
  // rows) so reading it driver-side is exactly what every table format
  // does; the deletion list is bounded by churn, so it broadcasts and
  // the base files are never rewritten or shuffled. The gate emits the
  // (row count, content checksum) audit of BOTH versions read from the
  // same log — the oracle replays each from `orders` with the same
  // integer change rules (delete k%83, update k%91 at +3 cents, insert
  // k+max(k) at k%101 — exact at any SF).
  // -------------------------------------------------------------------
  private[ops] def tableLogPath(spark: SparkSession, dir: String): String =
    FixtureCache.layout(spark, "tlog", dir, Seq("orders.parquet"),
        "del" -> 83, "upd" -> 91, "ins" -> 101, "cmp" -> 3) { path =>
      val base = ordersKc(spark, dir)
      base.write.mode("overwrite").parquet(s"$path/v1_base")
      base.filter(pmod(col("k"), lit(83)) === 0 || pmod(col("k"), lit(91)) === 0)
        .select(col("k"))
        .write.mode("overwrite").parquet(s"$path/v2_del")
      val maxKey = base.agg(max(col("k")).as("mxk"))
      base.filter(pmod(col("k"), lit(91)) === 0)
        .select(col("k"), (col("cents") + 3).as("cents"))
        .unionAll(base.filter(pmod(col("k"), lit(101)) === 0)
          .crossJoin(broadcast(maxKey))
          .select((col("k") + col("mxk")).as("k"), lit(77L).as("cents")))
        .write.mode("overwrite").parquet(s"$path/v2_delta")
      // v3: a COMPACTION commit — the merge-on-read v2 state rewritten
      // as one consolidated base, superseding v1_base/v2_del/v2_delta.
      // Same change rules as the v2 read path; gives the vacuum planner
      // a real expiration frontier.
      base.filter(pmod(col("k"), lit(83)) =!= 0 && pmod(col("k"), lit(91)) =!= 0)
        .unionAll(base.filter(pmod(col("k"), lit(91)) === 0)
          .select(col("k"), (col("cents") + 3).as("cents")))
        .unionAll(base.filter(pmod(col("k"), lit(101)) === 0)
          .crossJoin(broadcast(maxKey))
          .select((col("k") + col("mxk")).as("k"), lit(77L).as("cents")))
        .write.mode("overwrite").parquet(s"$path/v3_base")
      val manifest =
        """{"version": 1, "base": "v1_base", "deletes": null, "delta": null}
          |{"version": 2, "base": "v1_base", "deletes": "v2_del", "delta": "v2_delta"}
          |{"version": 3, "base": "v3_base", "deletes": null, "delta": null}
          |""".stripMargin
      java.nio.file.Files.write(
        new java.io.File(path, "manifest.json").toPath,
        manifest.getBytes("UTF-8"))
    }

  /** plan the read of one version from the manifest row */
  private[ops] def asOf(spark: SparkSession, log: String,
      version: Long): DataFrame = {
    val commits = spark.read.json(s"$log/manifest.json")
      .filter(col("version") === version)
      .select("base", "deletes", "delta")
      .collect() // bounded by version count — manifest rows, never data
    require(commits.length == 1, s"unknown version $version")
    val c = commits(0)
    val base = spark.read.parquet(s"$log/${c.getString(0)}")
    val afterDeletes =
      if (c.isNullAt(1)) base
      else base.join(
        broadcast(spark.read.parquet(s"$log/${c.getString(1)}")
          .select(col("k").as("dk"))),
        col("k") === col("dk"), "left_anti")
        .select(col("k"), col("cents"))
    if (c.isNullAt(2)) afterDeletes
    else afterDeletes.unionAll(spark.read.parquet(s"$log/${c.getString(2)}"))
  }

  private def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val log = tableLogPath(spark, dir)
    def audit(v: Long): DataFrame =
      asOf(spark, log, v).agg(
        count(lit(1)).as("n_rows"), sum(col("cents")).as("checksum_cents"))
        .select(lit(v).as("version"), col("n_rows"), col("checksum_cents"))
    audit(1L).unionAll(audit(2L)).orderBy("version")
  }

  private val timeTravelSql =
    s"""WITH base AS ($ordersKcSql),
       |v2 AS (
       |  SELECT k, cents FROM base WHERE k % 83 <> 0 AND k % 91 <> 0
       |  UNION ALL
       |  SELECT k, cents + 3 FROM base WHERE k % 91 = 0
       |  UNION ALL
       |  SELECT k + (SELECT MAX(k) FROM base), CAST(77 AS BIGINT)
       |  FROM base WHERE k % 101 = 0)
       |SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
       |  CAST(SUM(cents) AS BIGINT) AS checksum_cents FROM base
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), COUNT(*), CAST(SUM(cents) AS BIGINT) FROM v2
       |ORDER BY version""".stripMargin

  // -------------------------------------------------------------------
  // ax_vacuum_plan: SNAPSHOT EXPIRATION planning over the commit
  // manifest — the other half of the time-travel contract: which data
  // file sets may be physically deleted once only the latest version
  // is retained? A file set expires iff NO retained version references
  // it (v3's compaction superseded v1_base/v2_del/v2_delta here — the
  // expiration frontier a real vacuum walks). The reference census
  // runs driver-side over MANIFEST rows (KBs at any table size — the
  // same listing every table format's vacuum reads); the only
  // distributed work is the per-file-set row count, a metadata-cheap
  // parquet count per set. Nothing is deleted — the operator EMITS the
  // plan (dispositions + reclaimable row volume), which is how a
  // production vacuum should stage anyway (plan, audit, then execute).
  // -------------------------------------------------------------------
  private def vacuumPlan(spark: SparkSession, dir: String): DataFrame = {
    val log = tableLogPath(spark, dir)
    val manifest = spark.read.json(s"$log/manifest.json")
      .select("version", "base", "deletes", "delta")
      .collect() // bounded by version count — manifest rows, never data
    val retained = manifest.map(_.getLong(0)).max
    val refs: Seq[(String, Long)] = manifest.toSeq.flatMap { r =>
      Seq(1, 2, 3).flatMap(i =>
        if (r.isNullAt(i)) None else Some(r.getString(i) -> r.getLong(0)))
    }
    refs.groupBy(_._1).toSeq.sortBy(_._1).map { case (fs, rs) =>
      val kept = rs.count(_._2 == retained).toLong
      spark.read.parquet(s"$log/$fs")
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(fs).as("file_set"), col("n_rows"),
          lit(rs.size.toLong).as("refs_total"),
          lit(kept).as("refs_retained"),
          lit(if (kept > 0) "keep" else "expire").as("disposition"))
    }.reduce(_ unionAll _).orderBy("file_set")
  }

  private val vacuumPlanSql =
    s"""WITH base AS ($ordersKcSql),
       |c AS (SELECT
       |  (SELECT COUNT(*) FROM base) AS n_base,
       |  (SELECT COUNT(*) FROM base WHERE k % 83 = 0 OR k % 91 = 0) AS n_del,
       |  (SELECT COUNT(*) FROM base WHERE k % 91 = 0)
       |    + (SELECT COUNT(*) FROM base WHERE k % 101 = 0) AS n_delta)
       |SELECT 'v1_base' AS file_set, n_base AS n_rows,
       |  2::BIGINT AS refs_total, 0::BIGINT AS refs_retained,
       |  'expire' AS disposition FROM c
       |UNION ALL SELECT 'v2_del', n_del, 1, 0, 'expire' FROM c
       |UNION ALL SELECT 'v2_delta', n_delta, 1, 0, 'expire' FROM c
       |UNION ALL SELECT 'v3_base', n_base - n_del + n_delta, 1, 1, 'keep'
       |FROM c
       |ORDER BY file_set""".stripMargin

  // -------------------------------------------------------------------
  // tx_shard_export: DETERMINISTIC TRAINING-SHARD EXPORT — the last
  // hop of a curation pipeline: split the corpus into a fixed number
  // of shards by a salted portable hash of the document id (stable
  // across runs, engines, and cluster sizes — never round-robin, which
  // is partitioning-dependent), lay each shard out as its own
  // directory partition, and audit the export by reading it BACK
  // (per-shard doc count, char volume, and an order-insensitive
  // content fingerprint). `repartition(shard)` before the partitioned
  // write gives exactly one writer per shard → one file per shard
  // directory. At 100 TB the shard count scales with the training
  // reader fleet and the same hash assigns any late-arriving document
  // to the same shard — the export is reproducible byte-for-byte.
  // -------------------------------------------------------------------
  private val Shards = 16
  private val ShardSalt = "shard7|"

  private[ops] def shardExportPath(spark: SparkSession, dir: String): String =
    FixtureCache.layout(spark, "shard_export", dir, Seq("documents.parquet"),
        "shards" -> Shards, "salt" -> ShardSalt) { path =>
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars"),
          pmod(PortableHash.hashCol(concat(lit(ShardSalt), col("doc_id"))),
            lit(Shards.toLong)).as("shard"))
        .repartition(Shards, col("shard"))
        .write.partitionBy("shard").mode("overwrite").parquet(path)
    }

  private def shardExport(spark: SparkSession, dir: String): DataFrame = {
    val h = PortableHash.hashCol(concat_ws("|", col("doc_id"), col("n_chars")))
    spark.read.parquet(shardExportPath(spark, dir))
      .select(col("shard").cast("long").as("shard"),
        col("n_chars"), h.as("h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        expr("bit_xor(h)").as("xor_fp"))
      .orderBy("shard")
  }

  private val shardExportSql = {
    val shard = PortableHash.hashSql(
      s"'$ShardSalt' || CAST(doc_id AS VARCHAR)") + s" % $Shards"
    val hh = PortableHash.hashSql(
      "CAST(doc_id AS VARCHAR) || '|' || CAST(n_chars AS VARCHAR)")
    s"""SELECT $shard AS shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  bit_xor($hh) AS xor_fp
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // -------------------------------------------------------------------
  // tx_global_shuffle: SEEDED DETERMINISTIC GLOBAL SHUFFLE — training
  // ingestion needs the corpus in a random-but-reproducible order
  // (same seed → same order on any cluster; a different seed → a
  // fresh permutation). The shuffle key is the salted portable hash of
  // the document id; the full export is then a range-partitioned sort
  // by (h, doc_id) — Spark's distributed sort, no driver involvement,
  // and writers emit shards already in shuffled order. The gate reads
  // the HEAD of the permutation (top-20 by key), which Spark plans as
  // TakeOrderedAndProject — per-partition heaps, no global sort ever
  // materializes for the audit.
  // -------------------------------------------------------------------
  private val ShuffleSeed = "seed42|"

  private def globalShuffle(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        PortableHash.hashCol(concat(lit(ShuffleSeed), col("doc_id"))).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(20) // TakeOrderedAndProject; rank the 20-row result
      .withColumn("rank",
        row_number().over(Window.orderBy(col("h"), col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("h"))
  }

  private val globalShuffleSql = {
    val hh = PortableHash.hashSql(s"'$ShuffleSeed' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (SELECT doc_id, $hh AS h FROM documents),
       |r AS (SELECT doc_id, h,
       |        row_number() OVER (ORDER BY h, doc_id) AS rank FROM d)
       |SELECT CAST(rank AS BIGINT) AS rank, doc_id, h
       |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin
  }

  // -------------------------------------------------------------------
  // tx_assign_ids: CONTIGUOUS GLOBAL ID ASSIGNMENT by a total order —
  // every curation pipeline ends by stamping documents with dense ids
  // (shard-stable sample indices, embedding-matrix row numbers). The
  // naive `row_number() OVER (ORDER BY ...)` with no partition is a
  // SINGLE-PARTITION global sort — one task sees the whole corpus, the
  // canonical 100 TB trap. The scale shape here is the classic
  // zipWithIndex decomposition, written declaratively:
  //   (1) range-repartition by the sort key (distributed sample-based
  //       boundaries, Spark's own Exchange rangepartitioning);
  //   (2) count rows per range partition — a P-row table;
  //   (3) prefix-sum those P rows into per-partition offsets (the only
  //       unpartitioned window in the plan runs over P rows, not data);
  //   (4) local row_number within each partition + broadcast offset =
  //       global id. Because range partitions hold disjoint ordered key
  //       ranges, offset + local rank IS the global rank — no step ever
  //       holds more than one partition, and the id is independent of
  //       where the sampled boundaries happened to land.
  // Oracle: the definitional single-window form DuckDB can afford.
  // -------------------------------------------------------------------
  private val IdParts = 8

  /** The range-partitioned, pid-stamped corpus is consumed TWICE per id
    * assignment (offset branch + data branch); persisting it per
    * (application, SF dir) means one scan and ONE range exchange feed
    * both — without this the corpus is scanned and range-shuffled twice
    * (persist preserves the exchange's partitioning; the session-cache
    * discipline of [[Dedup.shingleSubstrate]]).
    */
  private val rangedCache = SubstrateCache.frame("documents.parquet")

  private def rangedDocs(spark: SparkSession, dir: String): DataFrame =
    rangedCache.get(spark, dir) {
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"))
        .repartitionByRange(IdParts, col("source"), col("doc_id"))
        .withColumn("pid", spark_partition_id().cast("long"))
        .persist()
    }

  private def assignIds(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranged = rangedDocs(spark, dir)
    val offsets = ranged.groupBy("pid").agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(
        sum(col("n")).over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    val local = Window.partitionBy("pid").orderBy("source", "doc_id")
    ranged
      .withColumn("local", row_number().over(local).cast("long"))
      .join(broadcast(offsets), "pid") // P rows — bounded by design
      .select(col("doc_id"), col("source"),
        (col("offset") + col("local") - 1L).as("global_id"))
      .orderBy("doc_id")
  }

  private val assignIdsSql =
    """SELECT doc_id, source,
      |  CAST(row_number() OVER (ORDER BY source, doc_id) - 1 AS BIGINT)
      |    AS global_id
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // tx_weighted_sample: weighted sampling without replacement by
  // SEQUENTIAL POISSON SAMPLING (Ohlsson '98; order-equivalent to
  // Duffield–Lund–Thorup priority sampling): every unit gets the
  // priority ξ_i = u_i / w_i and the sample is the n smallest
  // priorities — inclusion probability ≈ proportional to weight
  // (n_chars here: longer documents proportionally likelier, the
  // standard size-weighted corpus subsample).
  //
  // Determinism discipline: u_i is the portable 60-bit hash of the
  // salted doc id — no RNG state, any engine recomputes the identical
  // sample — and the priority is the INTEGER quotient h div w rather
  // than a float u/w, so cross-engine float division can never reorder
  // near-ties (both engines truncate non-negative integer division
  // identically; the quotient keeps ~10^14 resolution at w ≈ 10^4).
  //
  // Scale shape: one codegen'd projection, then orderBy+limit plans as
  // TakeOrderedAndProject — per-partition n-element heaps and a single
  // driver merge of P·n rows. No global sort, no shuffle of the
  // corpus; the classic distributed-top-n shape, which is exactly why
  // the priority-order formulation (vs per-unit Poisson trials with a
  // calibrated threshold) is the one that survives 100 TB.
  // -------------------------------------------------------------------
  private val WSampleN = 200
  private val WSampleSalt = "wsamp1|"

  private def weightedSample(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (PortableHash.hashCol(concat(lit(WSampleSalt), col("doc_id")))
          .cast("long")).as("h"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        expr("h div greatest(n_chars, 1)").as("pri"))
      .orderBy(col("pri").asc, col("doc_id").asc)
      .limit(WSampleN)

  private val weightedSampleSql = {
    val h = PortableHash.hashSql(s"'$WSampleSalt' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, lang, n_chars,
       |  $h // GREATEST(n_chars, 1) AS pri
       |FROM documents
       |ORDER BY pri ASC, doc_id ASC LIMIT $WSampleN""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("tx_weighted_sample", weightedSample, weightedSampleSql),
    Gate("ax_vacuum_plan", vacuumPlan, vacuumPlanSql),
    Gate("ax_compact_files", compactFiles, compactFilesSql),
    Gate("ax_time_travel", timeTravel, timeTravelSql),
    Gate("tx_shard_export", shardExport, shardExportSql),
    Gate("tx_global_shuffle", globalShuffle, globalShuffleSql),
    Gate("tx_assign_ids", assignIds, assignIdsSql)
  )
}
