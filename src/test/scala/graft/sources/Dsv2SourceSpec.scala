package graft.sources

import graft.{SparkEntry, SparkTestSession}
import graft.ops.Dsv2Source
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-visible contracts of the GraftLines DSv2 connector: predicates
  * must reach the readers, projections must prune the read schema,
  * partitioning must follow the part files, residual (unpushable)
  * predicates must stay with Catalyst, and the full read must agree
  * with the parquet original row for row.
  */
class Dsv2SourceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters are pushed and the read schema is pruned") {
    val p = planOf(SparkEntry.queries("ax_dsv2_pushdown")(spark, dir))
    assert(p.contains("PushedFilters: [EqualTo(lang,en), " +
      "GreaterThanOrEqual(n_chars,200)]"), s"filters not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<source:string,n_chars:bigint>"),
      s"projection not pruned to the referenced columns:\n$p")
  }

  test("one input partition per part file at the default split size") {
    val df = Dsv2Source.linesRead(spark, dir)
    assert(df.rdd.getNumPartitions == 4,
      "the 4-file fixture must scan as 4 partitions")
  }

  test("byte-range splits read every line exactly once") {
    // force many small ranges; the Hadoop line-split protocol (a range
    // owns every line that STARTS in it, first partial discarded) must
    // lose nothing and double nothing at the split boundaries
    val path = Dsv2Source.tsvFixturePath(spark, dir)
    val whole = Dsv2Source.linesRead(spark, dir)
    val split = spark.read
      .format(classOf[GraftLines].getName)
      .option("path", path)
      .option("splitBytes", "512")
      .load()
    assert(split.rdd.getNumPartitions > 8,
      "512-byte ranges must produce many partitions")
    val a = whole.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val b = split.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(a.length == b.length && a.sameElements(b),
      s"split read diverged: ${a.length} vs ${b.length} rows")
  }

  test("an unpushable predicate stays with Catalyst as a residual") {
    val df = Dsv2Source.linesRead(spark, dir)
      .filter(col("lang").startsWith("e")) // StringStartsWith: not accepted
    val p = planOf(df)
    assert(p.contains("PushedFilters: []") ||
      !p.contains("StringStartsWith"),
      s"StartsWith must not be claimed as pushed:\n$p")
    assert(p.contains("Filter"), s"residual filter node expected:\n$p")
  }

  test("the connector read equals the parquet original exactly") {
    val viaConnector = Dsv2Source.linesRead(spark, dir)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val viaParquet = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(viaConnector.length == viaParquet.length)
    assert(viaConnector.sameElements(viaParquet))
  }

  test("the write commit leaves no staging residue and overwrite truncates") {
    // run the roundtrip twice: the second overwrite must fully replace
    // the first (no doubled rows) and no _staging/.tmp files survive
    SparkEntry.queries("ax_dsv2_roundtrip")(spark, dir).collect()
    val rows = SparkEntry.queries("ax_dsv2_roundtrip")(spark, dir).collect()
    val total = rows.map(_.getLong(1)).sum
    val expect = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(total == expect, s"overwrite doubled or lost rows: $total")
    val tag = new java.io.File(dir).getName.replace('.', '_')
    val out = new java.io.File(s"target/dsv2_write/$tag")
    assert(!new java.io.File(out, "_staging").exists(),
      "staging dir must be cleaned by the driver commit")
    val stray = Option(out.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".tmp"))
    assert(stray.isEmpty, s"uncommitted temp files visible: ${stray.toSeq}")
  }

  test("a task abort deletes its staged file (the two-phase commit's other leg)") {
    val conf = new SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val stage = new java.io.File("target/dsv2_abort_stage").getAbsolutePath
    val w = new GraftLinesWriter(stage, 0, 42L, conf)
    w.write(org.apache.spark.sql.catalyst.InternalRow(
      1L, org.apache.spark.unsafe.types.UTF8String.fromString("en"),
      org.apache.spark.unsafe.types.UTF8String.fromString("web"), 10L))
    val staged = new java.io.File(s"$stage/part-0-42.tsv.tmp")
    assert(staged.exists(), "the writer must stage before commit")
    w.abort()
    assert(!staged.exists(), "abort must delete the staged file")
  }

  test("pushed string ranges use Spark's UTF-8 byte order, not UTF-16") {
    // U+1F600 (4-byte UTF-8: F0 9F 98 80) sorts ABOVE U+FFFF (EF BF BF)
    // in Spark's binary order but BELOW it in java.lang.String's UTF-16
    // code-unit order — and a fully-pushed filter gets no residual, so
    // a reader comparing with compareTo would silently drop the row
    val dirF = new java.io.File("target/dsv2_utf8")
    dirF.mkdirs()
    val f = new java.io.File(dirF, "part-utf8.tsv")
    val emoji = new String(Character.toChars(0x1F600))
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println(s"1\t$emoji\tweb\t10")
    w.println(s"2\t￿\tweb\t20")
    w.close()
    val df = spark.read.format(classOf[GraftLines].getName)
      .option("path", dirF.getAbsolutePath).load()
      .filter(col("lang") > "￿")
    val p = planOf(df)
    assert(p.contains("GreaterThan(lang,"), s"range not pushed:\n$p")
    val kept = df.collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(1L)),
      s"UTF-8 byte order keeps only the supplementary row; got ${kept.toSeq}")
  }

  test("a failed publish rename aborts the commit instead of dropping rows") {
    val conf = new SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val out = new java.io.File("target/dsv2_rename_fail")
    out.mkdirs()
    val bw = new GraftLinesBatchWrite(out.getAbsolutePath,
      truncate = false, conf)
    // force the rename-returns-FALSE path (probed: on the local FS a
    // rename whose destination is occupied by an incompatible entry
    // returns false rather than throwing): stage a DIRECTORY and squat
    // a plain file on its publish destination — before the fix the
    // commit would return success while silently dropping the payload
    val staging = new java.io.File(out, "_staging")
    val staged = new java.io.File(staging, "blocked.tsv.tmp")
    new java.io.File(staged, "payload").mkdirs()
    new java.io.PrintWriter(new java.io.File(staged, "payload/x"))
      .append("x").close()
    val squatter = new java.io.File(out, "blocked.tsv")
    new java.io.PrintWriter(squatter).append("old\n").close()
    val e = intercept[RuntimeException] {
      bw.commit(Array(GraftLinesCommit(staged.getAbsolutePath)))
    }
    assert(e.getMessage.contains("2PC publish failed"), e.getMessage)
  }

  test("reported statistics are the listed bytes, scaled by pruning") {
    val path = Dsv2Source.tsvFixturePath(spark, dir)
    val expectTotal = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && f.length > 0) // "." = FS checksum files
      .map(_.length).sum
    assert(expectTotal > 0, "fixture must have data files")
    val full = Dsv2Source.linesRead(spark, dir)
    val fullSize = full.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(fullSize == BigInt(expectTotal),
      s"full-schema stats $fullSize != listed bytes $expectTotal")
    // a two-column projection reports half the bytes (column-ratio scale)
    val pruned = full.select(col("doc_id"), col("lang"))
    val prunedSize = pruned.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(prunedSize < fullSize,
      s"pruned stats $prunedSize must shrink below $fullSize")
  }

  test("honest stats elect the connector side for broadcast, hint-free") {
    val p = planOf(SparkEntry.queries("ax_dsv2_join")(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"stats-driven broadcast election did not fire:\n$p")
    // the broadcast (build) side must be the connector scan, not parquet
    val exch = p.indexOf("BroadcastExchange")
    assert(exch >= 0, s"no broadcast exchange:\n$p")
    val after = p.substring(exch)
    val scanIdx = after.indexOf("GraftLines")
    val parquetIdx = after.indexOf("Scan parquet")
    assert(scanIdx >= 0 && (parquetIdx < 0 || scanIdx < parquetIdx),
      s"the broadcast side is not the GraftLines scan:\n$p")
  }

  test("the streaming leg is exactly-once across checkpointed restarts") {
    import scala.jdk.CollectionConverters._
    val path = Dsv2Source.tsvFixturePath(spark, dir)
    val total = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && f.length > 0)
      .map(_.length).sum
    val ckpt = new java.io.File(
      s"target/dsv2_stream_ckpt/${System.nanoTime()}").getAbsolutePath
    // one Trigger.Once run = one admission-capped micro-batch, then the
    // query STOPS; every rerun restores offsets from the checkpoint —
    // each iteration exercises deserializeOffset + the replay contract
    val byBatch = new java.util.concurrent.ConcurrentHashMap[
      java.lang.Long, Array[org.apache.spark.sql.Row]]()
    var runs = 0
    var drained = false
    while (!drained && runs < 12) {
      val q = spark.readStream
        .format(classOf[GraftLines].getName)
        .option("path", path)
        .option("maxBytesPerTrigger", math.max(1L, total / 3).toString)
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          byBatch.put(id, df.collect()); ()
        }
        .start()
      q.awaitTermination()
      runs += 1
      val sofar = byBatch.values.asScala.map(_.length).sum
      drained = sofar >= spark.read
        .format(classOf[GraftLines].getName)
        .option("path", path).load().count()
    }
    assert(runs >= 3, s"the byte cap must force multiple restarts; got $runs")
    val streamed = byBatch.values.asScala.flatten
      .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val batch = spark.read.format(classOf[GraftLines].getName)
      .option("path", path).load()
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(streamed.length == batch.length,
      s"exactly-once violated: ${streamed.length} streamed vs " +
        s"${batch.length} batch rows across $runs restarts")
    assert(streamed == batch, "streamed rows diverged from the batch read")
  }

  test("Trigger.AvailableNow drains in capped batches and terminates") {
    import scala.jdk.CollectionConverters._
    val path = Dsv2Source.tsvFixturePath(spark, dir)
    val total = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && f.length > 0)
      .map(_.length).sum
    val byBatch = new java.util.concurrent.ConcurrentHashMap[
      java.lang.Long, Long]()
    val q = spark.readStream
      .format(classOf[GraftLines].getName)
      .option("path", path)
      .option("maxBytesPerTrigger", math.max(1L, total / 3).toString)
      .load()
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        byBatch.put(id, df.count()); ()
      }
      .start()
    assert(q.awaitTermination(120000),
      "AvailableNow must terminate once the snapshot is consumed")
    assert(byBatch.size >= 3,
      s"the byte cap must split the drain into batches: ${byBatch.asScala}")
    val streamed = byBatch.values.asScala.map(_.toLong).sum
    val batch = spark.read.format(classOf[GraftLines].getName)
      .option("path", path).load().count()
    assert(streamed == batch,
      s"AvailableNow drain lost/duplicated rows: $streamed vs $batch")
  }

  test("streaming offsets round-trip through their JSON form") {
    val cases = Seq(
      Map.empty[String, Long],
      Map("part-00000.tsv" -> 0L),
      Map("part-00000.tsv" -> 123L, "part-00001.tsv" -> 987654321L,
        "z-last.tsv" -> 1L))
    cases.foreach { m =>
      val o = GraftLinesOffset(m)
      assert(GraftLinesOffset.fromJson(o.json()).files == m,
        s"offset round-trip broke for $m: ${o.json()}")
    }
    // equal offsets must serialize identically (sorted keys) — the
    // engine compares offsets by their JSON
    val a = GraftLinesOffset(Map("b.tsv" -> 2L, "a.tsv" -> 1L))
    val b = GraftLinesOffset(Map("a.tsv" -> 1L, "b.tsv" -> 2L))
    assert(a.json() == b.json())
  }

  test("streaming admission cap yields multiple batches and matches batch agg") {
    val df = SparkEntry.queries("st_dsv2_stream")(spark, dir)
    val got = df.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val expect = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(got.sameElements(expect), "streaming aggregate != batch aggregate")
  }

  test("pushed predicates filter inside the reader, not just the plan") {
    val n = Dsv2Source.linesRead(spark, dir)
      .filter(col("n_chars") < 200L).count()
    val expect = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("n_chars") < 200L).count()
    assert(n == expect)
  }

  // ----- runtime filtering (connector DPP) ----------------------------

  test("the sink writes a _ranges sidecar with disjoint per-file ranges") {
    val path = Dsv2Source.dppFixturePath(spark, dir)
    val sidecar = new java.io.File(path, "_ranges.tsv")
    assert(sidecar.exists(), "the 2PC commit must write the sidecar")
    val entries = scala.io.Source.fromFile(sidecar, "UTF-8").getLines()
      .map(_.split("\t")).map(a => (a(0), a(1).toLong, a(2).toLong))
      .toSeq
    val files = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && f.length > 0)
    assert(entries.map(_._1).toSet == files.map(_.getName).toSet,
      "one sidecar entry per published data file")
    // range-partitioned write → the doc_id intervals must be disjoint
    val sorted = entries.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Seq((_, _, hi), (n, lo, _)) =>
        assert(lo > hi, s"file $n overlaps the previous range")
      case _ =>
    }
  }

  test("a runtime In filter prunes files by sidecar range") {
    val path = Dsv2Source.dppFixturePath(spark, dir)
    val scan = new GraftLinesScanBuilder(path,
      graft.sources.GraftLines.DefaultSplitBytes, 0L)
      .build().asInstanceOf[GraftLinesScan]
    val before = scan.planInputPartitions().length
    assert(before >= 8, s"range-partitioned fixture should have >=8 files")
    // keys confined to the lowest range: everything else must drop
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("doc_id", Array[Any](0L, 1L, 2L))))
    val after = scan.planInputPartitions().length
    assert(after == 1, s"3 low keys should keep exactly 1 file, got $after")
    // and the kept rows must actually contain those keys
  }

  test("the DPP gate prunes at runtime and the plan carries the subquery") {
    val df = SparkEntry.queries("ax_dsv2_dpp")(spark, dir)
    graft.sources.GraftLines.lastRuntimePruned.set(false)
    df.collect() // runtime filters only apply during execution
    val p = planOf(df)
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic-pruning subquery on the connector scan:\n$p")
    assert(graft.sources.GraftLines.lastRuntimePruned.get(),
      s"the selective dim band must prune connector files at runtime:\n$p")
  }

  // ----- static zone-map pruning ---------------------------------------

  test("a static doc_id range prunes files off the sidecar zone map") {
    val path = Dsv2Source.dppFixturePath(spark, dir)
    val unfiltered = new GraftLinesScanBuilder(path,
      graft.sources.GraftLines.DefaultSplitBytes, 0L)
      .build().asInstanceOf[GraftLinesScan]
    val allFiles = unfiltered.planInputPartitions().length
    assert(allFiles >= 8)
    val b = new GraftLinesScanBuilder(path,
      graft.sources.GraftLines.DefaultSplitBytes, 0L)
    b.pushFilters(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.LessThan("doc_id", 3L)))
    val pruned = b.build().asInstanceOf[GraftLinesScan]
      .planInputPartitions().length
    assert(pruned == 1,
      s"doc_id < 3 is inside the lowest file's range; planned $pruned")
    assert(graft.sources.GraftLines.lastStaticPruned.get())
  }

  test("the zonemap gate plans fewer files and no sidecar means no pruning") {
    val df = SparkEntry.queries("ax_dsv2_zonemap")(spark, dir)
    df.collect()
    val path = Dsv2Source.dppFixturePath(spark, dir)
    val totalFiles = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && f.length > 0)
    val planned = graft.sources.GraftLines.lastPlannedFiles.get()
    assert(planned < totalFiles,
      s"static quarter-range predicate must prune: $planned/$totalFiles")
    // no sidecar → never prune: same pushed range over the plain TSV
    // fixture (written by .text(), no sidecar) must keep every file
    val plain = Dsv2Source.tsvFixturePath(spark, dir)
    assert(!new java.io.File(plain, "_ranges.tsv").exists())
    val b = new GraftLinesScanBuilder(plain,
      graft.sources.GraftLines.DefaultSplitBytes, 0L)
    b.pushFilters(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.LessThan("doc_id", 3L)))
    b.build().asInstanceOf[GraftLinesScan].planInputPartitions()
    assert(!graft.sources.GraftLines.lastStaticPruned.get(),
      "a file without sidecar stats must never be pruned")
  }

  // ----- aggregate pushdown (metadata-only queries) --------------------

  test("count/min/max are answered from the sidecar: zero files opened") {
    val df = SparkEntry.queries("ax_dsv2_agg_push")(spark, dir)
    graft.sources.GraftLines.lastPlannedFiles.set(-1)
    val r = df.collect()(0)
    assert(graft.sources.GraftLines.lastPlannedFiles.get() == 0,
      "a pushed aggregate must plan zero data files")
    assert(planOf(df).contains("PushedAggregation"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .agg(count(lit(1)), min(col("doc_id")), max(col("doc_id"))).head
    assert(r.getLong(0) == docs.getLong(0))
    assert(r.getLong(1) == docs.getLong(1))
    assert(r.getLong(2) == docs.getLong(2))
  }

  test("aggregate pushdown refuses whenever it cannot be exact") {
    val path = Dsv2Source.dppFixturePath(spark, dir)
    def rd = spark.read
      .format(classOf[graft.sources.GraftLines].getName)
      .option("path", path).load()
    // a predicate: the sidecar cannot apply it — scan instead
    val filtered = rd.filter(col("n_chars") >= 100L)
      .agg(count(lit(1)).as("n"))
    assert(!planOf(filtered).contains("PushedAggregation"))
    val expect = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("n_chars") >= 100L).count()
    assert(filtered.head.getLong(0) == expect)
    // a grouping: per-group counts are not in the sidecar
    val grouped = rd.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    assert(!planOf(grouped).contains("PushedAggregation"))
    // a directory without a sidecar: no stats, no pushdown
    val plain = Dsv2Source.tsvFixturePath(spark, dir)
    val noSidecar = spark.read
      .format(classOf[graft.sources.GraftLines].getName)
      .option("path", plain).load()
      .agg(count(lit(1)).as("n"))
    assert(!planOf(noSidecar).contains("PushedAggregation"))
    assert(noSidecar.head.getLong(0) ==
      spark.read.parquet(s"$dir/documents.parquet").count())
  }

  // ----- streaming write (epoch-keyed 2PC) ----------------------------

  private def internalRow(id: Long, lang: String, n: Long) =
    org.apache.spark.sql.catalyst.InternalRow(id,
      org.apache.spark.unsafe.types.UTF8String.fromString(lang),
      org.apache.spark.unsafe.types.UTF8String.fromString("web"), n)

  private def stageEpoch(sw: GraftLinesStreamingWrite, out: String,
      epoch: Long, rows: Seq[(Long, String, Long)],
      taskId: Long): GraftLinesCommit = {
    val conf = new SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val w = new GraftLinesStreamingWriterFactory(out, conf)
      .createWriter(0, taskId, epoch)
    rows.foreach { case (id, lang, n) => w.write(internalRow(id, lang, n)) }
    w.commit().asInstanceOf[GraftLinesCommit]
  }

  test("a replayed epoch is a no-op: the committed marker wins") {
    val out = new java.io.File("target/dsv2_epoch_replay")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    out.mkdirs()
    val conf = new SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val sw = new GraftLinesStreamingWrite(out.getAbsolutePath, conf)
    val m1 = stageEpoch(sw, out.getAbsolutePath, 7L,
      Seq((1L, "en", 10L), (2L, "de", 20L)), taskId = 100L)
    sw.commit(7L, Array(m1))
    val published = new java.io.File(out, "part-e7-p0.tsv")
    assert(published.exists(), "epoch 7 must publish its partition file")
    val before = java.nio.file.Files.readAllBytes(published.toPath).toSeq
    // restart replay: same epoch, different task id, same bytes —
    // the marker must short-circuit the publish entirely
    val m2 = stageEpoch(sw, out.getAbsolutePath, 7L,
      Seq((1L, "en", 10L), (2L, "de", 20L)), taskId = 200L)
    sw.commit(7L, Array(m2))
    val after = java.nio.file.Files.readAllBytes(published.toPath).toSeq
    assert(after == before, "replayed epoch must not rewrite the file")
    val visible = Option(out.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")) // Hadoop-local .crc shadows
    assert(visible.length == 1,
      s"replay duplicated the epoch: ${visible.map(_.getName).toSeq}")
    assert(!new java.io.File(out, "_staging-epoch-7").exists(),
      "the replay's stage dir must be cleaned")
  }

  test("a mid-commit crash converges: re-publish overwrites, not appends") {
    val out = new java.io.File("target/dsv2_epoch_crash")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    out.mkdirs()
    val conf = new SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val sw = new GraftLinesStreamingWrite(out.getAbsolutePath, conf)
    // simulate a crash AFTER one rename but BEFORE the marker: the dst
    // exists, no _committed-3 — the retry must overwrite it in place
    val crashLeftover = new java.io.File(out, "part-e3-p0.tsv")
    new java.io.PrintWriter(crashLeftover).append("9\txx\tweb\t9\n").close()
    val m = stageEpoch(sw, out.getAbsolutePath, 3L,
      Seq((1L, "en", 10L)), taskId = 300L)
    sw.commit(3L, Array(m))
    val content = new String(
      java.nio.file.Files.readAllBytes(crashLeftover.toPath), "UTF-8")
    assert(content == "1\ten\tweb\t10\n",
      s"re-publish must overwrite the crash leftover, got: $content")
    assert(new java.io.File(out, "_committed-3").exists(),
      "the converged epoch must carry its marker")
  }

  test("a replay with fewer partitions deletes the first attempt's orphans") {
    val out = new java.io.File("target/dsv2_epoch_orphan")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    out.mkdirs()
    val conf = new SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val sw = new GraftLinesStreamingWrite(out.getAbsolutePath, conf)
    // crashed first attempt published TWO partitions, no marker yet
    new java.io.PrintWriter(new java.io.File(out, "part-e5-p0.tsv"))
      .append("1\ten\tweb\t10\n").close()
    new java.io.PrintWriter(new java.io.File(out, "part-e5-p1.tsv"))
      .append("2\tde\tweb\t20\n").close()
    // the replay plans only ONE partition (listing change upstream)
    val m = stageEpoch(sw, out.getAbsolutePath, 5L,
      Seq((1L, "en", 10L), (2L, "de", 20L)), taskId = 500L)
    sw.commit(5L, Array(m))
    assert(new java.io.File(out, "part-e5-p0.tsv").exists())
    assert(!new java.io.File(out, "part-e5-p1.tsv").exists(),
      "the first attempt's extra partition must not survive the commit")
    // a neighbouring epoch's files are untouched
    new java.io.PrintWriter(new java.io.File(out, "part-e6-p0.tsv"))
      .append("3\tfr\tweb\t30\n").close()
    val m7 = stageEpoch(sw, out.getAbsolutePath, 7L,
      Seq((4L, "it", 40L)), taskId = 501L)
    sw.commit(7L, Array(m7))
    assert(new java.io.File(out, "part-e6-p0.tsv").exists(),
      "orphan cleanup is scoped to the committing epoch")
  }

  test("a streaming epoch abort deletes that epoch's stage only") {
    val out = new java.io.File("target/dsv2_epoch_abort")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    out.mkdirs()
    val conf = new SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val sw = new GraftLinesStreamingWrite(out.getAbsolutePath, conf)
    val m5 = stageEpoch(sw, out.getAbsolutePath, 5L,
      Seq((1L, "en", 10L)), taskId = 400L)
    val m6 = stageEpoch(sw, out.getAbsolutePath, 6L,
      Seq((2L, "de", 20L)), taskId = 401L)
    sw.abort(5L, Array(m5))
    assert(!new java.io.File(out, "_staging-epoch-5").exists(),
      "abort must remove the aborted epoch's stage dir")
    assert(new java.io.File(out, "_staging-epoch-6").exists(),
      "abort must not touch other epochs' stages")
    sw.commit(6L, Array(m6))
    assert(new java.io.File(out, "part-e6-p0.tsv").exists())
  }

  test("the sink gate leaves a clean directory: epochs, markers, no stage") {
    SparkEntry.queries("st_dsv2_sink")(spark, dir).collect()
    val tag = new java.io.File(dir).getName.replace('.', '_')
    val out = new java.io.File(s"target/dsv2_stream_sink/$tag")
    val entries = Option(out.listFiles()).getOrElse(Array.empty)
    assert(!entries.exists(_.getName.startsWith("_staging")),
      "no epoch stage dir may survive the drain")
    assert(!entries.exists(_.getName.endsWith(".tmp")),
      "no uncommitted temp file may be visible")
    val epochs = entries.filter(_.getName.startsWith("_committed-"))
    assert(epochs.nonEmpty, "the drain must commit at least one epoch")
    // every published file belongs to a committed epoch
    val committed = epochs.map(_.getName.stripPrefix("_committed-")).toSet
    val orphans = entries.filter(f => f.isFile &&
      f.getName.startsWith("part-e")).filterNot(f =>
      committed.contains(
        f.getName.stripPrefix("part-e").takeWhile(_ != '-')))
    assert(orphans.isEmpty,
      s"published files without a committed epoch: ${orphans.toSeq}")
  }
}
