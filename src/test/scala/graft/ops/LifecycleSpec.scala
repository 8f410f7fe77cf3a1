package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the table-lifecycle family beyond the oracle gate:
  * layout invariants (file counts, one-file-per-shard), time-travel
  * equivalences (v2 read == MoR replay), determinism of the seeded
  * shuffle, and the plan shapes that carry the 100 TB story.
  */
class LifecycleSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, dir)

  test("ax_compact_files reports the deterministic 64 -> 4 layout change") {
    val r = run("ax_compact_files").collect()(0)
    assert(r.getAs[Long]("n_files_before") === 64L)
    assert(r.getAs[Long]("n_files_after") === 4L)
    assert(r.getAs[Long]("n_rows") > 0L)
  }

  test("compaction preserves the content fingerprint bit-for-bit") {
    val r = run("ax_compact_files").collect()(0)
    // source-side fingerprint, straight off the orders table
    val h = PortableHash.hashCol(concat_ws("|",
      col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long")))
    val src = spark.read.parquet(s"$dir/orders.parquet")
      .select(h.as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"),
        sum(pmod(col("h"), lit(1000000007L))))
      .collect()(0)
    assert(r.getAs[Long]("n_rows") === src.getLong(0))
    assert(r.getAs[Long]("xor_fp") === src.getLong(1))
    assert(r.getAs[Long]("sum_fp") === src.getLong(2))
  }

  test("ax_time_travel: v1 is the base snapshot, v2 equals the MoR replay") {
    val rows = run("ax_time_travel").collect()
    assert(rows.map(_.getAs[Long]("version")).toSeq === Seq(1L, 2L))

    val base = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val v1 = base.agg(count(lit(1)), sum("cents")).collect()(0)
    assert(rows(0).getAs[Long]("n_rows") === v1.getLong(0))
    assert(rows(0).getAs[Long]("checksum_cents") === v1.getLong(1))

    // replay commit v2 directly from the source table
    val mx = base.agg(max("k")).collect()(0).getLong(0)
    val v2 = base
      .filter(pmod(col("k"), lit(83)) =!= 0 && pmod(col("k"), lit(91)) =!= 0)
      .unionAll(base.filter(pmod(col("k"), lit(91)) === 0)
        .select(col("k"), (col("cents") + 3).as("cents")))
      .unionAll(base.filter(pmod(col("k"), lit(101)) === 0)
        .select((col("k") + mx).as("k"), lit(77L).as("cents")))
      .agg(count(lit(1)), sum("cents")).collect()(0)
    assert(rows(1).getAs[Long]("n_rows") === v2.getLong(0))
    assert(rows(1).getAs[Long]("checksum_cents") === v2.getLong(1))
  }

  test("time travel rejects an uncommitted version") {
    val log = Lifecycle.tableLogPath(spark, dir)
    // version 4 is not in the manifest; asOf must fail loudly, not
    // silently serve the latest snapshot
    intercept[IllegalArgumentException] {
      Lifecycle.asOf(spark, log, 4L)
    }
  }

  test("the v3 compaction commit reads identically to the v2 MoR state") {
    val log = Lifecycle.tableLogPath(spark, dir)
    def audit(v: Long) =
      Lifecycle.asOf(spark, log, v)
        .agg(count(lit(1)), sum("cents"), expr("bit_xor(k * 31 + cents)"))
        .collect()(0)
    // compaction must be a pure LAYOUT change: same rows, same content
    assert(audit(2L) === audit(3L))
  }

  test("tx_shard_export writes exactly one file per shard directory") {
    run("tx_shard_export").collect() // ensure the export exists
    val root = new java.io.File(Lifecycle.shardExportPath(spark, dir))
    val shardDirs = Option(root.listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files === 1, s"${d.getName} should hold exactly one file")
    }
  }

  test("tx_shard_export covers every document exactly once") {
    val total = run("tx_shard_export")
      .agg(sum("n_docs")).collect()(0).getLong(0)
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(total === docs)
  }

  test("tx_global_shuffle is deterministic and duplicate-free") {
    val a = run("tx_global_shuffle").collect()
    val b = run("tx_global_shuffle").collect()
    assert(a.toSeq === b.toSeq, "same seed must give the same permutation")
    assert(a.map(_.getAs[Long]("doc_id")).distinct.length === a.length)
    assert(a.map(_.getAs[Long]("rank")).toSeq === (1L to a.length).toSeq)
  }

  test("tx_global_shuffle plans the audit as a top-k, not a global sort") {
    val plan = run("tx_global_shuffle").queryExecution.executedPlan
    val s = plan.toString
    assert(s.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$s")
  }

  test("ax_occ_commits: the validation law holds on every emitted pair") {
    val rows = SparkEntry.queries("ax_occ_commits")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getString(5), r.getString(6)))
    assert(rows.length == 10, "5 prospective commits -> 10 pairs")
    rows.foreach { case (ca, opA, cb, opB, n, disp, reason) =>
      // the law: conflict iff the delete sets intersect
      assert((n > 0) == (disp == "conflict"), s"$ca/$cb: n=$n disp=$disp")
      // an append can never conflict (its delete set is empty)
      if (opA == "append" || opB == "append")
        assert(disp == "rebase" && reason == "append-only", s"$ca/$cb")
      if (n > 0 && (opA == "rewrite" || opB == "rewrite"))
        assert(reason == "rewrite-overlaps-delete", s"$ca/$cb")
    }
    // both classes must actually be exercised at every SF
    assert(rows.exists(_._6 == "conflict"), "no conflicting pair emitted")
    assert(rows.exists(_._6 == "rebase"), "no rebasable pair emitted")
    // the two overlapping-range pairs are the conflicts, by construction
    assert(rows.filter(_._6 == "conflict").map(r => (r._1, r._3)).toSet ==
      Set(("c1_purge_low", "c2_compact_low"),
        ("c4_purge_high", "c5_compact_high")))
  }

  test("OCC rebase applies a disjoint schedule; a conflicting pair raises") {
    val buckets = (0L to 9L).toSeq
    val defs = Seq(
      ("c1_purge_low", "delete", Set(0L, 1L)),
      ("c2_compact_low", "rewrite", Set(0L, 1L, 2L, 3L)),
      ("c3_append", "append", Set.empty[Long]),
      ("c4_purge_high", "delete", Set(8L, 9L)))
    // disjoint schedule: compaction + append + high purge
    val out = EventsOps.occRebaseApply(buckets, defs,
      Seq("c2_compact_low", "c3_append", "c4_purge_high"))
    assert(out.toSet == Set(
      ("bucket=4", 4L, 4L, "base"), ("bucket=5", 5L, 5L, "base"),
      ("bucket=6", 6L, 6L, "base"), ("bucket=7", 7L, 7L, "base"),
      ("compact-c2_compact_low", 0L, 3L, "c2_compact_low"),
      ("append-c3_append", 10L, 10L, "c3_append")))
    // rebase result == serial application in the same order (the
    // validated schedule makes them identical by construction)
    val serial = EventsOps.occRebaseApply(buckets, defs,
      Seq("c2_compact_low"))
    assert(serial.exists(_._1 == "compact-c2_compact_low"))
    // a conflicting pair must raise, never rebase
    val ex = intercept[IllegalStateException] {
      EventsOps.occRebaseApply(buckets, defs,
        Seq("c1_purge_low", "c2_compact_low"))
    }
    assert(ex.getMessage.contains("conflict"))
  }
}
