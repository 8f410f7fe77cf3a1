package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the SemDeDup-style cluster-bounded prune
  * (dd_semdedup), on real sf0.001 data — the DuckDB oracle proves
  * cross-engine agreement; these prove the retention rule itself.
  */
class SemDedupSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // interpreted HOF dot product — test-only oracle arithmetic
  private val dotExpr =
    "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"

  test("semdedup prunes high-cosine followers and keeps an independent set") {
    val pruned = SparkEntry.queries("dd_semdedup")(spark, dir).collect()
    assert(pruned.nonEmpty, "gate data must exercise the prune")

    // every pruned row points at a smaller-id representative above gate
    pruned.foreach { r =>
      assert(r.getLong(2) < r.getLong(0), "rep_id must precede vec_id")
      assert(r.getLong(3) >= 350L, s"cos_pm below threshold: ${r.getLong(3)}")
    }

    // rep_id is the smallest QUALIFYING neighbor — possibly itself
    // pruned. Chain-resolving rep_id must terminate in the kept set
    // (the chain is strictly id-decreasing), i.e. pruned→kept mapping
    // is always recoverable even when the immediate rep was pruned.
    val repOf = pruned.map(r => r.getLong(0) -> r.getLong(2)).toMap
    pruned.foreach { r =>
      var cur = r.getLong(2)
      var hops = 0
      while (repOf.contains(cur)) {
        val next = repOf(cur)
        assert(next < cur, "rep chain must strictly decrease")
        cur = next; hops += 1
        assert(hops <= pruned.length, "rep chain failed to terminate")
      }
      assert(!repOf.contains(cur), s"chain from ${r.getLong(0)} ended pruned")
    }

    val asg = SparkEntry.queries("sim_kmeans_assign")(spark, dir)
      .select(col("vec_id"), col("cluster"))
    val byId = asg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // representative and pruned member share a cluster
    pruned.foreach { r =>
      assert(byId(r.getLong(2)) == r.getLong(1),
        s"rep ${r.getLong(2)} not in cluster ${r.getLong(1)}")
      assert(byId(r.getLong(0)) == r.getLong(1))
    }

    // kept set is an independent set: no surviving same-cluster pair
    // still qualifies at the threshold (the greedy-by-id guarantee)
    val prunedIds = pruned.map(_.getLong(0)).toSet
    val kept = asg.filter(!col("vec_id").isin(prunedIds.toSeq: _*))
      .join(spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"),
          expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT))").as("q")),
        "vec_id")
    val a = kept.select(col("cluster"), col("vec_id").as("a"), col("q").as("qa"))
    val b = kept.select(col("cluster"), col("vec_id").as("b"), col("q").as("qb"))
    val survivors = a.join(b, "cluster").filter(col("a") < col("b"))
      .withColumn("dot", expr(dotExpr))
      .withColumn("na", expr(dotExpr.replace("qb", "qa")))
      .withColumn("nb", expr(dotExpr.replace("qa", "qb")))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("cos_pm",
        floor(lit(1000.0) * col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double"))).cast("long"))
      .filter(col("cos_pm") >= 350L)
      .count()
    assert(survivors == 0L,
      s"$survivors qualifying pairs survived the prune — retention rule broken")
  }

  test("semdedup_rep chain-resolves every pruned row to a KEPT exemplar") {
    val pruned = SparkEntry.queries("dd_semdedup")(spark, dir).collect()
    val prunedIds = pruned.map(_.getLong(0)).toSet
    val repOf = pruned.map(r => r.getLong(0) -> r.getLong(2)).toMap

    val res = SparkEntry.queries("dd_semdedup_rep")(spark, dir).collect()
    assert(res.length == pruned.length,
      "resolution must cover exactly the pruned set")

    res.foreach { r =>
      val (vecId, repId, exemplar, depth) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      // the exemplar is genuinely kept, strictly precedes the row, and
      // agrees with a driver-side walk of the same immediate-rep map
      assert(!prunedIds.contains(exemplar),
        s"exemplar $exemplar of $vecId is itself pruned")
      assert(exemplar <= repId && repId < vecId)
      assert(depth >= 1L)
      assert((depth == 1L) == (repId == exemplar),
        "depth 1 iff the immediate rep was already kept")
      var cur = repId
      var hops = 1L
      while (repOf.contains(cur)) { cur = repOf(cur); hops += 1 }
      assert(cur == exemplar && hops == depth,
        s"pointer-doubling disagrees with the walk for $vecId")
    }
  }
}
