package graft.plans

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft's rules are installed once, at session build, and each session
  * keeps its own MV catalog, so a gate's plan does not depend on which
  * gates ran before it. Each gate below is one the TopNPerGroup or MV
  * rule could change. Its plan is taken on a fresh session, then again
  * in that session after ax_topn_rewrite and ax_mv_rewrite ran (the
  * gates that used to install the rules; ax_mv_rewrite registers the
  * lineitem rollup), and must not move. The stock-plan gates opt out of
  * the rules through [[graft.Sessions.stockPlans]].
  */
class SessionSeamSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private val gates = Seq("ax_topk_per_segment", "ax_topn_rewrite",
    "sim_batch_ivf", "sim_rrf_fusion", "sim_rrf_recall", "sq_lateral_topk",
    "tx_keywords", "ax_pivot_lineitem")

  private def plan(name: String, on: SparkSession = spark): String =
    SparkEntry.queries(name)(on, dir).queryExecution.executedPlan.toString
      .replaceAll("#\\d+", "").replaceAll("plan_id=\\d+", "")

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq.sorted

  test("a gate's plan is the same before and after the rule-installing gates ran") {
    val s = spark.newSession()
    val before = gates.map(g => g -> plan(g, s)).toMap
    SparkEntry.queries("ax_topn_rewrite")(s, dir).collect()
    SparkEntry.queries("ax_mv_rewrite")(s, dir).collect()
    for (g <- gates)
      assert(plan(g, s) == before(g), s"$g planned differently after other gates ran")
  }

  test("a rollup registered in one session leaves another session's plan raw") {
    val served = spark.newSession()
    SparkEntry.queries("ax_mv_rewrite")(served, dir).collect()
    def q(on: SparkSession) = on.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    val p = q(served).queryExecution.executedPlan.toString
    assert(p.contains("mv_lineitem"), s"precondition: served in its session:\n$p")
    val other = q(served.newSession()).queryExecution.executedPlan.toString
    assert(other.contains("lineitem.parquet") && !other.contains("mv_lineitem"),
      s"a newSession() child must plan on the raw scan:\n$other")
  }

  test("stock-plan gates keep the Window plan; ax_topn_rewrite plans heaps") {
    for (g <- Seq("ax_topk_per_segment", "sq_lateral_topk")) {
      val p = plan(g)
      assert(p.contains("Window"), s"$g lost its stock Window plan:\n$p")
      assert(!p.contains("TopNPerGroup"), s"$g was rewritten to heaps:\n$p")
    }
    val p = plan("ax_topn_rewrite")
    assert(p.contains("TopNPerGroupFinal"), s"ax_topn_rewrite was not rewritten:\n$p")
  }

  test("the stock and the rewritten per-segment top-k return the same rows") {
    assert(rows("ax_topk_per_segment") == rows("ax_topn_rewrite"))
  }
}
