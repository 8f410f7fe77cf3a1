package graft.plans

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** graft's rules are installed once, at session build, so a gate's plan
  * does not depend on which gates ran before it. Each gate below is one
  * the TopNPerGroup or MV rule could change. Its plan is taken with the
  * MV catalog cleared, then again after ax_topn_rewrite and ax_mv_rewrite
  * ran (the gates that used to install the rules), and must not move.
  * The stock-plan gates opt out of the rules through
  * [[graft.Sessions.stockPlans]].
  */
class SessionSeamSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private val gates = Seq("ax_topk_per_segment", "ax_topn_rewrite",
    "sim_batch_ivf", "sim_rrf_fusion", "sim_rrf_recall", "sq_lateral_topk",
    "tx_keywords", "ax_pivot_lineitem")

  /** Gates whose plan legitimately changes once the MV catalog gains an
    * entry: ax_mv_rewrite registers the lineitem rollup, and
    * ax_pivot_lineitem's aggregate is then served from it. Their rows
    * must not change.
    */
  private val catalogDependent = Set("ax_pivot_lineitem")

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      .replaceAll("#\\d+", "").replaceAll("plan_id=\\d+", "")

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq.sorted

  test("a gate's plan is the same before and after the rule-installing gates ran") {
    MvRewrite.clear()
    try {
      val before = gates.map(g => g -> plan(g)).toMap
      val rowsBefore = catalogDependent.map(g => g -> rows(g)).toMap
      SparkEntry.queries("ax_topn_rewrite")(spark, dir).collect()
      SparkEntry.queries("ax_mv_rewrite")(spark, dir).collect()
      for (g <- gates if !catalogDependent(g))
        assert(plan(g) == before(g), s"$g planned differently after other gates ran")
      for (g <- catalogDependent)
        assert(rows(g) == rowsBefore(g), s"$g answered differently after other gates ran")
    } finally MvRewrite.clear()
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
