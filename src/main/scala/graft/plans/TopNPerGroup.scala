package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension: TOP-N PER GROUP.
  *
  * The declarative formulation —
  * `row_number() OVER (PARTITION BY g ORDER BY o) AS rn` + `rn <= k` —
  * is the idiom every analyst writes. Stock Spark (3.5+) helps with
  * InferWindowGroupLimit — rank-based row pruning before and after the
  * exchange — but the pipeline stays SORT-based: a full local sort of
  * every input partition, the exchange, another full sort, then
  * WindowExec. At 100 TB those sorts of the fact table dominate the
  * plan. Global `ORDER BY ... LIMIT` gets TakeOrderedAndProject heaps;
  * the grouped variant deserves the same and has no heap-based plan.
  *
  * This file supplies the missing tier-(c) operator end to end:
  *   - [[RewriteTopNPerGroup]] — a `Rule[LogicalPlan]` that pattern-
  *     matches Filter(rn ≤ k) over the single-row_number Window and
  *     replaces both with the custom logical node;
  *   - [[TopNPerGroupLogical]] — the logical operator (output preserves
  *     the original rn attribute, so downstream references resolve
  *     unchanged);
  *   - [[TopNPerGroupStrategy]] — a `SparkStrategy` planning it as
  *     partial → exchange → final;
  *   - [[TopNPerGroupPartialExec]] / [[TopNPerGroupFinalExec]] — the
  *     physical operators: bounded per-group HEAPS (size k) on each
  *     MAP-side partition first, so the exchange moves at most
  *     k·groups·partitions rows instead of the corpus, then the same
  *     heap again per clustered group and a 1..k rank attach. No sort
  *     of anything bigger than k rows anywhere.
  *
  * Installed in every session by [[graft.functions.GraftSparkExtensions]]
  * (through [[graft.Sessions.configure]]); a query that must keep the
  * stock plan runs on [[graft.Sessions.stockPlans]].
  *
  * The rewrite is deliberately conservative: it fires only when the
  * filter's conjuncts are exactly the rn bound (plus the IsNotNull(rn)
  * the optimizer infers), the window computes a single row_number, the
  * ordering is non-empty (determinism), and k is a positive literal
  * ≤ MaxN. Anything else keeps the stock WindowExec plan.
  */
object TopNPerGroup {
  /** guard: a "top million per group" is not a heap workload */
  val MaxN = 10000
}

case class TopNPerGroupLogical(
    groupExprs: Seq[Expression],
    orderSpec: Seq[SortOrder],
    n: Int,
    rnAttr: Attribute,
    child: LogicalPlan)
    extends org.apache.spark.sql.catalyst.plans.logical.UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rnAttr
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopNPerGroupLogical =
    copy(child = newChild)
}

object RewriteTopNPerGroup extends Rule[LogicalPlan] {

  /** the Window must compute exactly one plain row_number */
  private def rowNumberOf(w: Window): Option[(Attribute, Seq[Expression], Seq[SortOrder])] =
    w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(part, order, _)), _)) if order.nonEmpty =>
        Some((a.toAttribute, part, order))
      case _ => None
    }

  /** rn bound from the filter conjuncts: every conjunct must be either
    * `IsNotNull(rn)` (inferred, subsumed by the operator) or the single
    * `rn <= k` / `rn < k` bound.
    */
  private def boundOf(cond: Expression, rn: Attribute): Option[Int] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val rest = conjuncts.filterNot {
      case IsNotNull(a: Attribute) => a.semanticEquals(rn)
      case _ => false
    }
    rest match {
      case Seq(LessThanOrEqual(a: Attribute, Literal(k: Int, _)))
          if a.semanticEquals(rn) => Some(k)
      case Seq(LessThan(a: Attribute, Literal(k: Int, _)))
          if a.semanticEquals(rn) => Some(k - 1)
      case _ => None
    }
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
    case other => Seq(other)
  }

  /** Spark's own InferWindowGroupLimit may already have inserted its
    * sort-based partial limiter under the Window; the heap partial
    * subsumes it, so unwrap it rather than sorting partitions twice.
    */
  private def stripGroupLimit(child: LogicalPlan): LogicalPlan = child match {
    case WindowGroupLimit(_, _, _, _, grandChild) => grandChild
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Filter(cond, w: Window) =>
      (for {
        (rn, part, order) <- rowNumberOf(w)
        k <- boundOf(cond, rn)
        if k >= 1 && k <= TopNPerGroup.MaxN
      } yield TopNPerGroupLogical(part, order, k, rn, stripGroupLimit(w.child)))
        .getOrElse(Filter(cond, w))
  }
}

object TopNPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopNPerGroupLogical(group, order, n, rn, child) =>
      TopNPerGroupFinalExec(group, order, n, rn,
        TopNPerGroupPartialExec(group, order, n, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** shared bounded-heap pass: per input partition, keep the n rows that
  * rank FIRST under `orderSpec` within each group (max-heap of size n —
  * head is the current worst; a new row replaces it when it ranks
  * earlier). Memory per partition is n × live groups, the same promise
  * the TopK Aggregator makes.
  */
private[plans] object TopNHeap {
  def partitionTopN(
      iter: Iterator[InternalRow],
      groupExprs: Seq[Expression],
      orderSpec: Seq[SortOrder],
      n: Int,
      input: Seq[Attribute]): Iterator[(UnsafeRow, java.util.PriorityQueue[InternalRow])] = {
    val grouping = UnsafeProjection.create(groupExprs, input)
    val ordering = GenerateOrdering.generate(orderSpec, input)
    val heaps = new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
    while (iter.hasNext) {
      val row = iter.next()
      val key = grouping(row)
      var heap = heaps.get(key)
      if (heap == null) {
        heap = new java.util.PriorityQueue[InternalRow](n, ordering.reverse)
        heaps.put(key.copy(), heap)
      }
      if (heap.size < n) {
        heap.add(row.copy())
      } else if (ordering.compare(row, heap.peek()) < 0) {
        heap.poll()
        heap.add(row.copy())
      }
    }
    import scala.jdk.CollectionConverters._
    heaps.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue))
  }
}

case class TopNPerGroupPartialExec(
    groupExprs: Seq[Expression],
    orderSpec: Seq[SortOrder],
    n: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val (g, o, k, out) = (groupExprs, orderSpec, n, child.output)
    child.execute().mapPartitions({ iter =>
      TopNHeap.partitionTopN(iter, g, o, k, out).flatMap { case (_, heap) =>
        import scala.jdk.CollectionConverters._
        heap.iterator().asScala
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopNPerGroupPartialExec =
    copy(child = newChild)
}

case class TopNPerGroupFinalExec(
    groupExprs: Seq[Expression],
    orderSpec: Seq[SortOrder],
    n: Int,
    rnAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rnAttr

  override def requiredChildDistribution: Seq[Distribution] =
    if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val (g, o, k, childOut, outAttrs) = (groupExprs, orderSpec, n, child.output, output)
    child.execute().mapPartitions({ iter =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val rnRow = new GenericInternalRow(1)
      TopNHeap.partitionTopN(iter, g, o, k, childOut).flatMap { case (_, heap) =>
        val rows = new Array[InternalRow](heap.size)
        var i = rows.length - 1
        while (i >= 0) { rows(i) = heap.poll(); i -= 1 } // heap drains worst-first
        rows.iterator.zipWithIndex.map { case (r, idx) =>
          rnRow.setInt(0, idx + 1)
          proj(joined(r, rnRow))
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopNPerGroupFinalExec =
    copy(child = newChild)
}
