package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator extension example from SURVEY §4: top-k rows per key
  * as a first-class physical operator.
  *
  * The stock plan for "top N per group" is `row_number() OVER
  * (PARTITION BY k ORDER BY s) <= N`: a full shuffle followed by a
  * FULL SORT of every partition, then a filter that throws almost all
  * of it away. At 100 TB the sort dominates. This operator keeps a
  * bounded k-element heap per key instead:
  *
  *  - partial exec (no distribution requirement) runs map-side,
  *    shrinking each partition to <= k rows per key BEFORE the shuffle;
  *  - final exec requires ClusteredDistribution(keys), so
  *    EnsureRequirements inserts exactly one hash exchange over the
  *    already-shrunk stream; it merges heaps and emits each key's rows
  *    in order.
  *
  * Memory is O(distinct-keys-per-partition * k); nothing is ever fully
  * sorted. Wired via SparkSessionExtensions.injectPlannerStrategy
  * (`graft.GraftExtensions`, set by `graft.Sessions.builder`).
  *
  * When `rankAttr` is set, the final exec appends the 1-based within-key
  * rank as a long column — the ranked top-k (ANN search result ranks,
  * "page N of results") without ANY window operator in the plan: the
  * rank falls out of the heap's emit order for free.
  */
case class TopKPerKeyNode(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Option[AttributeReference],
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output ++ rankAttr
  // the rank column is born here, not read from the child
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr.toSeq)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, rankAttr, child) =>
      TopKPerKeyExec(keys, order, k, rankAttr, partial = false,
        TopKPerKeyExec(keys, order, k, None, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Option[AttributeReference],
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rankAttr

  override def producedAttributes: AttributeSet = AttributeSet(rankAttr.toSeq)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val emitRank = rankAttr.isDefined
    val outputAttrs = output
    child.execute().mapPartitions ({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val rowOrdering = GenerateOrdering.generate(sortOrder, childOutput)
      // per key: a bounded heap holding the current top-k, worst on top
      val reverse = rowOrdering.reverse
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]
      val unsafeIter = iter.map(_.asInstanceOf[UnsafeRow])
      unsafeIter.foreach { row =>
        val key = keyProj(row)
        val heap = heaps.getOrElseUpdate(key.copy(),
          new java.util.PriorityQueue[UnsafeRow](limit, reverse))
        if (heap.size < limit) {
          heap.add(row.copy())
        } else if (rowOrdering.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      val sortedPerKey = heaps.iterator.map { case (_, heap) =>
        val arr = heap.toArray(new Array[UnsafeRow](heap.size))
        java.util.Arrays.sort(arr, rowOrdering)
        arr
      }
      if (!emitRank) sortedPerKey.flatMap(_.iterator)
      else {
        // append the 1-based emit position within the key as the rank
        val proj = UnsafeProjection.create(outputAttrs, childOutput ++ rankAttr)
        val joined = new JoinedRow
        val rankRow = new GenericInternalRow(1)
        sortedPerKey.flatMap { arr =>
          arr.iterator.zipWithIndex.map { case (row, i) =>
            rankRow.update(0, (i + 1).toLong)
            proj(joined(row, rankRow))
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}
