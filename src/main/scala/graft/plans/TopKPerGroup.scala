package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator custom plan node: per-partition bounded top-k per
  * group, the map-side half of a group top-k.
  *
  * The declarative formulation (`row_number().over(partitionBy(g)
  * .orderBy(o)) <= k`) must shuffle EVERY row to its group's reducer and
  * sort there — at 100 TB with few groups that is a handful of tasks
  * each sorting a whole group (the reference's analogue is the per-chunk
  * farthest-point combine it runs before the global argmax,
  * `main/worker/worker.go:95-101` — a top-1-per-chunk partial).
  * This node instead keeps a k-bounded heap per group inside each input
  * partition — narrow, no exchange, O(partitions · groups · k) output
  * rows — after which the exact window runs on the pruned remainder.
  * The final result is identical: a row with global rank ≤ k is in its
  * partition's per-group top-k (ranks only shrink when restricted to a
  * subset), so the superset always survives phase 1.
  *
  * Exposed as [[graft.operators.Relational.topkPerGroup]], which installs
  * the planner strategy [[TopKStrategy]] in its session's
  * `spark.experimental.extraStrategies` on first use.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "top-k needs k > 0")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Planner strategy: [[TopKPerGroup]] → [[PartialTopKExec]]. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      PartialTopKExec(g, o, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical per-partition top-k per group: one hash map of k-bounded
  * binary heaps per task. Preserves the child's partitioning (narrow);
  * memory is O(groups · k) rows per task, independent of partition size.
  * Row order within the output is unspecified — callers run their exact
  * ordering logic (window / orderBy) on the pruned rows. */
case class PartialTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprsB = groupExprs
    val orderB = order
    val childOutput = child.output
    val kB = k
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(groupExprsB, childOutput)
      // codegen'd comparator: lt(a, b) ⇔ a ranks strictly before b
      val cmp = GenerateOrdering.generate(orderB, childOutput)
      // heap dequeues the row ranked LAST among the kept k → O(log k)
      // eviction when a better row arrives
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        val heap = heaps.getOrElseUpdate(key.copy(),
          mutable.PriorityQueue.empty[InternalRow](cmp))
        if (heap.size < kB) {
          heap.enqueue(row.copy())
        } else if (cmp.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.copy())
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
  }
}
