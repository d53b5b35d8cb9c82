package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import scala.collection.mutable

/** Per-key top-k as a first-class operator.
  *
  * Spark's only built-in formulation is `row_number().over(Window
  * .partitionBy(keys).orderBy(ord)) <= k`, whose WindowExec SORTS every
  * partition in full — O(n log n) time and O(partition) memory even
  * though only k rows per key survive. This operator keeps a bounded
  * heap per key: O(n log k) time, O(keys·k) memory, no sort buffer, no
  * spill. At ANN scale (corpus × queries scored pairs) that is the
  * difference between a shuffle-spill sort and a streaming pass.
  *
  * Physical contract: requires clustering by `keys` (Catalyst inserts
  * the hash exchange — the same single shuffle the window formulation
  * needs), then one pass per partition.
  */
final case class TopKPerKeyLogical(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan
) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyLogical =
    copy(child = newChild)
}

final case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan
) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      val rowOrd = RowOrdering.create(order, childOutput)
      // PriorityQueue.head is the MAX under its ordering; under rowOrd
      // (sorts-first = best) the max is the worst kept row — exactly the
      // eviction candidate.
      val heapOrd: Ordering[InternalRow] = (a, b) => rowOrd.compare(a, b)
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      it.foreach { row =>
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(heap) =>
            if (heap.size < k) heap.enqueue(row.copy())
            else if (rowOrd.compare(row, heap.head) < 0) {
              heap.dequeue(); heap.enqueue(row.copy())
            }
          case None =>
            val heap = mutable.PriorityQueue.empty[InternalRow](heapOrd)
            heap.enqueue(row.copy())
            heaps.put(key.copy(), heap)
        }
      }
      heaps.iterator.flatMap { case (_, heap) => heap.toSeq.sorted(rowOrd) }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Planner strategy: logical TopKPerKey → its exec. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyLogical(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {

  /** The k best rows per key group, best-first within each group.
    * `order` entries are (columnName, descending). Attributes resolve
    * against the child's analyzed output here — Column-API expressions
    * would reach the custom node unresolved (the analyzer only rewrites
    * nodes it knows).
    */
  def apply(
      spark: SparkSession,
      df: DataFrame,
      keys: Seq[String],
      order: Seq[(String, Boolean)],
      k: Int
  ): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    Strategies.install(spark)
    val child = Bridge.logicalPlan(df)
    def attr(name: String): Attribute =
      child.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not in ${child.output.map(_.name)}"))
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
    val sortOrder = order.map { case (name, desc) =>
      SortOrder(attr(name), if (desc) Descending else Ascending)
    }
    Bridge.ofRows(spark, TopKPerKeyLogical(keys.map(attr), sortOrder, k, child))
  }
}
