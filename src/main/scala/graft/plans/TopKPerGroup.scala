package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Descending, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator custom Catalyst surface: native top-k per group.
  *
  * The declarative formulation (`row_number().over(window) <= k`) must
  * SORT every group completely before discarding all but k rows. This
  * operator keeps a bounded heap of k rows per group instead — O(n log k)
  * with O(groups·k) memory, no full sort, no spill pressure from rows
  * that can never survive. At 100 TB ("top 3 documents per domain") the
  * difference is sorting the corpus vs streaming over it.
  *
  * Wiring: logical node → planner Strategy (installed idempotently via
  * the public `spark.experimental.extraStrategies` hook, so it works on
  * harness-owned sessions) → physical exec that declares
  * ClusteredDistribution so Catalyst inserts the group-key exchange.
  */
case class TopKPerGroup(
    k: Int,
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    child: LogicalPlan,
    withTies: Boolean = false,
    rankOutput: Option[Attribute] = None) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ rankOutput
  override def producedAttributes: AttributeSet = AttributeSet(rankOutput.toSeq)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Per-group bounded-heap top-k.
  *
  * `withTies = false` is `row_number() <= k` semantics (exactly k rows
  * per group, arbitrary tie resolution at the boundary — same contract
  * as the window form, whose tie order is partition-layout-dependent).
  *
  * `withTies = true` is `rank() <= k` semantics: every row tying the
  * k-th position survives. State per group is the k-heap PLUS a buffer
  * of rows comparing equal to the current boundary — bounded by the
  * boundary's tie multiplicity (inherent to rank(): the result itself
  * is unbounded under ties), and reset whenever the boundary improves.
  *
  * `rankOutput` (round 14): when set, the heap EMITS the rank as that
  * extra column — the drain is already in rank order, so row_number is
  * the emission position and rank() is the competition rank over the
  * sorted survivors (a prefix of the group, so prefix ranks equal
  * full-group ranks). Queries that SELECT the rank no longer need the
  * full per-group sort. Rank numbers among order-tied rows are
  * arbitrary, exactly as the window form's are — determinism needs a
  * total order either way.
  */
case class TopKPerGroupExec(
    k: Int,
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    child: SparkPlan,
    withTies: Boolean = false,
    rankOutput: Option[Attribute] = None) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rankOutput
  override def producedAttributes: AttributeSet = AttributeSet(rankOutput.toSeq)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val kLocal = k
    val groupLocal = groupExprs
    val orderLocal = orderExprs
    val tiesLocal = withTies
    val emitRank = rankOutput.isDefined
    val outputLocal = output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupLocal, childOutput)
      // rank emission: project (child row ++ rank int) to an unsafe row
      val outProj =
        if (emitRank) UnsafeProjection.create(outputLocal, outputLocal) else null
      // ascending "rank" ordering: the first k rows in this order survive
      val ord = RowOrdering.create(orderLocal, childOutput)
      // max-heap by rank: head = current worst survivor, evicted first
      final class GroupState {
        val heap = mutable.PriorityQueue.empty[InternalRow](ord)
        // rows comparing EQUAL to heap.head once the heap is full
        // (withTies only) — they share the k-th rank, so they survive
        // unless the boundary improves past them
        val tieBuf = mutable.ArrayBuffer.empty[InternalRow]
      }
      val groups = mutable.LinkedHashMap.empty[UnsafeRow, GroupState]
      iter.foreach { row =>
        val st = groups.getOrElseUpdate(keyProj(row).copy(), new GroupState)
        val heap = st.heap
        if (heap.size < kLocal) {
          heap += row.copy()
        } else {
          val c = ord.compare(row, heap.head)
          if (c < 0) {
            val evicted = heap.dequeue()
            heap += row.copy()
            if (tiesLocal) {
              if (ord.compare(evicted, heap.head) == 0) {
                // boundary value unchanged: the evicted copy still ties
                st.tieBuf += evicted
              } else {
                // boundary improved past the old value: its ties are
                // now rank > k
                st.tieBuf.clear()
              }
            }
          } else if (c == 0 && tiesLocal) {
            st.tieBuf += row.copy()
          }
        }
      }
      groups.iterator.flatMap { case (_, st) =>
        // dequeueAll drains worst-first; reversed = ascending rank order,
        // and tieBuf rows all compare equal to the k-th position
        val ordered = st.heap.dequeueAll.reverseIterator ++ st.tieBuf.iterator
        if (!emitRank) ordered
        else {
          val joined = new JoinedRow
          val rankRow = new GenericInternalRow(1)
          var idx = 0
          var prev: InternalRow = null
          var prevRank = 1
          ordered.map { r =>
            idx += 1
            // competition rank for ties mode; emission position otherwise
            val rk = if (tiesLocal && prev != null && ord.compare(r, prev) == 0)
              prevRank else idx
            prev = r
            prevRank = rk
            rankRow.setInt(0, rk)
            outProj(joined(r, rankRow))
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(k, g, o, child, ties, rankOut) =>
      TopKPerGroupExec(k, g, o, planLater(child), ties, rankOut) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** Install the strategy (idempotent) and plan a native top-k per group.
    * Columns are referenced by name and resolved directly against the
    * child's analyzed output (bypassing Column's lazy resolution, which
    * only happens inside Dataset API operators); `descending = true` in
    * an order spec flips that key.
    */
  def perGroup(df: DataFrame, k: Int, groupCols: Seq[String],
      orderCols: Seq[(String, Boolean)], withTies: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    Strategies.ensureInstalled(spark, TopKStrategy)
    val child = df.queryExecution.analyzed
    def attr(name: String) = child.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"column $name not in ${child.output.map(_.name)}"))
    val sortOrders = orderCols.map { case (name, desc) =>
      SortOrder(attr(name), if (desc) Descending else Ascending)
    }
    GraftPlanBridge.ofRows(spark,
      TopKPerGroup(k, groupCols.map(attr), sortOrders, child, withTies))
  }
}
