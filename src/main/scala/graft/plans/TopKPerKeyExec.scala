package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** Plans [[TopKPerKey]] as a partial bounded-heap + final streaming
  * group-head pair — the aggregation shape applied to group limits: the
  * partial runs on raw input partitions and bounds the EXCHANGE (at most
  * k rows per key per input partition cross the wire), the final
  * declares `ClusteredDistribution(keys)` + a (keys, order) child
  * ordering, so EnsureRequirements inserts the one shuffle AND Spark's
  * spill-safe SortExec over the already-bounded rows, and the final
  * itself is a constant-memory streaming head-k that emits ranks.
  *
  * Memory safety (the production contract): the partial's heap map is
  * capped at `spark.graft.topk.maxKeysPerPartition` live keys — past
  * the cap, rows of NEW keys pass through un-bounded (correct: the
  * final re-bounds; only shuffle compression degrades) — and the final
  * holds no map at all, so no per-partition key cardinality can OOM
  * either side. The sort the final pays is over k·distinct-keys rows
  * (post-partial), not the corpus — the window form sorts the corpus. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, rankAttr, child) =>
      TopKPerKeyFinalExec(keys, order, k, rankAttr,
        TopKPerKeyPartialExec(keys, order, k,
          SQLConf.get.getConfString(
            "spark.graft.topk.maxKeysPerPartition", "1000000").toLong,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Partial bounded-heap pass: per input partition, a hash map keyed by
  * the grouping projection holding a size-k MAX-heap under the sort
  * order — a new row replaces the heap top only when it sorts strictly
  * earlier, so each group costs O(log k) per row and O(k) memory
  * regardless of group size (the celebrity-key property: a 10^8-row
  * hot key holds k rows, not 10^8).
  *
  * Key-cardinality overflow: once the map holds `maxKeys` distinct
  * keys, rows whose key is NOT already tracked are emitted immediately
  * instead of opening a new heap — the partial bound is an
  * optimization, not a correctness requirement (the final head-k
  * re-bounds after the shuffle), so degrading to pass-through is safe
  * and keeps partial memory ≤ maxKeys·(k+1) rows by construction. */
private[plans] object TopKHeaps {
  def partialBound(iter: Iterator[InternalRow], keys: Seq[Expression],
                   order: Seq[SortOrder], k: Int, maxKeys: Long,
                   schema: Seq[Attribute]): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(keys, schema)
    val ord: Ordering[InternalRow] =
      RowOrdering.create(order, schema).asInstanceOf[Ordering[InternalRow]]
    val heaps =
      mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
    iter.flatMap { row =>
      val key = keyProj(row)
      heaps.get(key) match {
        case Some(h) =>
          if (h.size < k) h += row.copy()
          else if (ord.lt(row, h.head)) { h.dequeue(); h += row.copy() }
          Iterator.empty
        case None if heaps.size < maxKeys =>
          val h = mutable.PriorityQueue.empty[InternalRow](ord)
          h += row.copy()
          heaps.put(key.copy(), h)
          Iterator.empty
        case None => // cardinality overflow: pass through, final re-bounds
          Iterator.single(row)
      }
    } ++ heaps.valuesIterator.flatMap(_.dequeueAll) // suffix is by-name: drains after input is exhausted
  }
}

case class TopKPerKeyPartialExec(keys: Seq[Expression], order: Seq[SortOrder],
                                 k: Int, maxKeys: Long, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan) =
    copy(child = newChild)
  override protected def doExecute(): RDD[InternalRow] = {
    val (ks, os, kk, mk, schema) = (keys, order, k, maxKeys, child.output)
    child.execute().mapPartitions(
      iter => TopKHeaps.partialBound(iter, ks, os, kk, mk, schema),
      preservesPartitioning = true)
  }
}

/** Final pass: requires rows clustered by key AND sorted by
  * (keys, order) — EnsureRequirements satisfies that with one exchange
  * plus Spark's spill-safe SortExec — then streams each contiguous key
  * group, emitting the first k rows with their 1-based ranks. Holds one
  * key and one counter: O(1) memory at any key cardinality. */
case class TopKPerKeyFinalExec(keys: Seq[Expression], order: Seq[SortOrder],
                               k: Int, rankAttr: Attribute, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (keys.map(SortOrder(_, Ascending)) ++ order) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    keys.map(SortOrder(_, Ascending)) ++ order
  override protected def withNewChildInternal(newChild: SparkPlan) =
    copy(child = newChild)
  override protected def doExecute(): RDD[InternalRow] = {
    val (ks, kk, schema, out) = (keys, k, child.output, output)
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(ks, schema)
      val proj = UnsafeProjection.create(out, out)
      val joined = new JoinedRow
      var curKey: UnsafeRow = null
      var emitted = 0
      iter.flatMap { row =>
        val key = keyProj(row)
        if (curKey == null || key != curKey) {
          curKey = key.copy()
          emitted = 0
        }
        if (emitted < kk) {
          emitted += 1
          Iterator.single(proj(joined(row, InternalRow(emitted))))
        } else Iterator.empty
      }
    }, preservesPartitioning = true)
  }
}
