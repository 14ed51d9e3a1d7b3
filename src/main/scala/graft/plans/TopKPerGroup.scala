package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, Expression,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator extension demo (ARCHITECTURE §2 ladder, rung c): a
  * custom `LogicalPlan` + `SparkStrategy` + physical operator computing
  * top-k rows per group WITH their rank, in one streaming pass.
  *
  * The built-in plan for "rank ≤ k per group" is Window(row_number) →
  * Filter, which Spark 4 already improves with `WindowGroupLimit`
  * (per-partition pre-pruning) — but still materializes the full window
  * machinery (buffered frames, two operators) to then throw rows away.
  * This operator declares its requirements instead and does the minimal
  * work those requirements enable:
  *
  *  - `requiredChildDistribution` = clustered by the group keys → the
  *    planner inserts exactly one hash exchange (or none if the child is
  *    already co-partitioned — free with bucketed layouts);
  *  - `requiredChildOrdering` = group keys ++ sort keys → the planner
  *    sorts once within partitions;
  *  - execution is then a single forward scan: count rows per group run,
  *    emit row+rank while rank ≤ k, skip the rest. O(1) state — two
  *    buffered keys and a counter — versus the window's per-frame
  *    buffering. Never holds a group in memory, so a billion-row group
  *    costs the same state as a ten-row group at 100 TB.
  */
final case class TopKPerGroup(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "top-k needs k > 0")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKPerGroup {
  /** Fresh rank attribute for a new node (stable exprId thereafter). */
  def rankAttribute(name: String): AttributeReference =
    AttributeReference(name, LongType, nullable = false)()
}

final case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  // the scan preserves the child's (group, order) sort
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  // grouped: co-locate each group (one hash exchange, or none if the
  // child is already clustered); ungrouped: global top-k needs one
  // partition — same contract as a global sort-limit
  override def requiredChildDistribution: Seq[Distribution] =
    if (groupExprs.isEmpty) org.apache.spark.sql.catalyst.plans.physical.AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(groupExprs.map(SortOrder(_, Ascending)) ++ orderExprs)

  protected override def doExecute(): RDD[InternalRow] = {
    val groupList = groupExprs
    val childOutput = child.output
    val outAttrs = output
    val rank = rankAttr
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(groupList, childOutput)
      val outProj = UnsafeProjection.create(outAttrs, childOutput :+ rank)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      new Iterator[InternalRow] {
        private var currentKey: InternalRow = null
        private var rankInGroup = 0L
        private var nextRow: InternalRow = null

        private def advance(): Unit = {
          nextRow = null
          while (nextRow == null && it.hasNext) {
            val row = it.next()
            val key = keyProj(row)
            if (currentKey == null || key != currentKey) {
              currentKey = key.copy() // projection reuses its buffer
              rankInGroup = 0L
            }
            rankInGroup += 1
            if (rankInGroup <= k) {
              rankRow.setLong(0, rankInGroup)
              // copy: this iterator prefetches, so the projection buffer
              // would be overwritten by advance() before the consumer
              // reads the handed-out row
              nextRow = outProj(joined(row, rankRow)).copy()
            } // else: drain the rest of an over-full group without emitting
          }
        }

        advance()
        override def hasNext: Boolean = nextRow != null
        override def next(): InternalRow = {
          val r = nextRow
          advance()
          r
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Map-side partial top-k (guide §2.3 — prune before you shuffle): emits
  * at most k rows per group per INPUT partition for every group it can
  * afford to track, letting the rest pass through unpruned. The global
  * top-k of a group is a subset of the union of the per-partition
  * top-k's (any row outside a partition's local top-k has ≥ k better
  * rows in that partition alone), and passing extra rows through is
  * always safe — the final operator recomputes exact ranks after its
  * exchange — so this prune is best-effort by construction: the same
  * idea as Spark's partial `WindowGroupLimit` insertion, but hash-based
  * instead of sort-based (no ordering requirement, so no map-side sort
  * of the full input; that sort measured strictly worse at every local
  * size). State per partition is a bounded hash map of ≤ maxGroups
  * per-group k-heaps; a hot group — a 3-value key at 100 TB — reaches
  * its reducer already pruned to k rows per map task, instead of one
  * reducer sorting n/3 rows.
  */
final case class TopKPerGroupPartialExec(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    maxGroups: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  // heap-buffered rows are flushed at partition end, after pass-through
  // rows — no ordering survives
  override def outputOrdering: Seq[SortOrder] = Nil

  protected override def doExecute(): RDD[InternalRow] = {
    val groupList = groupExprs
    val orderList = orderExprs
    val childOutput = child.output
    val limit = k
    val groupCap = maxGroups
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(groupList, childOutput)
      // generated comparator over the sort keys: lt(a, b) = a ranks first
      val ord = org.apache.spark.sql.catalyst.expressions.codegen
        .GenerateOrdering.generate(orderList, childOutput)
      // per group: the k best rows seen, as a max-heap on `ord` so the
      // currently-worst kept row is O(1) to inspect and replace
      val heaps = new java.util.HashMap[InternalRow, java.util.PriorityQueue[InternalRow]]()
      new Iterator[InternalRow] {
        private var flush: java.util.Iterator[java.util.PriorityQueue[InternalRow]] = null
        private var flushHeap: java.util.Iterator[InternalRow] = null
        private var nextRow: InternalRow = null

        private def advance(): Unit = {
          nextRow = null
          while (nextRow == null && it.hasNext) {
            val row = it.next()
            val heap = heaps.get(keyProj(row))
            if (heap != null) {
              if (heap.size < limit) heap.add(row.copy())
              else if (ord.compare(row, heap.peek()) < 0) {
                heap.poll(); heap.add(row.copy())
              } // else: provably outside this partition's top-k — drop
            } else if (heaps.size < groupCap) {
              val h = new java.util.PriorityQueue[InternalRow](ord.reverse)
              h.add(row.copy())
              heaps.put(keyProj(row).copy(), h)
            } else {
              // state cap reached: pass through unpruned (still correct).
              // copy: prefetch means the upstream row buffer may be
              // rewritten before the consumer reads the handed-out row
              nextRow = row.copy()
            }
          }
          if (nextRow == null) { // input drained: flush the heaps
            if (flush == null) flush = heaps.values().iterator()
            while (nextRow == null &&
                ((flushHeap != null && flushHeap.hasNext) || flush.hasNext)) {
              if (flushHeap == null || !flushHeap.hasNext) flushHeap = flush.next().iterator()
              if (flushHeap.hasNext) nextRow = flushHeap.next()
            }
          }
        }

        advance()
        override def hasNext: Boolean = nextRow != null
        override def next(): InternalRow = {
          val r = nextRow
          advance()
          r
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupPartialExec =
    copy(child = newChild)
}

/** Plans the logical node; everything else falls through to the built-in
  * strategies. Installed by [[graft.GraftExtensions]] when the session
  * is built.
  *
  * `spark.graft.topk.partial` (default on) inserts the map-side partial
  * prune below the final operator; the exchange the final node's
  * distribution requirement induces then moves only survivors.
  */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerGroup =>
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val partial = conf.getConfString("spark.graft.topk.partial", "true").toBoolean
      val maxGroups = conf.getConfString("spark.graft.topk.partial.maxGroups", "65536").toInt
      val child =
        if (partial)
          TopKPerGroupPartialExec(t.groupExprs, t.orderExprs, t.k, maxGroups, planLater(t.child))
        else planLater(t.child)
      TopKPerGroupExec(t.groupExprs, t.orderExprs, t.k, t.rankAttr, child) :: Nil
    case _ => Nil
  }
}
