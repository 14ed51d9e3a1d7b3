package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, Expression,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType
import scala.collection.immutable.ListMap

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

/** Appends a node's SQL metrics, in declaration order, to its
  * `explain("formatted")` entry, which otherwise lists only the
  * arguments; after execution the values are totals over all tasks.
  */
sealed trait MetricsInExplain extends SparkPlan {
  override def verboseStringWithOperatorId(): String =
    super.verboseStringWithOperatorId() + metrics.values
      .map(m => s"${m.name.getOrElse("?")}: ${m.value}")
      .mkString("Metrics: [", ", ", "]\n")
}

final case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode with MetricsInExplain {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  // the scan preserves the child's (group, order) sort
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  // the scan holds one group key at a time, so it has no budget and
  // nothing passes through
  override lazy val metrics: Map[String, SQLMetric] = ListMap(
    "rowsIn" -> SQLMetrics.createMetric(sparkContext, "rows in"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "rows out"),
    "groups" -> SQLMetrics.createMetric(sparkContext, "groups"))

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
    val rowsIn = longMetric("rowsIn")
    val rowsOut = longMetric("numOutputRows")
    val groups = longMetric("groups")
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
            rowsIn += 1
            val key = keyProj(row)
            if (currentKey == null || key != currentKey) {
              currentKey = key.copy() // projection reuses its buffer
              rankInGroup = 0L
              groups += 1
            }
            rankInGroup += 1
            if (rankInGroup <= k) {
              rankRow.setLong(0, rankInGroup)
              // copy: this iterator prefetches, so the projection buffer
              // would be overwritten by advance() before the consumer
              // reads the handed-out row
              nextRow = outProj(joined(row, rankRow)).copy()
              rowsOut += 1
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
  * size). A hot group — a 3-value key at 100 TB — reaches its reducer
  * already pruned to k rows per map task, instead of one reducer
  * sorting n/3 rows.
  *
  * State per partition is a hash map of per-group k-heaps, bounded in
  * BYTES: the retained rows plus the group keys, sized by their
  * `UnsafeRow` bytes, stay within `budgetBytes`. A row that would push
  * the state past the budget (a new group, a heap still filling, or a
  * better row replacing a smaller one) passes through unpruned and is
  * counted in the "over-budget pass-through rows" metric. A row is
  * dropped only while its group's heap holds k better rows, and a heap
  * row leaves only for a better one, so every dropped row still has k
  * better rows in the output.
  */
final case class TopKPerGroupPartialExec(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    budgetBytes: Long,
    child: SparkPlan) extends UnaryExecNode with MetricsInExplain {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  // heap-buffered rows are flushed at partition end, after pass-through
  // rows — no ordering survives
  override def outputOrdering: Seq[SortOrder] = Nil

  override lazy val metrics: Map[String, SQLMetric] = ListMap(
    "rowsIn" -> SQLMetrics.createMetric(sparkContext, "rows in"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "rows out"),
    "groups" -> SQLMetrics.createMetric(sparkContext, "groups tracked"),
    "passThrough" -> SQLMetrics.createMetric(sparkContext, "over-budget pass-through rows"),
    // summed over tasks, like Spark's own "peak memory"
    "peakBytes" -> SQLMetrics.createSizeMetric(sparkContext, "peak bytes held"))

  protected override def doExecute(): RDD[InternalRow] = {
    val groupList = groupExprs
    val orderList = orderExprs
    val childOutput = child.output
    val schema = child.schema
    val limit = k
    val budget = budgetBytes
    val rowsIn = longMetric("rowsIn")
    val rowsOut = longMetric("numOutputRows")
    val groups = longMetric("groups")
    val passThrough = longMetric("passThrough")
    val peakBytes = longMetric("peakBytes")
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(groupList, childOutput)
      // child rows are almost always UnsafeRows already
      lazy val toUnsafe = UnsafeProjection.create(schema)
      // a retained row is an UnsafeRow copy, so its size is exact
      def retain(row: InternalRow): UnsafeRow = (row match {
        case u: UnsafeRow => u
        case r => toUnsafe(r)
      }).copy()
      // generated comparator over the sort keys: lt(a, b) = a ranks first
      val ord = org.apache.spark.sql.catalyst.expressions.codegen
        .GenerateOrdering.generate(orderList, childOutput)
      // per group: the k best rows seen, as a max-heap on `ord` so the
      // currently-worst kept row is O(1) to inspect and replace
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      new Iterator[InternalRow] {
        private var held = 0L
        private var peak = 0L
        private var flush: java.util.Iterator[java.util.PriorityQueue[UnsafeRow]] = null
        private var flushHeap: java.util.Iterator[UnsafeRow] = null
        private var nextRow: InternalRow = null

        private def advance(): Unit = {
          nextRow = null
          while (nextRow == null && it.hasNext) {
            val row = it.next()
            rowsIn += 1
            val key = keyProj(row)
            val heap = heaps.get(key)
            val full = heap != null && heap.size >= limit
            if (!full || ord.compare(row, heap.peek()) < 0) {
              val kept = retain(row)
              val keyCopy = if (heap == null) key.copy() else null
              val grow = kept.getSizeInBytes.toLong +
                (if (keyCopy != null) keyCopy.getSizeInBytes else 0) -
                (if (full) heap.peek().getSizeInBytes else 0)
              if (held + grow > budget) {
                // over budget: pass through unpruned (still exact). The
                // row is a copy: prefetch means the upstream buffer may
                // be rewritten before the consumer reads it
                passThrough += 1
                nextRow = kept
              } else {
                held += grow
                peak = math.max(peak, held)
                if (heap == null) {
                  val h = new java.util.PriorityQueue[UnsafeRow](ord.reverse)
                  h.add(kept)
                  heaps.put(keyCopy, h)
                  groups += 1
                } else {
                  if (full) heap.poll()
                  heap.add(kept)
                }
              }
            } // else: provably outside this partition's top-k — drop
          }
          if (nextRow == null) { // input drained: flush the heaps
            if (flush == null) {
              flush = heaps.values().iterator()
              peakBytes += peak
            }
            while (nextRow == null &&
                ((flushHeap != null && flushHeap.hasNext) || flush.hasNext)) {
              if (flushHeap == null || !flushHeap.hasNext) flushHeap = flush.next().iterator()
              if (flushHeap.hasNext) nextRow = flushHeap.next()
            }
          }
          if (nextRow != null) rowsOut += 1
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

/** Plans the logical node as the map-side partial prune below the final
  * operator; the exchange the final node's distribution requirement
  * induces then moves only survivors. Everything else falls through to
  * the built-in strategies. Installed by [[graft.GraftExtensions]] when
  * the session is built.
  */
object TopKPerGroupStrategy extends SparkStrategy {
  /** The partial prune's state budget per task, in `UnsafeRow` bytes of
    * retained rows and group keys. The heaps live on the plain JVM heap,
    * outside Spark's managed memory, in the "user memory" share:
    * (heap − 300 MiB) × 0.4 ≈ 290 MiB at Spark's default 1 GiB executor.
    * Four concurrent tasks at 16 MiB each, plus the Java object overhead
    * per row and per heap (about as much again for narrow rows), stay
    * inside that share.
    */
  val PartialBudgetBytes: Long = 16L << 20

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerGroup =>
      val partial = TopKPerGroupPartialExec(
        t.groupExprs, t.orderExprs, t.k, PartialBudgetBytes, planLater(t.child))
      TopKPerGroupExec(t.groupExprs, t.orderExprs, t.k, t.rankAttr, partial) :: Nil
    case _ => Nil
  }
}
