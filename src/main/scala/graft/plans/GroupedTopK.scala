package graft.plans

import graft.SizeGate
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators
import org.apache.spark.SparkEnv
import scala.collection.mutable

/** Grouped top-k as a first-class operator — the one place in this engine
  * where the built-ins genuinely can't express the efficient plan. The
  * declarative formulation (`row_number().over(partitionBy(keys).orderBy
  * (ord)) <= k`, our Relational.latestPerKey shape) must fully SORT every
  * partition: O(n log n) comparisons and sort-spill pressure at 100 TB,
  * even though only k rows per key survive. This operator keeps a bounded
  * heap per key instead: O(n log k) comparisons, memory O(keys·k) per
  * partition, one shuffle (ClusteredDistribution on the keys) — same
  * result set as the window formulation for any total `order`.
  *
  * Memory safety at high key cardinality: the heap map is bounded at
  * `graft.SizeGate.TopKKeys` distinct keys (2^18; under the
  * `distributed` gate mode at none, so every partition takes the sorter
  * path). A partition that exceeds it degrades to Spark's spilling
  * UnsafeExternalRowSorter — sort by (keys, order), stream the first k
  * rows of each key group with O(1) extra memory — so the operator keeps
  * the heap's O(n log k) fast path where it fits and the window plan's
  * sort-spill robustness where it doesn't, per partition, at run time.
  * The SQL metrics `sorterPartitions` and `sorterRows` count the
  * partitions and rows that took the sorter path.
  *
  * Wired through the full extension stack: logical node → planner
  * Strategy → physical UnaryExecNode, registered per-session.
  */
case class GroupedTopK(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"grouped top-k needs k >= 1, got $k")
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedTopK =
    copy(child = newChild)
}

case class GroupedTopKExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "sorterPartitions" ->
      SQLMetrics.createMetric(sparkContext, "partitions handed to the sorter"),
    "sorterRows" ->
      SQLMetrics.createMetric(sparkContext, "rows handed to the sorter"))

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val maxKeys =
      if (SizeGate.mode(session) == "auto") SizeGate.TopKKeys else 0L
    val childOutput = child.output
    val childSchema = child.schema
    val keysLocal = keys
    val orderLocal = order
    val pageSize = SparkEnv.get.memoryManager.pageSizeBytes
    val sorterPartitions = longMetric("sorterPartitions")
    val sorterRows = longMetric("sorterRows")
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keysLocal, childOutput)
      val ord = GenerateOrdering.generate(orderLocal, childOutput)
      // max-heap by `ord`: head is the WORST currently-kept row per key
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      var overflowRow: InternalRow = null
      while (it.hasNext && overflowRow == null) {
        val row = it.next()
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(heap) =>
            if (heap.size < kLocal) heap.enqueue(row.copy())
            else if (ord.compare(row, heap.head) < 0) {
              heap.dequeue(); heap.enqueue(row.copy())
            }
          case None =>
            if (heaps.size >= maxKeys) overflowRow = row.copy()
            else {
              val heap = mutable.PriorityQueue.empty[InternalRow](ord)
              heap.enqueue(row.copy())
              heaps.put(key.copy(), heap)
            }
        }
      }
      if (overflowRow == null) {
        heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator) // best-first
      } else {
        // Key cardinality exceeded the in-memory bound: hand everything —
        // the buffered heap rows, the overflow row, the rest of the input
        // — to the spilling external sorter, ordered by (keys, order),
        // then stream the first k rows per key group.
        val fullOrder = keysLocal.map(e => SortOrder(e, Ascending)) ++ orderLocal
        val sortOrd = GenerateOrdering.generate(fullOrder, childOutput)
        // constant prefix: all discrimination happens in the record
        // comparator (same fallback SortExec uses for prefix-less types)
        val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
          private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
          override def computePrefix(row: InternalRow)
              : UnsafeExternalRowSorter.PrefixComputer.Prefix = { p.value = 0L; p }
        }
        val sorter = UnsafeExternalRowSorter.create(
          childSchema, sortOrd, PrefixComparators.LONG, prefixComputer,
          pageSize, false)
        val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
        def unsafe(r: InternalRow): UnsafeRow = r match {
          case u: UnsafeRow => u
          case other => toUnsafe(other)
        }
        val buffered = heaps.valuesIterator.flatMap(_.iterator)
        sorterPartitions += 1
        val sorted = sorter.sort(
          (buffered ++ Iterator.single(overflowRow) ++ it).map { r =>
            sorterRows += 1
            unsafe(r)
          })
        heaps.clear()
        new Iterator[InternalRow] {
          private var curKey: UnsafeRow = null
          private var emitted = 0
          private var nextRow: InternalRow = null
          private def advance(): Unit = {
            nextRow = null
            while (nextRow == null && sorted.hasNext) {
              val row = sorted.next()
              val key = keyProj(row)
              if (curKey == null || key != curKey) {
                curKey = key.copy(); emitted = 0
              }
              // copy: the sorter's iterator reuses its row buffer, and we
              // look one row ahead of what the consumer holds
              if (emitted < kLocal) { emitted += 1; nextRow = row.copy() }
            }
          }
          advance()
          override def hasNext: Boolean = nextRow != null
          override def next(): InternalRow = {
            val r = nextRow; advance(); r
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupedTopKExec =
    copy(child = newChild)
}

object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopK(keys, order, k, child) =>
      GroupedTopKExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

object GroupedTopK {
  /** Per-key top-k rows ordered by `(column, ascending)` pairs — make the
    * order total (include a unique id) for determinism. Columns are bound
    * to the input's resolved attributes (Spark 4's Column wrapper is
    * opaque to generic resolution inside custom logical nodes, so the
    * operator takes names and resolves them itself). */
  def topKPerKey(
      df: DataFrame,
      keyCols: Seq[String],
      order: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    require(k >= 1, s"grouped top-k needs k >= 1, got $k")
    val spark = df.sparkSession
    register(spark)
    val analyzed = ColumnBridge.plan(df)
    def attr(name: String): Expression =
      analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${analyzed.output.map(_.name).mkString(", ")}"))
    val sortOrders = order.map { case (name, asc) =>
      SortOrder(attr(name), if (asc) Ascending else Descending)
    }
    ColumnBridge.ofRows(spark,
      GroupedTopK(keyCols.map(attr), sortOrders, k, analyzed))
  }

  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(GroupedTopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GroupedTopKStrategy
    }
}
