package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Descending, Expression, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.IntegerType
import scala.collection.mutable

/** Top-k-per-group as a first-class operator — the (c)-tier extension of
  * the build brief: custom LogicalPlan + SparkStrategy + SparkPlan.
  *
  * The composable form (`row_number().over(Window.partitionBy(g).orderBy
  * (o)) <= k`, q7) shuffles EVERY row to its group's reducer and sorts
  * full groups before discarding all but k. This operator plans a
  * map-side partial pass first — per input partition, a bounded heap per
  * group keeps only its local top k — so the shuffle moves at most
  * k × groups × partitions rows regardless of input size (TPC-H orders:
  * k=3 caps ~38 rows/customer at 3). That is TakeOrderedAndProject's
  * trick applied per group: the standard 100 TB fix for heavy-hitter
  * groups under a ranking query.
  *
  * Semantics are identical to the window form given a total sort order
  * (callers must include a tie-break column, same as the reference's
  * deterministic newest-wins selection, calorista/main.py:96-105).
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  require(groupExprs.nonEmpty, "TopKPerGroup needs at least one group column")
  require(k >= 1, s"k must be >= 1, got $k")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rn originates HERE, not in the child — without this CheckAnalysis
  // reports it "missing from input"
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Map-side partial: bounded heap per group per partition. Memory is
  * O(groups-in-partition × k), independent of rows. */
case class TopKPerGroupPartialExec(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupPartialExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val groupE = groupExprs
    val sortE = sortOrder
    val limit = k
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      val groupProj = UnsafeProjection.create(groupE, childOutput)
      // "first k in sort order" ⇒ keep the k SMALLEST under the generated
      // ordering; PriorityQueue dequeues the ordering's maximum, so the
      // current worst survivor is always at the head, ready to evict
      val ord: Ordering[InternalRow] = GenerateOrdering.generate(sortE, childOutput)
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = groupProj(row)
        heaps.get(key) match {
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](ord)
            h.enqueue(row.copy())
            heaps.put(key.copy(), h)
          case Some(h) =>
            if (h.size < limit) h.enqueue(row.copy())
            else if (ord.compare(row, h.head) < 0) { h.dequeue(); h.enqueue(row.copy()) }
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }, preservesPartitioning = true)
  }
}

/** Reduce-side final: requires clustering on the group keys and a
  * (group, sort) ordering — EnsureRequirements inserts the (already
  * k-bounded) exchange and sort — then streams each group emitting the
  * first k rows with a rank column appended. No group is ever buffered. */
case class TopKPerGroupFinalExec(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override def outputPartitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (groupExprs.map(SortOrder(_, Ascending)) ++ sortOrder) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupFinalExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val groupE = groupExprs
    val limit = k
    val childOutput = child.output
    val outAttrs = output
    child.execute().mapPartitions({ iter =>
      val groupProj = UnsafeProjection.create(groupE, childOutput)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val rankRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      val joined = new JoinedRow
      var currentKey: UnsafeRow = null
      var rank = 0
      iter.flatMap { row =>
        val key = groupProj(row)
        if (currentKey == null || key != currentKey) {
          currentKey = key.copy()
          rank = 0
        }
        rank += 1
        if (rank <= limit) {
          rankRow.update(0, rank)
          Some(outProj(joined(row, rankRow)): InternalRow)
        } else None
      }
    }, preservesPartitioning = true)
  }
}

/** Planner strategy: TopKPerGroup ⇒ partial (map-side) + final. */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, s, k, rank, child) =>
      TopKPerGroupFinalExec(g, s, k, rank,
        TopKPerGroupPartialExec(g, s, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** DataFrame-facing builder. */
object TopK {

  /** Top `k` rows per group of `groupCols`, ordered by `orderCols`
    * ((name, ascending) — include a unique tie-break for determinism),
    * with a 1-based IntegerType rank appended as `rankName`. */
  def perGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[(String, Boolean)],
      k: Int,
      rankName: String = "rn"): DataFrame = {
    val spark = df.sparkSession
    // synchronized: extraStrategies is a read-modify-write on shared
    // session state — two queries registering concurrently (any
    // multi-threaded client of one session) could otherwise lose the
    // update and leave a TopKPerGroup node with no matching strategy
    TopKPerGroupStrategy.synchronized {
      if (!spark.experimental.extraStrategies.contains(TopKPerGroupStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ TopKPerGroupStrategy
    }
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${analyzed.output.map(_.name).mkString(", ")}"))
    val order = orderCols.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    val rank = AttributeReference(rankName, IntegerType, nullable = false)()
    Bridge.ofRows(spark, TopKPerGroup(groupCols.map(attr), order, k, rank, analyzed))
  }
}
