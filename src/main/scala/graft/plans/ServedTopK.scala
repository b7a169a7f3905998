package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, WholeStageCodegenExec}

/**
 * The tail of every served top-k ([[AnnTopKRewrite]]'s `inPlan`): the
 * first `k` rows of `child` by `order`, projected through `projectList`.
 * It replaces the Sort+Limit(+Project) Spark would plan as
 * `TakeOrderedAndProjectExec`, whose collect goes through `RDD.takeOrdered`
 * and so cleans three closures per query on the driver (each an ASM parse
 * of `RDD`'s class file). `child` is the candidate-restricted scan, so it
 * is small; the order is the original plan's, so the rows are the same.
 */
case class ServedTopK(k: Int, order: Seq[SortOrder], projectList: Seq[NamedExpression],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def maxRows: Option[Long] = Some(k.toLong)
  override protected def withNewChildInternal(c: LogicalPlan): ServedTopK = copy(child = c)
}

/** Plans [[ServedTopK]] as [[ServedTopKExec]]; installed next to the rule
  * ([[AnnTopKRewrite.install]], [[GraftSparkExtensions]]). */
object ServedTopKStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ServedTopK(k, order, projectList, child) =>
      ServedTopKExec(k, order, projectList, planLater(child)) :: Nil
    case _ => Nil
  }
}

/**
 * [[ServedTopK]] as ONE bare Spark job ([[graft.core.BareJob]], step
 * `ann.topk`) of [[ServedTopKExec.TopKTask]] over the child's rows: each
 * partition keeps its first k rows by the sort keys, the driver merges
 * them in partition order, takes k and projects. Sort keys, ordering and
 * projection are all interpreted, so a query with new literals generates
 * no class. Ties keep the scan's order: partition, then row.
 *
 * `doExecute` (the node under a count, an outer limit, a join or a union)
 * runs the same job when the parent plan is executed and hands its rows
 * on as one partition.
 */
case class ServedTopKExec(k: Int, order: Seq[SortOrder], projectList: Seq[NamedExpression],
    child: SparkPlan) extends UnaryExecNode {
  import ServedTopKExec._

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition

  /** The key row's ordering: the sort orders, rebound to key slots. */
  private def keyOrdering: InterpretedOrdering = new InterpretedOrdering(
    order.zipWithIndex.map { case (o, i) =>
      SortOrder(BoundReference(i, o.dataType, o.nullable), o.direction, o.nullOrdering, Nil) })

  override def executeCollect(): Array[InternalRow] = {
    val ord = keyOrdering
    val keys = BindReferences.bindReferences(order.map(_.child), child.output)
    // the candidate scan runs without the whole-stage codegen stage Spark
    // wrapped it in: its rows are few, and the stage would generate its
    // code and clean its partition closure on the driver per query
    val rows = child match {
      case w: WholeStageCodegenExec => w.child.execute()
      case p => p.execute()
    }
    val parts = graft.core.BareJob.run("ann.topk", rows, new TopKTask(k, keys, ord))
    val proj = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(projectList, child.output))
    parts.flatten.sortBy(_._1)(ord).iterator.take(k)
      .map { case (_, row) => proj(row).copy(): InternalRow }.toArray
  }

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override protected def withNewChildInternal(c: SparkPlan): ServedTopKExec = copy(child = c)
}

object ServedTopKExec {
  private final case class Kept(key: InternalRow, seq: Long, row: InternalRow)

  /** One partition's first `k` (sort-key row, row) pairs, sorted by the
    * keys and then by arrival. Each row's keys are evaluated once; a row
    * is copied only when it enters the heap. */
  final class TopKTask(k: Int, keys: Seq[Expression], ord: Ordering[InternalRow])
      extends ((TaskContext, Iterator[InternalRow]) => Array[(InternalRow, InternalRow)])
      with Serializable {
    def apply(ctx: TaskContext, it: Iterator[InternalRow])
        : Array[(InternalRow, InternalRow)] = {
      val keys = this.keys.toArray
      // max-heap on (key, arrival): the head is the kept row a newcomer must beat
      val worstFirst: java.util.Comparator[Kept] = (a, b) => {
        val c = ord.compare(b.key, a.key)
        if (c != 0) c else java.lang.Long.compare(b.seq, a.seq)
      }
      val heap = new java.util.PriorityQueue[Kept](math.min(math.max(1, k), 1024), worstFirst)
      var seq = 0L
      while (it.hasNext) {
        val row = it.next()
        val key = new GenericInternalRow(keys.map(_.eval(row): Any))
        if (heap.size < k) heap.add(Kept(key, seq, row.copy()))
        else if (k > 0 && ord.compare(key, heap.peek().key) < 0) {
          heap.poll()
          heap.add(Kept(key, seq, row.copy()))
        }
        seq += 1
      }
      val out = heap.toArray(new Array[Kept](0))
      java.util.Arrays.sort(out, worstFirst.reversed())
      out.map(e => (e.key, e.row))
    }
  }
}
