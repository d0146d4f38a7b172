package graft.plans

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.unsafe.Platform

/** Plans the root global sort of a batch query, `ReturnAnswer(Sort(order,
  * global = true, child))`, optionally under a column-pruning `Project`
  * (`SELECT a … ORDER BY b`), as an [[OrderedCollectExec]]. Spark plans
  * `ORDER BY … LIMIT n` the same way (`TakeOrderedAndProjectExec`); this
  * is the unlimited case. Only the root of the answer matches, so
  * `count()`, `take`/`show` (a `Limit` on top), writes (a command on top)
  * and streaming plans keep their plans. Injected by
  * [[graft.GraftExtensions]].
  */
object OrderedCollectStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(s @ Sort(order, true, child, _)) if !s.isStreaming =>
      OrderedCollectExec(order, child.output, planLater(child)) :: Nil
    case ReturnAnswer(p @ Project(list, Sort(order, true, child, _)))
        if !p.isStreaming && list.forall(_.isInstanceOf[Attribute]) =>
      OrderedCollectExec(order, list.map(_.toAttribute), planLater(child)) :: Nil
    case _ => Nil
  }
}

/** A root ORDER BY whose result goes to the driver.
  *
  * `executeCollect()` runs one job: each partition of `child` arrives
  * sorted by a local `SortExec` (EnsureRequirements inserts it for
  * `requiredChildOrdering`, and it spills like any sort), and the driver
  * k-way merges the sorted runs in O(n log k). A global sort would range
  * partition first, which costs a sampling job and one more shuffle
  * stage to move rows that all end up on the driver anyway.
  *
  * `doExecute()` serves the callers that want a parallel result (`.rdd`
  * of the plan, `toLocalIterator`, `cache()`, Arrow): it runs the range
  * exchange and global sort the plan would have had without this node,
  * so the result is range partitioned and globally ordered, as
  * `outputPartitioning` and `outputOrdering` state.
  */
case class OrderedCollectExec(
    sortOrder: Seq[SortOrder],
    projectList: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = sortOrder :: Nil

  // a sort key the projection drops orders the rows but cannot be named
  private def orderVisible: Boolean = sortOrder.forall(_.references.subsetOf(outputSet))

  override def outputOrdering: Seq[SortOrder] = if (orderVisible) sortOrder else Nil

  override def outputPartitioning: Partitioning =
    if (orderVisible) RangePartitioning(sortOrder, conf.numShufflePartitions)
    else UnknownPartitioning(conf.numShufflePartitions)

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val numFields = child.output.size
    val runs = sparkContext.runJob(child.execute(), OrderedCollectExec.encode _)
    val merged = OrderedCollectExec.merge(
      runs.toSeq.map(OrderedCollectExec.decode(_, numFields)),
      RowOrdering.create(sortOrder, child.output))
    if (projectList == child.output) merged
    else {
      val project = UnsafeProjection.create(projectList, child.output)
      merged.map(project(_).copy())
    }
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val exchange = ShuffleExchangeExec(RangePartitioning(sortOrder, conf.numShufflePartitions), child)
    val sorted = SortExec(sortOrder, global = true, exchange)
    (if (projectList == child.output) sorted else ProjectExec(projectList, sorted)).execute()
  }

  override protected def withNewChildInternal(newChild: SparkPlan): OrderedCollectExec =
    copy(child = newChild)
}

object OrderedCollectExec {
  /** One partition's rows as `[size][bytes]…` ending in size -1. */
  private def encode(rows: Iterator[InternalRow]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    val buffer = new Array[Byte](4096)
    rows.foreach { r =>
      val row = r.asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buffer)
    }
    out.writeInt(-1)
    out.flush()
    bytes.toByteArray
  }

  /** The rows of [[encode]], each pointing into `bytes`. */
  private def decode(bytes: Array[Byte], numFields: Int): Iterator[InternalRow] = {
    val in = ByteBuffer.wrap(bytes)
    Iterator.continually(in.getInt).takeWhile(_ >= 0).map { size =>
      val row = new UnsafeRow(numFields)
      row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + in.position(), size)
      in.position(in.position() + size)
      row
    }
  }

  /** Merges sorted runs; equal rows keep the order of their runs. */
  private[graft] def merge(runs: Seq[Iterator[InternalRow]], ord: Ordering[InternalRow]): Array[InternalRow] = {
    val out = mutable.ArrayBuilder.make[InternalRow]
    // PriorityQueue dequeues its greatest element: invert both keys
    val heads = mutable.PriorityQueue.empty[(BufferedIterator[InternalRow], Int)](
      Ordering.fromLessThan[(BufferedIterator[InternalRow], Int)] { case ((a, i), (b, j)) =>
        val c = ord.compare(a.head, b.head)
        c > 0 || (c == 0 && i > j)
      })
    runs.iterator.zipWithIndex.foreach { case (run, i) => if (run.hasNext) heads.enqueue((run.buffered, i)) }
    while (heads.nonEmpty) {
      val (run, i) = heads.dequeue()
      out += run.next()
      if (run.hasNext) heads.enqueue((run, i))
    }
    out.result()
  }
}
