package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records spans from outside the program, through the three listener kinds
  * Spark offers, and keeps them in memory; [[snapshot]] returns them.
  *
  * Each benchmark op runs with the local property [[Tracer.OpProperty]] set
  * to its id. Spark copies local properties into every job the op starts,
  * including jobs of streaming micro-batches, whose execution thread
  * inherits the property from the thread that started the query. Events
  * that carry no properties (SQL executions, Catalyst phases, streaming
  * progress) are attributed to the op in flight: the caller drains the
  * listener bus before an op ends, so no event of one op is delivered
  * during the next.
  *
  * Record kinds: `job`, `stage`, `exec` (one SQL execution, i.e. an
  * action), `qe` (its Catalyst phases and MERGE row counts, joined to
  * `exec` by id) and `batch` (one streaming micro-batch). Times are epoch
  * milliseconds.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile private var currentOp: Long = NoOp
  private val records = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobs = mutable.Map.empty[Int, (Long, Long, Option[Long], Boolean)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[(Int, Int), TaskSums]
  private val execs = mutable.Map.empty[Long, (Long, Long, Long)]

  private def add(r: Map[String, Any]): Unit = records.synchronized { records += r }

  private def propOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(OpProperty))).map(_.toLong)

  private def opOf(props: java.util.Properties): Long = propOf(props).getOrElse(currentOp)

  private final class TaskSums {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var launchMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs(e.jobId) = (opOf(e.properties), e.time, exec, propOf(e.properties).isDefined)
      e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { case (op, start, exec, byProperty) =>
        add(Map("kind" -> "job", "op" -> op, "id" -> e.jobId, "exec" -> exec,
          "by_property" -> byProperty, "start_ms" -> start, "end_ms" -> e.time,
          "ok" -> (e.jobResult == JobSucceeded)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageOp(e.stageInfo.stageId) = opOf(e.properties)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskSums)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.launchMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val s = stageTasks.remove((si.stageId, si.attemptNumber())).getOrElse(new TaskSums)
      add(Map("kind" -> "stage", "op" -> stageOp.getOrElse(si.stageId, currentOp),
        "id" -> si.stageId, "job" -> stageJob.get(si.stageId),
        "start_ms" -> si.submissionTime.getOrElse(0L),
        "end_ms" -> si.completionTime.getOrElse(0L),
        "tasks" -> s.tasks, "task_run_ms" -> s.runMs, "task_cpu_ns" -> s.cpuNs,
        "task_launch_ms" -> s.launchMs, "gc_ms" -> s.gcMs,
        "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead,
        "spill_bytes" -> s.spill))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId) =
            (currentOp, s.time, s.rootExecutionId.getOrElse(s.executionId))
        case s: SparkListenerSQLExecutionEnd =>
          execs.remove(s.executionId).foreach { case (op, start, root) =>
            add(Map("kind" -> "exec", "op" -> op, "id" -> s.executionId,
              "root" -> root, "start_ms" -> start, "end_ms" -> s.time,
              "ok" -> s.errorMessage.forall(_.isEmpty)))
          }
        case _ => ()
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      phases(funcName, qe)
    private def phases(funcName: String, qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def secs(phase: String) = p.get(phase).map(_.durationMs / 1000.0).getOrElse(0.0)
      // a MERGE's row counts, read where the rows are merged
      val merged = collect(qe.executedPlan) {
        case m if m.getClass.getSimpleName == "MergeRowsExec" => m.metrics
      }
      def rows(metric: String) = merged.map(_.get(metric).map(_.value).getOrElse(0L)).sum
      add(Map("kind" -> "qe", "op" -> currentOp, "id" -> qe.id, "name" -> funcName,
        "analysis_s" -> secs("analysis"), "optimization_s" -> secs("optimization"),
        "planning_s" -> secs("planning"),
        "merge_rows" -> Map("copied" -> rows("numTargetRowsCopied"),
          "inserted" -> rows("numTargetRowsInserted"), "updated" -> rows("numTargetRowsUpdated"),
          "deleted" -> rows("numTargetRowsDeleted"))))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      add(Map("kind" -> "batch", "op" -> currentOp, "id" -> p.batchId,
        "start_ms" -> start, "end_ms" -> (start + d.getOrElse("triggerExecution", 0L)),
        "duration_ms" -> d.toMap, "input_rows" -> p.numInputRows))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Removes the listeners; call between ops, after [[end]] drained them. */
  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Marks `op` as the op in flight for events that carry no properties. */
  def begin(op: Long): Unit = currentOp = op

  /** Waits until every event of the op in flight is recorded. */
  def end(): Unit = {
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
    currentOp = NoOp
  }

  def snapshot(): Seq[Map[String, Any]] = records.synchronized(records.toList)
}

object Tracer {
  val OpProperty = "graftbench.op"
  val NoOp: Long = -1L
}
