package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, SparkEntry}

/** Times registered queries on Bench's warmed session and shows where each
  * rep's time went, as listeners saw it: every SQL execution
  * (statement-level timing for DML scripts) with the Spark jobs and tasks
  * it ran, and every streaming micro-batch's phases, state rows and input
  * rows.
  *
  * Usage: `sbt "runMain graft.tools.Probe <q1,q2,...> [reps] [--plans <dir>] [--rows <n>]"`,
  * with the fixture dir and core count read by [[Bench.warmSession]]. Per
  * rep it prints `build_s` (calling the query function) and `run_s`
  * (`collect()`, the result a user of the query gets; `count()` would let
  * Catalyst drop work such as a root sort); per query the min and median
  * of their sum. A `sql` line names its `spark.sql.execution.id` and
  * description, and each job line the execution it ran in (`-` for none).
  * `--plans <dir>` writes `<dir>/<query>.txt`: the executed plan of the
  * last query execution the listener saw, which has run, so an adaptive
  * plan is final. `--rows <n>` shows the first n result rows.
  */
object Probe {
  final case class Opts(names: Seq[String], reps: Int = 3,
      plans: Option[String] = None, rows: Option[Int] = None)

  /** A SQL execution by its `spark.sql.execution.id`; `ms` is -1 when it
    * failed. */
  final case class Exec(id: Long, description: String, ms: Long)
  /** A query execution as the [[QueryExecutionListener]] reported it. */
  final case class Plan(name: String, qe: QueryExecution)
  /** What the listeners recorded; `jobs` and `batches` hold one printed
    * line per Spark job and per streaming micro-batch. */
  final case class Recorded(jobs: Seq[String], execs: Seq[Exec], batches: Seq[String], plans: Seq[Plan])
  /** One rep. */
  final case class Rep(buildS: Double, runS: Double, recorded: Recorded) {
    def jobs: Seq[String] = recorded.jobs
    def execs: Seq[Exec] = recorded.execs
    def batches: Seq[String] = recorded.batches
  }

  private val usage = "usage: Probe <q1,q2,...> [reps] [--plans <dir>] [--rows <n>]"

  def parse(args: Seq[String]): Opts = {
    def go(rest: List[String], o: Opts): Opts = rest match {
      case Nil => o
      case "--plans" :: dir :: t => go(t, o.copy(plans = Some(dir)))
      case "--rows" :: n :: t => go(t, o.copy(rows = Some(n.toInt)))
      case q :: t if o.names.isEmpty && !q.startsWith("--") => go(t, o.copy(names = q.split(",").toSeq))
      case n :: t if n.nonEmpty && n.forall(_.isDigit) => go(t, o.copy(reps = n.toInt))
      case bad :: _ => throw new IllegalArgumentException(s"$usage (unexpected '$bad')")
    }
    val o = go(args.toList, Opts(Nil))
    require(o.names.nonEmpty && o.reps > 0, usage)
    val unknown = o.names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries ${unknown.mkString(", ")}; registered: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    o
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toSeq)
    val (spark, sfDir) = Bench.warmSession()
    try run(spark, sfDir, opts) finally spark.stop()
  }

  /** Runs each query `opts.reps` times with a [[Recorder]] attached, prints
    * every rep and returns them per query. The recorder is detached on
    * success and on failure.
    */
  def run(spark: SparkSession, sfDir: String, opts: Opts,
      recorder: Recorder = new Recorder): Seq[(String, Seq[Rep])] = {
    recorder.attach(spark)
    try opts.names.map { name =>
      val fn = SparkEntry.queries(name)
      recorder.drain(spark)
      recorder.take()
      val reps = (1 to opts.reps).map { i =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.collect()
        val t2 = System.nanoTime()
        recorder.drain(spark)
        val rep = Rep((t1 - t0) / 1e9, (t2 - t1) / 1e9, recorder.take())
        println(f"[probe] $name%s rep $i: build_s=${rep.buildS}%.3f run_s=${rep.runS}%.3f " +
          s"jobs=${rep.jobs.size} sql=${rep.execs.size} batches=${rep.batches.size}")
        (rep.execs.map(e => s"sql ${e.id} (${e.description}) ${e.ms} ms") ++ rep.jobs ++ rep.batches)
          .foreach(line => println(s"[probe]   $line"))
        rep
      }
      val totals = reps.map(r => r.buildS + r.runS).sorted
      val n = totals.size
      val median = (totals((n - 1) / 2) + totals(n / 2)) / 2
      println(f"[probe] $name%s min_s=${totals.head}%.3f median_s=$median%.3f")
      for (dir <- opts.plans; last <- reps.last.recorded.plans.lastOption) {
        val out = Paths.get(dir, s"$name.txt")
        Files.createDirectories(out.getParent)
        Files.writeString(out, s"== $name: ${last.name}, $sfDir ==\n\n" +
          last.qe.explainString(FormattedMode))
        println(s"[probe] wrote $out")
      }
      opts.rows.foreach(fn(spark, sfDir).show(_, truncate = false))
      name -> reps
    } finally recorder.detach(spark)
  }

  private val SentinelProp = "graft.probe.sentinel"

  /** A [[SparkListener]], a [[QueryExecutionListener]] and a
    * [[StreamingQueryListener]] recording into buffers that [[take]]
    * empties. Listener delivery is asynchronous, so read only after
    * [[drain]].
    */
  final class Recorder {
    private val jobs = mutable.ArrayBuffer.empty[String]
    private val execs = mutable.ArrayBuffer.empty[Exec]
    private val batches = mutable.ArrayBuffer.empty[String]
    private val plans = mutable.ArrayBuffer.empty[Plan]
    private val sentinels = new AtomicInteger(0)
    private val streamsRunning = new AtomicInteger(0)

    private def record[T](buf: mutable.ArrayBuffer[T], t: T): Unit =
      synchronized { buf += t; () }

    def take(): Recorded = synchronized {
      val r = Recorded(jobs.toSeq, execs.toSeq, batches.toSeq, plans.toSeq)
      jobs.clear(); execs.clear(); batches.clear(); plans.clear()
      r
    }

    // called on the bus's one thread for its queue, so its maps need no lock
    private object jobListener extends SparkListener {
      private final class Open(val start: SparkListenerJobStart) { var tasks = 0 }
      private val open = mutable.Map.empty[Int, Open]
      private val byStage = mutable.Map.empty[Int, Open]
      private val running = mutable.Map.empty[Long, SparkListenerSQLExecutionStart]

      private def describe(s: SparkListenerSQLExecutionStart): String =
        s.description.replaceAll("\\s+", " ").take(80)

      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => running(s.executionId) = s
        case end: SparkListenerSQLExecutionEnd => running.remove(end.executionId).foreach { s =>
          record(execs, Exec(s.executionId, describe(s),
            if (end.errorMessage.exists(_.nonEmpty)) -1 else end.time - s.time))
        }
        case _ =>
      }

      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (Option(e.properties).exists(_.getProperty(SentinelProp) != null)) sentinels.incrementAndGet()
        else {
          val o = new Open(e)
          open(e.jobId) = o
          e.stageIds.foreach(byStage(_) = o)
        }
        ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = byStage.get(e.stageId).foreach(_.tasks += 1)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = open.remove(e.jobId).foreach { o =>
        val s = o.start
        s.stageIds.foreach(byStage.remove)
        val execution = Option(s.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        val described = execution.flatMap(id => running.get(id.toLong)).fold("")(x => s" (${describe(x)})")
        val site = s.stageInfos.maxByOption(_.stageId).fold("")(_.name)
        record(jobs, s"job ${e.jobId} execution=${execution.getOrElse("-")}$described tasks=${o.tasks} " +
          s"${e.time - s.time} ms $site")
      }
    }

    private object execListener extends QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(plans, Plan(s"$funcName ${qe.logical.nodeName}", qe))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(plans, Plan(s"$funcName ${qe.logical.nodeName} failed", qe))
    }

    // QueryStartedEvent reaches this listener synchronously; the rest go
    // through the bus's streams queue, so [[drain]] waits for a
    // termination per start
    private object streamListener extends StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = { streamsRunning.incrementAndGet(); () }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = { streamsRunning.decrementAndGet(); () }
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val phases = p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v}ms" }
        record(batches, s"batch ${Option(p.name).getOrElse(p.id)}#${p.batchId} ${phases.mkString(" ")} " +
          s"state_rows=${p.stateOperators.map(_.numRowsTotal).sum} input_rows=${p.numInputRows}")
      }
    }

    def attach(spark: SparkSession): Unit = {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(execListener)
      spark.streams.addListener(streamListener)
    }

    def detach(spark: SparkSession): Unit = {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(execListener)
      spark.streams.removeListener(streamListener)
    }

    /** Waits until every event posted so far has been delivered: the bus
      * delivers a queue's events in order, so once a sentinel job's start
      * is seen, every earlier job, task and SQL execution event has been
      * too; streaming progress has its own queue and ends with the query's
      * termination event.
      */
    def drain(spark: SparkSession): Unit = {
      val sc = spark.sparkContext
      val seen = sentinels.get
      sc.setLocalProperty(SentinelProp, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(SentinelProp, null)
      def pending = sentinels.get <= seen || streamsRunning.get > 0
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (pending && System.nanoTime() < deadline) Thread.sleep(5)
      require(!pending, "the listener bus did not deliver the probe's events within 30 s")
    }
  }
}
