package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.engine.Sessions

/** Dev probe: where a registered streaming query's wall-clock goes (query
  * start? batch N? state commit?). Runs the SHIPPED query three times on
  * one session and prints, from a StreamingQueryListener, every
  * micro-batch's `durationMs` phases, state rows and input rows.
  * Usage: `sbt "runMain graft.tools.StreamProbe [query]"` (default
  * `stream_left_outer_join`), with SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS
  * honored like [[TimeOne]]. The query's own conf scope sets its state
  * partitions; whole-stage codegen is a `-Dspark.sql.codegen.wholeStage=…`
  * JVM option and the checkpoint filesystem is `GRAFT_TMPDIR`.
  * Measured at local[32], sf0.1: per-batch fixed cost ~0.6-0.9 s
  * regardless of state partitions, codegen or checkpoint filesystem —
  * the incremental micro-batch machinery.
  * Not registered; dev utility like [[RecallProbe]].
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("stream_left_outer_join")
    val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local("streamprobe", cpus.toInt)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val phases = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
        println(s"[probe]   ${Option(p.name).getOrElse(p.id)} batch ${p.batchId}: " +
          s"$phases stateRows=${p.stateOperators.map(_.numRowsTotal).sum} " +
          s"rows=${p.numInputRows}")
      }
    })
    for (round <- 1 to 3) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      println(f"[probe] $name round $round total=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
