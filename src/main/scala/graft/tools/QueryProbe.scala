package graft.tools

/** Dev probe: time a list of registered queries N reps each in ONE warmed
  * session — the isolation A/B for per-query bench regressions (VERDICT r12
  * #1: `sim_pq_topk` 0.53→1.27 s with no operator change). The full Bench
  * reports min-of-2 inside a 225-query sequence, so a per-query move can be
  * either operator cost or ambient JVM state (heap occupancy, GC pressure,
  * pinned checkpoint blocks) accumulated from the 100+ queries that ran
  * before it; this probe isolates the operator. Usage:
  *   runMain graft.tools.QueryProbe q1,q2,... [sfDir] [reps]
  * Not registered; dev utility like [[StreamProbe]].
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val names =
      if (args.nonEmpty) args(0).split(",").toSeq
      else Seq("sim_pq_topk", "stream_interval_join")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Sessions.local("graft-queryprobe", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // same warmup as Bench so rep 1 doesn't carry session-construction cost
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => graft.engine.Tables.table(spark, sfDir, t).count())
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name%-28s ${ts.map(t => f"$t%.3f").mkString(" ")}  min=${ts.min}%.3f")
    }
    spark.stop()
  }
}
