package graft.tools

import java.nio.file.{Files, Paths}

import graft.engine.Sessions

/** Dumps the FINAL adaptive physical plan (post-execution) of the named
  * registered queries — unlike [[Explain]]/`explain("formatted")`, which
  * print the initial plan (`isFinalPlan=false`), this executes the query
  * first so AQE's runtime rewrites (ReusedExchange, AQEShuffleRead
  * coalescing, join-strategy flips) are visible in the dump (VERDICT r20
  * #5: the kcore one-broadcast-per-round claim is invisible in an
  * initial-plan dump).
  *
  * Usage: runMain graft.tools.FinalPlanDump <outDir> <suffix> q1,q2,...
  * Writes <outDir>/<query>_<suffix>.txt per query. Core count honors
  * SPARK_GRAFT_CPUS (default 32 — the driver's bench shape).
  */
object FinalPlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: FinalPlanDump <outDir> <suffix> q1,q2,...")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("finalplandump", cpus)
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(outDir)
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      // collect() executes THIS QueryExecution, so its adaptive plan
      // finalizes; count() would run a derived one and leave it initial
      df.collect()
      val qe = df.queryExecution
      val txt = new StringBuilder
      txt ++= s"== $n — FINAL adaptive plan (post-execution, sf dir $dir, local[$cpus]) ==\n\n"
      txt ++= qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      txt ++= "\n== executedPlan (AQE-final operator tree) ==\n\n"
      txt ++= qe.executedPlan.toString
      Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), txt.toString)
      println(s"[finalplan] wrote ${n}_$suffix.txt")
    }
    spark.stop()
  }
}
