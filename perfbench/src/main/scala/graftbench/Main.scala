package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes `<out>/report.json` (setup,
  * every op record, heap, host facts) and, for a traced run,
  * `<out>/spans.jsonl`. `perfbench/run.py` builds, launches and summarizes.
  *
  * Phases: setup (session start, fixture warm, warm-up passes until pass
  * time levels off), the untraced timed phase, then, for `--trace 1`, a
  * traced phase of the same length. The traced phase runs passes in pairs,
  * one with the listeners installed and one without, in ABBA order (off on,
  * on off, off on, ...), so that drift from pass to pass cancels out of the
  * tracing overhead computed from the pairs.
  */
object Main {
  /** Warm-up rule: at least `MinWarm` passes; stop once a comparable pass
    * is no longer faster than the previous one by more than `WarmTolerance`,
    * or after `MaxWarm` passes. */
  val MinWarm = 6
  val MaxWarm = 8
  val WarmTolerance = 0.05

  private val FixtureTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val data = args("data")
    val out = args("out")
    val cores = args("cores").toInt
    Files.createDirectories(Paths.get(out, "gate"))

    val t0 = System.nanoTime()
    val spark = graft.engine.Sessions.tune(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.sql.warehouse.dir", Paths.get(out, "warehouse").toString),
      cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = (System.nanoTime() - t0) / 1e9

    // the fixture tables the workload's queries read, by their oracles
    val names = if (workload == "analytics") Workloads.analytics else Nil
    val tables = FixtureTables.filter(t => names.exists(n =>
      graft.SparkEntry.oracleSql.get(n).exists(_.matches(s"(?s).*\\b$t\\b.*"))))
    val t1 = System.nanoTime()
    (if (tables.isEmpty) Seq("events") else tables)
      .foreach(t => spark.read.parquet(s"$data/$t.parquet").count())
    val fixtureWarm = (System.nanoTime() - t1) / 1e9

    val runner = new OpRunner(spark)
    val w: Workload = workload match {
      case "ingest" => new IngestWorkload(spark, runner, args("feed"), out)
      case "analytics" => new QueryWorkload(spark, runner, names, data, seed, s"$out/gate")
    }

    var p = 0
    val warm = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    def steady: Boolean = {
      val cmp = warm.filter(x => w.comparable(x._1)).map(_._2)
      cmp.size >= 2 && cmp.last >= (1 - WarmTolerance) * cmp(cmp.size - 2)
    }
    while (warm.size < MinWarm || (!steady && warm.size < MaxWarm)) {
      warm += p -> w.pass(p); p += 1
    }

    // whole passes (pairs of passes when traced), at least `min` of them,
    // stopping at the boundary closest to `seconds`
    def measure(min: Int)(step: => Unit): Double = {
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      var last = 0.0
      var n = 0
      do {
        val t = System.nanoTime()
        step
        n += 1
        last = (System.nanoTime() - t) / 1e9
      } while (n < min || elapsed + last / 2 < seconds)
      elapsed
    }
    runner.phase = "timed"
    val gc0 = gcMs()
    val timedWall = measure(1) { w.pass(p); p += 1 }
    val timedGc = gcMs() - gc0
    val heapLive = liveHeapMb()

    var tracedInfo: Map[String, Any] = Map.empty
    if (traced) {
      val tracer = new Tracer(spark)
      // one pass with the listeners on or off: its wall time and GC time
      def tracedPass(on: Boolean): (Int, Double, Long) = {
        if (on) { tracer.install(); runner.tracer = Some(tracer) }
        runner.phase = if (on) "traced" else "traced_off"
        val gc0 = gcMs()
        val t = System.nanoTime()
        w.pass(p); p += 1
        val wall = (System.nanoTime() - t) / 1e9
        if (on) { runner.tracer = None; tracer.uninstall() }
        (p - 1, wall, gcMs() - gc0)
      }
      val pairs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      var onGcMs = 0L
      // at least one whole ABBA block
      val wall = measure(2) {
        val first = pairs.size % 2 == 1
        val a = tracedPass(first)
        val b = tracedPass(!first)
        val (off, on) = if (first) (b, a) else (a, b)
        onGcMs += on._3
        pairs += Map("off" -> off._1, "on" -> on._1, "off_s" -> off._2, "on_s" -> on._2)
      }
      val heapAfter = liveHeapMb()
      tracedInfo = Map("wall_s" -> wall, "jvm_gc_s" -> onGcMs / 1000.0,
        "heap_before_mb" -> heapLive, "heap_after_mb" -> heapAfter, "pairs" -> pairs.toList)
      Files.write(Paths.get(out, "spans.jsonl"),
        tracer.snapshot().map(json.writeValueAsString).asJava)
    }
    runner.phase = "gate"
    val gate = w.gate(s"$out/gate")

    val rt = Runtime.getRuntime
    val report = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "host" -> Map("nproc" -> rt.availableProcessors(), "master" -> s"local[$cores]",
        "heap_max_mb" -> rt.maxMemory() / 1048576.0, "spark" -> spark.version,
        "java" -> System.getProperty("java.version")),
      "setup" -> Map("session_start_s" -> sessionStart, "fixture_warm_s" -> fixtureWarm,
        "warm_passes_s" -> warm.map(_._2).toList,
        "warm_comparable" -> warm.map(x => w.comparable(x._1)).toList),
      "timed" -> Map("wall_s" -> timedWall, "jvm_gc_s" -> timedGc / 1000.0),
      "heap_live_mb" -> heapLive,
      "traced" -> tracedInfo,
      "ops" -> runner.records.map(_.toMap).toList,
      "gate" -> gate)
    Files.writeString(Paths.get(out, "report.json"), json.writeValueAsString(report))
    spark.stop()
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use right after a full collection. Spark's context cleaner
    * releases shuffle and broadcast state once a collection finds it
    * unreachable, so collect until that settles. */
  private def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
  }
}
