package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.pipeline.IncrementalPipeline
import graft.sources.ChangeFeed
import graft.streaming.StreamingPipeline

/** A workload runs in passes: a pass of a query workload issues each of its
  * queries once, a pass of `ingest` runs a batch tick and an empty tick. */
trait Workload {
  /** Runs pass `p` and returns the summed wall time of its ops, seconds. */
  def pass(p: Int): Double
  /** Whether pass `p` does the same work as other comparable passes, for
    * the warm-up rule. */
  def comparable(p: Int): Boolean = true
  /** Writes what the correctness gate compares into `dir`. */
  def gate(dir: String): Map[String, Any]
}

object Workloads {
  /** Queries of `analytics`: the reference's four and TPC-H Q1. A run
    * issues all of them once per pass, in an order drawn from the seed. An
    * odd count keeps the median op inside one query's samples rather than
    * at the gap between a fast and a slow half. */
  val analytics: Seq[String] = Seq(
    "q1_perf_over_time", "q2_top_mass", "q3_ship_delay", "q4_segment_util",
    "q1_pricing_summary")
}

/** Registered queries, each op one query run to a fully collected result.
  * The first successful result of each query is the reference: it is
  * dumped for the DuckDB gate and every later result must carry the same
  * digest. */
final class QueryWorkload(spark: SparkSession, runner: OpRunner, names: Seq[String],
    data: String, seed: Long, gateDir: String) extends Workload {
  private val fns = SparkEntry.queries
  private val reference = mutable.Map.empty[String, (Long, Long)]

  def order(p: Int): Seq[String] = new scala.util.Random(seed * 1000003L + p).shuffle(names)

  def pass(p: Int): Double = order(p).map { name =>
    val (rec, out) = runner.run(name, "operators", p)(fns(name)(spark, data))
    if (rec.ok) {
      val (rows, schema) = out.asInstanceOf[(Array[Row], StructType)]
      val fp = Fingerprint.of(rows)
      reference.get(name) match {
        case None =>
          reference(name) = fp
          if (SparkEntry.oracleSql.contains(name))
            GateDump.write(spark, rows, schema, s"$gateDir/$name")
        case Some(ref) if ref != fp =>
          runner.fail(rec, s"result digest $fp differs from the reference $ref")
        case _ => ()
      }
    }
    rec.wallS
  }.sum

  def gate(dir: String): Map[String, Any] = Map(
    "oracle" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
    "checked" -> reference.keys.toSeq.sorted)
}

/** `ingest`: the pipeline over a seeded feed. A tick lands the tick's batch
  * file, if it has one, then runs `IncrementalPipeline.run` and its
  * streaming twin `StreamingPipeline.runAvailableNow` over the landed files;
  * when a batch landed, it also runs `MERGE INTO` a flat and a partitioned
  * catalog table, reads the tick's change feed and the previous version,
  * and, when the schedule gives a cutoff, deletes older rows from both
  * tables and expires their old versions, and ends with an aggregate over
  * the flat table. Pass 0 is tick 0, the initial load; pass p > 0 is ticks
  * 2p - 1 and 2p.
  *
  * Tick files and cutoffs come from `<feed>/schedule.tsv`, one line per
  * tick: `tick <TAB> file-or-"-" <TAB> cutoff-micros-or-"-"`. */
final class IngestWorkload(spark: SparkSession, runner: OpRunner, feed: String,
    work: String) extends Workload {
  import IngestWorkload._

  private val schedule: IndexedSeq[(Option[String], Option[Long])] =
    scala.io.Source.fromFile(s"$feed/schedule.tsv").getLines().map { line =>
      val f = line.split("\t")
      (Some(f(1)).filter(_ != "-").map(n => s"$feed/$n"), Some(f(2)).filter(_ != "-").map(_.toLong))
    }.toIndexedSeq
  private val landing = s"$work/landing"
  private val store = new IncrementalPipeline.Store(spark, s"$work/pipeline")
  private val streamStore = new IncrementalPipeline.Store(spark, s"$work/streaming")
  private lazy val schema = spark.read.parquet(schedule(0)._1.get).schema
  private var version = 0
  val runs = mutable.ArrayBuffer.empty[Map[String, Any]]

  spark.conf.set("spark.sql.catalog.graft_cat", classOf[graft.sources.GraftCatalog].getName)

  /** Pass 0 is the initial load; every later pass does the same work. */
  override def comparable(p: Int): Boolean = p > 0

  def pass(p: Int): Double =
    (if (p == 0) Seq(0) else Seq(2 * p - 1, 2 * p)).map(tick(p, _)).sum

  private def tick(p: Int, t: Int): Double = {
    def op(name: String)(call: => Any): (OpRecord, Any) = {
      val (rec, out) = runner.run(name, name.takeWhile(_ != '.'), p)(call)
      runner.annotate(rec, Map("tick" -> t))
      (rec, out)
    }
    require(t < schedule.size, s"the feed has ${schedule.size} ticks; tick $t was asked for")
    val batch = schedule(t)._1.map { src =>
      val dst = Paths.get(landing, Paths.get(src).getFileName.toString)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(src), dst)
      src
    }
    val landed = System.nanoTime()
    val recs = mutable.ArrayBuffer.empty[OpRecord]
    val (pr, res) = op("pipeline.run")(
      IncrementalPipeline.run(store, spark.read.parquet(landing), t + 1L))
    recs += pr
    if (pr.ok) {
      val r = res.asInstanceOf[IncrementalPipeline.RunResult]
      runner.annotate(pr, Map("status" -> r.status))
      runs += Map("tick" -> t, "status" -> r.status, "found" -> r.newFound,
        "dropped" -> r.dropped, "inserted" -> r.inserted, "total" -> r.totalAfter)
    }
    recs += op("streaming.run")(StreamingPipeline.runAvailableNow(
      spark, schema, landing, streamStore, s"$work/streaming_checkpoint"))._1
    batch.foreach { file =>
      def valid = spark.read.parquet(file).filter(IncrementalPipeline.isValid)
      if (t == 0) {
        recs += op("sources.create")(valid.writeTo(Flat).create())._1
        recs += op("sources.create_partitioned")(
          valid.writeTo(Parts).partitionedBy(col("event_type")).create())._1
      } else {
        valid.createOrReplaceTempView("perfbench_batch")
        def merge(table: String) = spark.sql(
          s"""MERGE INTO $table t USING perfbench_batch s ON t.event_id = s.event_id
             |WHEN MATCHED AND s.ts > t.ts THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        recs += op("sources.merge")(merge(Flat))._1
        val last = op("sources.merge_partitioned")(merge(Parts))._1
        recs += last
        // the batch is fresh once both pipelines and both tables committed it
        runner.annotate(last, Map("freshness_s" -> (System.nanoTime() - landed) / 1e9))
        version += 1
        recs += op("sources.changes")(
          ChangeFeed.tableChanges(spark, FlatShort, version - 1, version))._1
        recs += op("sources.time_travel")(
          spark.sql(s"SELECT * FROM $Flat VERSION AS OF ${version - 1}"))._1
      }
    }
    schedule(t)._2.foreach { cutoffMicros =>
      val cutoff = s"TIMESTAMP_MICROS($cutoffMicros)"
      recs += op("sources.delete")(spark.sql(s"DELETE FROM $Flat WHERE ts < $cutoff"))._1
      recs += op("sources.delete")(spark.sql(s"DELETE FROM $Parts WHERE ts < $cutoff"))._1
      version += 1
      Seq(FlatShort, PartsShort).foreach { table =>
        recs += op("sources.expire")(
          spark.sql(s"CALL graft_cat.system.expire_versions('$table', $KeepVersions)"))._1
      }
    }
    if (batch.isDefined) recs += op("sources.scan")(spark.sql(
      s"""SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
         |max(ts) AS latest FROM $Flat GROUP BY event_type ORDER BY event_type""".stripMargin))._1
    recs.map(_.wallS).sum
  }

  def gate(dir: String): Map[String, Any] = {
    def dump(df: DataFrame, name: String): Unit = {
      val rows = df.select("event_id", "ts", "user_id", "event_type", "value")
      GateDump.write(spark, rows.collect(), rows.schema, s"$dir/$name")
    }
    dump(spark.table(Flat), "ingest_flat")
    dump(spark.table(Parts), "ingest_partitioned")
    store.launches.foreach(dump(_, "ingest_pipeline"))
    streamStore.launches.foreach(dump(_, "ingest_streaming"))
    Map("runs" -> runs.toList)
  }
}

object IngestWorkload {
  val FlatShort = "bench.events_flat"
  val PartsShort = "bench.events_parts"
  val Flat = s"graft_cat.$FlatShort"
  val Parts = s"graft_cat.$PartsShort"
  /** Versions `expire_versions` keeps: the head and the one the next
    * tick's change feed and time-travel read start from. */
  val KeepVersions = 2
}
