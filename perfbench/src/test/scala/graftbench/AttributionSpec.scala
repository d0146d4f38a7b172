package graftbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Spans reach the op that caused them through the local property: jobs a
  * query function runs eagerly before it returns, the job that collects
  * its result, and jobs of a streaming query's micro-batches, which run on
  * the stream's own thread. */
class AttributionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("AttributionSpec").config("spark.ui.enabled", "false").getOrCreate()
  private lazy val runner = new OpRunner(spark)
  private lazy val tracer = new Tracer(spark)

  override def beforeAll(): Unit = {
    tracer.install()
    runner.tracer = Some(tracer)
    runner.phase = "traced"
  }

  override def afterAll(): Unit = spark.stop()

  private def jobsOf(op: Long) =
    tracer.snapshot().filter(s => s("kind") == "job" && s("op") == op)

  test("a query function's eager jobs and its result job carry the op's property") {
    val (rec, _) = runner.run("eager", "operators", 0) {
      spark.range(100).selectExpr("id % 3 AS k").distinct().count()
      spark.range(10).toDF("x")
    }
    assert(rec.ok)
    val jobs = jobsOf(rec.id)
    assert(jobs.size >= 2)
    assert(jobs.forall(_("by_property") == true))
    assert(tracer.snapshot().exists(s => s("kind") == "exec" && s("op") == rec.id))
  }

  test("jobs of a streaming query's micro-batches carry the op's property") {
    val root = Files.createTempDirectory("attribution")
    val dir = root.resolve("src").toString
    spark.range(50).toDF("v").write.mode("overwrite").parquet(dir)
    val ckpt = root.resolve("checkpoint").toString
    val (rec, _) = try runner.run("stream", "streaming", 0) {
      val q = spark.readStream.schema("v LONG").parquet(dir)
        .groupBy().count()
        .writeStream.format("memory").queryName("attribution_sink").outputMode("complete")
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table("attribution_sink")
    } finally {
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
    assert(rec.ok)
    val spans = tracer.snapshot().filter(_("op") == rec.id)
    val batches = spans.filter(_("kind") == "batch")
    assert(batches.nonEmpty)
    def within(j: Map[String, Any], b: Map[String, Any]) =
      j("start_ms").asInstanceOf[Long] >= b("start_ms").asInstanceOf[Long] &&
        j("start_ms").asInstanceOf[Long] <= b("end_ms").asInstanceOf[Long]
    val batchJobs = jobsOf(rec.id).filter(j => batches.exists(within(j, _)))
    assert(batchJobs.nonEmpty)
    assert(batchJobs.forall(_("by_property") == true))
  }
}
