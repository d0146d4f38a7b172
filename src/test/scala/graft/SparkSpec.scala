package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, ScalaTest default
  * sequential execution). sf0.001 fixtures keep suites fast.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  private val tmpDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh temp dir, deleted when the suite ends. */
  def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try tmpDirs.forEach(d => graft.engine.StagedRoots.deleteRecursively(d))
    finally super.afterAll()

  /** Shared ScalaCheck runner for the property suites (Spark-backed
    * properties are expensive — a handful of cases each staging a tmp
    * parquet dir is the right budget, not the 100-case default).
    */
  def checkProp(p: org.scalacheck.Prop, minTests: Int = 10): Unit = {
    import org.scalacheck.{Test => SCTest}
    // explicit seed so a rare falsification is REPLAYABLE from the
    // failure message (r19: one full-suite LifecycleProperties
    // falsification left no way to reproduce — the args print, but a
    // generator this shaped needs the seed to re-walk shrinking).
    // GRAFT_PROP_SEED replays a recorded seed exactly (r20: used to
    // adjudicate the r19 one-shot — the seeded walk passed in a quiet
    // environment; the one failure correlated with concurrent sbt
    // runs sharing target/, see ADVICE).
    // a malformed override must REFUSE, not silently fall back to a
    // random seed — a typo'd replay that "passes" would adjudicate a
    // real falsification as noise (review r20)
    val seed = sys.env.get("GRAFT_PROP_SEED") match {
      case Some(s) => org.scalacheck.rng.Seed.fromBase64(s).fold(
        e => throw new IllegalArgumentException(
          s"GRAFT_PROP_SEED '$s' is not a valid base64 seed", e),
        identity)
      case None => org.scalacheck.rng.Seed.random()
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(minTests).withInitialSeed(seed), p)
    assert(res.passed,
      s"${res.status.toString} (replay seed: ${seed.toBase64})")
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.engine.Sessions.local("graft-test", 4)
}
