package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts on the shared session. The
  * listener bus delivers events in order, so once a sentinel job's start
  * is seen, every earlier job's start has been too; sentinel jobs are not
  * counted.
  */
object JobCount {
  private val SentinelProp = "graft.test.sentinel"

  private object counter extends SparkListener {
    val jobs = new AtomicInteger(0)
    val sentinels = new AtomicInteger(0)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(SentinelProp) != null))
        sentinels.incrementAndGet()
      else jobs.incrementAndGet()
  }

  private lazy val sc = {
    val sc = SparkSpec.session.sparkContext
    sc.addSparkListener(counter)
    sc
  }

  private def drain(): Unit = {
    val seen = counter.sentinels.get
    sc.setLocalProperty(SentinelProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelProp, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (counter.sentinels.get <= seen && System.nanoTime() < deadline) Thread.sleep(5)
    assert(counter.sentinels.get > seen, "listener bus did not deliver the sentinel job")
  }

  /** `body`'s result and the number of Spark jobs it started. */
  def during[T](body: => T): (T, Int) = {
    drain()
    val before = counter.jobs.get
    val r = body
    drain()
    (r, counter.jobs.get - before)
  }
}
