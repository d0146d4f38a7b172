package graft

import java.nio.file.{Files, Paths}

import graft.tools.Probe

/** [[Probe]] on the shared session: the plan it dumps is the executed
  * (final) one, DML scripts and streaming queries report their statements
  * and micro-batches, unknown names fail with the registry, and its
  * listeners are gone once it returns.
  */
class ProbeSpec extends SparkSpec {
  private def probe(names: String*)(opts: Probe.Opts => Probe.Opts = identity,
      recorder: Probe.Recorder = new Probe.Recorder): Seq[Probe.Rep] =
    Probe.run(spark, sfDir, opts(Probe.parse(Seq(names.mkString(","), "2"))), recorder)
      .flatMap(_._2)

  test("--plans writes the final adaptive plan of the execution the listener saw") {
    val dir = tmpDir("graft-probe-plans")
    probe("q3_ship_delay")(_.copy(plans = Some(dir)))
    val plan = Files.readString(Paths.get(dir, "q3_ship_delay.txt"))
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(!plan.contains("isFinalPlan=false"), plan)
  }

  test("run_s times collect(), and each job line names its SQL execution") {
    val dir = tmpDir("graft-probe-collect")
    val reps = probe("q1_perf_over_time")(_.copy(plans = Some(dir)))
    // count() would drop the root sort; collect() plans it
    assert(Files.readString(Paths.get(dir, "q1_perf_over_time.txt")).contains("OrderedCollect"))
    reps.foreach { r =>
      val ids = r.execs.map(_.id.toString).toSet
      val tagged = r.jobs.flatMap(j => "execution=(\\d+) \\(".r.findFirstMatchIn(j).map(_.group(1)))
      assert(tagged.nonEmpty && tagged.size == r.jobs.size, r.jobs)
      assert(tagged.forall(ids), (r.jobs, r.execs))
      assert(r.execs.exists(e => e.description.startsWith("collect at") && e.ms >= 0), r.execs)
    }
  }

  test("a DML script reports each statement as its own SQL execution") {
    val reps = probe("sql_merge_into")()
    assert(reps.size == 2)
    reps.foreach { r =>
      assert(r.execs.size >= 2, r.execs)
      assert(r.jobs.nonEmpty)
    }
  }

  test("a streaming query reports its micro-batches") {
    val reps = probe("stream_tumbling_window")()
    reps.foreach(r => assert(r.batches.nonEmpty))
    assert(reps.flatMap(_.batches).forall(b => "input_rows=[1-9]".r.findFirstIn(b).isDefined))
  }

  test("an unknown query name fails and lists the registered names") {
    val e = intercept[IllegalArgumentException](Probe.parse(Seq("q3_ship_delay,no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(e.getMessage.contains("q3_ship_delay") && e.getMessage.contains("stream_tumbling_window"))
  }

  test("no Probe listener stays registered after it returns, on success or failure") {
    val done = new Probe.Recorder
    probe("stream_tumbling_window")(recorder = done)
    val failed = new Probe.Recorder
    intercept[Exception](
      Probe.run(spark, "/nonexistent-fixtures", Probe.parse(Seq("q3_ship_delay")), failed))
    // a delivery already in flight when a listener is removed may still
    // land: let it, then start counting
    val settle = new Probe.Recorder
    settle.attach(spark)
    try settle.drain(spark) finally settle.detach(spark)
    Seq(done, failed).foreach(_.take())
    // a later probe of a streaming query drains all three listener queues
    val later = probe("stream_tumbling_window")()
    assert(later.forall(r => r.jobs.nonEmpty && r.execs.nonEmpty && r.batches.nonEmpty))
    Seq(done, failed).foreach(r => assert(r.take() == Probe.Recorded(Nil, Nil, Nil, Nil)))
  }
}
