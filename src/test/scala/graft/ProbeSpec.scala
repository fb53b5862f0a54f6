package graft

import graft.examples.Probe

/** The probe main's `cost` and `plan` modes, driven in the test session. */
class ProbeSpec extends SparkSpec {
  private val Sf = "/root/testdata/sf0.001"

  // g_square is one loop-free job; g_anomalies runs several jobs
  for (q <- Seq("g_square", "g_anomalies"))
    test(s"cost: two runs of $q count the same jobs, stages and tasks; its jobs sum to the totals") {
      val runs = Probe.cost(spark, Sf, q)
      runs should have size 2
      runs.map(r => (r.jobs, r.stages, r.tasks)).distinct should have size 1
      runs.foreach { r =>
        r.jobs should be > 0
        r.stages should be > 0
        r.tasks should be > 0
        r.perJob should have size r.jobs.toLong
        r.perJob.map(_.stages).sum shouldBe r.stages
        r.perJob.map(_.tasks).sum shouldBe r.tasks
        r.perJob.map(_.taskMs).sum shouldBe r.taskMs
      }
    }

  test("cost: each STATS line reports the run's codegen compiles and compile time, both >= 0") {
    val runs = Probe.cost(spark, Sf, "g_square")
    runs.zipWithIndex.foreach { case (r, i) =>
      r.compiles should be >= 0L
      r.compileMs should be >= 0.0
      val line = Probe.statsLine("g_square", i + 1, r)
      line should include(s"compiles=${r.compiles} ")
      line should fullyMatch regex """STATS g_square run\d .* compiles=\d+ compile_ms=\d+\.\d"""
    }
  }

  test("cost: g_anomalies runs more than one job") {
    Probe.cost(spark, Sf, "g_anomalies").head.jobs should be > 1
  }

  test("plan: the exchange count is the Exchange lines of the executed plan") {
    val (_, exchanges) = Probe.plan(spark, Sf, "g_anomalies")
    val q = SparkEntry.queries("g_anomalies")(spark, Sf)
    q.collect()
    val expected = q.queryExecution.executedPlan.toString.linesIterator
      .count(_.contains("Exchange"))
    exchanges should have size expected.toLong
    expected should be > 0
  }
}
