package graft

import graft.examples.Probe

/** The probe main's `cost` and `plan` modes and Bench's sweep ledger, driven in the test session. */
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
    val runs = Probe.cost(spark, Sf, "g_anomalies")
    runs.head.jobs should be > 1
    // adaptive stage jobs are named by their query's action, not by the
    // thread pool that submitted them
    runs.flatMap(_.perJob).foreach(_.site should not include "withThreadLocalCaptured")
  }

  test("sweep: two sweeps record equal, positive per-query costs; the detail carries them") {
    val qs = Seq("g_anomalies", "g_square")
    val sweeps = (1 to 2).map(_ => Bench.sweep(spark, Sf, qs))
    def counts(s: Bench.Sweep) = s.results.map { case (q, t) =>
      val c = t.cost.get
      q -> Seq(c.jobs.toLong, c.stages.toLong, c.tasks.toLong, c.total.shuffleRead, c.total.shuffleWrite)
    }
    counts(sweeps(0)) shouldBe counts(sweeps(1))
    // g_square reads an ordered range and shuffles nothing; g_anomalies does
    val byQuery = counts(sweeps(0)).toMap
    for (q <- qs) withClue(q) { all(byQuery(q).take(3)) should be > 0L }
    all(byQuery("g_anomalies")) should be > 0L
    val detail = new com.fasterxml.jackson.databind.ObjectMapper().readTree(sweeps(0).detail)
    detail.has("isolated") shouldBe false
    detail.get("n_queries").asInt shouldBe qs.size
    val cost = detail.get("queries_cost")
    for (q <- qs; f <- Seq("jobs", "stages", "tasks", "task_ms", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes"))
      withClue(s"$q.$f") { cost.get(q).get(f).isIntegralNumber shouldBe true }
    cost.get("g_square").get("jobs").asLong shouldBe byQuery("g_square").head
    sweeps(0).headline should not include "isolated"
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
