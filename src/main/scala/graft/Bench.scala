package graft

import scala.collection.mutable

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

object Bench {
  /** Core count of every graft main's session (`SPARK_GRAFT_CPUS`). */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
  /** Timed runs per query for Bench and the probes (`SPARK_GRAFT_BENCH_RUNS`). */
  val runs: Int = scala.util.Try(sys.env("SPARK_GRAFT_BENCH_RUNS").trim.toInt)
    .getOrElse(3).max(1)
  /** The one local session of Bench, Verify and the examples:
    * `local[cpus]`, one shuffle partition per core, UTC, UI off. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
  /** Warm up codegen/JIT + the parquet reader path so the first measured
    * query doesn't absorb session startup cost. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(2000000).selectExpr("sum(id * 2)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000).collect()
  }
  /** The timed region: wall seconds of one run of `fn` into the noop sink,
    * which materializes every output column (count() would let Catalyst
    * prune the computation under measurement) and writes nothing. */
  def timed(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): Double = {
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Scheduler counts of one Spark job, or of a whole run (id -1):
    * completed stages, ended tasks and their summed duration, and the
    * tasks' shuffle read/write and spill (memory + disk) bytes. `site`
    * names the action that launched the job. */
  final case class JobCost(id: Int, site: String, stages: Int = 0, tasks: Int = 0,
      taskMs: Long = 0L, shuffleRead: Long = 0L, shuffleWrite: Long = 0L, spill: Long = 0L) {
    def +(o: JobCost): JobCost = copy(stages = stages + o.stages, tasks = tasks + o.tasks,
      taskMs = taskMs + o.taskMs, shuffleRead = shuffleRead + o.shuffleRead,
      shuffleWrite = shuffleWrite + o.shuffleWrite, spill = spill + o.spill)
  }

  /** One run's wall time, its scheduler totals, the generated classes it
    * compiled and their compile time (Spark's codegen cache misses), and
    * its jobs in start order. */
  final case class RunCost(wall: Double, total: JobCost, compiles: Long,
      compileMs: Double, perJob: Seq[JobCost]) {
    def jobs: Int = perJob.size
    def stages: Int = total.stages
    def tasks: Int = total.tasks
    def taskMs: Long = total.taskMs
  }

  /** Counts every job, completed stage and ended task since `reset`, in
    * total and per job (a stage belongs to the last started job that
    * lists it). A job that runs for a SQL execution — AQE's stage jobs
    * included — is named by the action that started the execution's root;
    * a job outside any execution (an `RDD` action) by its result stage,
    * whose name is its call site. The listener bus calls it from its own
    * thread. */
  final class CostListener extends SparkListener {
    private val jobs = mutable.LinkedHashMap[Int, JobCost]()
    private val stageJob = mutable.Map[Int, Int]()
    private val executions = mutable.Map[Long, String]()
    private var total = JobCost(-1, "")

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        executions(s.executionId) =
          s.rootExecutionId.flatMap(executions.get).getOrElse(s.description)
      }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val execution = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobs(j.jobId) = JobCost(j.jobId, execution.flatMap(id => executions.get(id.toLong))
        .getOrElse(j.stageInfos.lastOption.map(_.name).getOrElse("?")))
      j.stageIds.foreach(stageJob(_) = j.jobId)
    }
    private def add(stageId: Int, c: JobCost): Unit = synchronized {
      total += c
      stageJob.get(stageId).foreach(id => jobs(id) += c)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      add(s.stageInfo.stageId, JobCost(-1, "", stages = 1))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = Option(t.taskMetrics)
      add(t.stageId, JobCost(-1, "", tasks = 1,
        taskMs = if (t.taskInfo != null) t.taskInfo.duration else 0L,
        shuffleRead = m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
        shuffleWrite = m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
        spill = m.fold(0L)(x => x.memoryBytesSpilled + x.diskBytesSpilled)))
    }
    def reset(): Unit = synchronized {
      jobs.clear(); stageJob.clear(); executions.clear(); total = JobCost(-1, "")
    }
    def result(wall: Double, compiles: Long, compileMs: Double): RunCost = synchronized {
      RunCost(wall, total, compiles, compileMs, jobs.values.toList)
    }
  }

  /** `body` with one [[CostListener]] attached to the session. */
  def withCostListener[A](spark: SparkSession)(body: CostListener => A): A = {
    val listener = new CostListener
    spark.sparkContext.addSparkListener(listener)
    try body(listener) finally spark.sparkContext.removeSparkListener(listener)
  }

  /** One [[timed]] run of `fn` counted by `listener`. The bus is drained
    * before and after, outside the timed region, so the run counts only
    * its own events. Compiles and compile time are the deltas of Spark's
    * JVM-wide codegen counters (`CodegenMetrics`, `CodeGenerator`). */
  def costed(spark: SparkSession, sfDir: String, fn: (SparkSession, String) => DataFrame,
      listener: CostListener): RunCost = {
    ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext, 10000)
    listener.reset()
    val (c0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val wall = timed(spark, sfDir, fn)
    val (c1, ns1) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext, 10000)
    listener.result(wall, c1 - c0, (ns1 - ns0) / 1e6)
  }

  /** One query's record: the min and median wall of its `runs` trials
    * (-1 when a trial failed) and the counts of its last trial. */
  final case class Trial(min: Double, median: Double, cost: Option[RunCost])

  /** Per-query values rounded to ~1 ms (half-to-even): full-precision
    * doubles overflowed a ~2000-char capture of stdout's tail. The
    * totals are rounded AFTER summing, so the map entries' sum can drift
    * from them by a few ms. */
  private def r3(v: Double): Double = math.rint(v * 1000) / 1000

  /** A sweep's per-query trials and what they sum to. The totals cover
    * successful queries only (a -1 folded in would corrupt them). The
    * contention stamp is median_total / total: an uncontended sweep sits
    * near 1.0–1.1. `id` stamps the detail file and the headline alike, so
    * matching ids prove the two record the same sweep. */
  final case class Sweep(sfDir: String, results: Seq[(String, Trial)],
      id: String = java.lang.Long.toHexString(System.currentTimeMillis())) {
    val total: Double = r3(results.map(_._2.min).filter(_ >= 0).sum)
    val medianTotal: Double = r3(results.map(_._2.median).filter(_ >= 0).sum)
    val contention: Double = if (total > 0) r3(medianTotal / total) else -1.0
    private def map(v: Trial => String): String =
      results.map { case (k, t) => s"\"$k\":${v(t)}" }.mkString("{", ",", "}")
    val mins: String = map(t => r3(t.min).toString)
    val medians: String = map(t => r3(t.median).toString)
    val costs: String = map(_.cost.fold("null") { c =>
      s"""{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_ms":${c.taskMs},""" +
        s""""shuffle_read_bytes":${c.total.shuffleRead},"shuffle_write_bytes":${c.total.shuffleWrite},""" +
        s""""spill_bytes":${c.total.spill}}"""
    })
    /** The detail file: every per-query map, one per line. */
    def detail: String =
      s"""{"sf":"$sfDir","sweep":"$id","cpus":${scala.util.Try(cpus.trim.toInt).getOrElse(-1)},"estimator":"min_of_$runs","total":$total,"median_total":$medianTotal,"contention":$contention,"n_queries":${results.size},
         |"queries_min":$mins,
         |"queries_median":$medians,
         |"queries_cost":$costs}
         |""".stripMargin
    /** The stdout headline: map-free, so it stays a few hundred chars at
      * any query count and survives a capture of stdout's tail. */
    def headline: String =
      s"""{"metric":"total","value":$total,"unit":"sec","estimator":"min_of_$runs","median_total":$medianTotal,"contention":$contention,"n_queries":${results.size},"sweep":"$id","sf":"$sfDir"}"""
  }

  /** Runs each of `names` `runs` times in Bench's timed region, in the
    * given order, under one [[CostListener]] that counts each query's
    * last trial. min-of-N is the headline estimator (the fastest trial is
    * the closest observation of a query's cost under load); the median
    * shows the spread. A failed trial records -1, never a partial time,
    * and ends that query's trials. */
  def sweep(spark: SparkSession, sfDir: String, names: Seq[String]): Sweep =
    Sweep(sfDir, withCostListener(spark) { listener =>
      names.map { name =>
        val fn = SparkEntry.queries(name)
        try {
          val early = (1 until runs).map(_ => timed(spark, sfDir, fn))
          val last = costed(spark, sfDir, fn, listener)
          val times = (early :+ last.wall).sorted
          name -> Trial(times.head, times((times.size - 1) / 2), Some(last))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          System.err.println(s"[bench] RESULT INCOMPLETE: $name recorded as -1")
          name -> Trial(-1.0, -1.0, None)
        }
      }
    })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    warmUp(spark, sfDir)
    // Sorted order: map iteration order shifts as queries are added, which
    // would reshuffle warm-up/GC effects between rounds.
    val result = sweep(spark, sfDir, SparkEntry.queries.keys.toSeq.sorted)
    // Above 1.15 the machine was loaded during the sweep. Times then do not
    // compare across sweeps, but counts do: they do not change with load.
    if (result.contention > 1.15)
      System.err.println(f"[bench] WARNING: sweep contention ${result.contention}%.3f" +
        " (median/min > 1.15) — machine was loaded; per-query times are NOT" +
        " comparable across sweeps. Compare queries_cost first: a query whose" +
        " counts did not change did the same work, and its slower time is load")
    // The full per-query maps go to a file (the stdout lines below survive
    // only in a ~2000-char tail capture), committed each round, plus a
    // round-stamped copy when SPARK_GRAFT_ROUND names the round.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT", "BENCH_detail.json")
    def writeDetail(path: String): Unit =
      try {
        val w = new java.io.PrintWriter(new java.io.File(path), "UTF-8")
        try w.write(result.detail) finally w.close()
        System.err.println(s"[bench] full per-query detail written to $path")
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] detail write to $path failed: ${e.getMessage}")
      }
    writeDetail(detailPath)
    sys.env.get("SPARK_GRAFT_ROUND").flatMap(s => scala.util.Try(s.trim.toInt).toOption) match {
      case Some(n) =>
        val dir = Option(new java.io.File(detailPath).getAbsoluteFile.getParentFile)
          .getOrElse(new java.io.File("."))
        writeDetail(new java.io.File(dir, s"BENCH_detail_r$n.json").getPath)
      case None =>
        System.err.println("[bench] SPARK_GRAFT_ROUND is not set: no round-stamped " +
          "BENCH_detail_rN.json written")
    }
    // Detail lines first, the compact headline LAST: a runner parses
    // the final JSON line of its stdout tail.
    println(s"""{"metric":"detail","queries_median":${result.medians},"sf":"$sfDir"}""")
    println(s"""{"metric":"detail","queries":${result.mins},"sf":"$sfDir"}""")
    println(result.headline)
    spark.stop()
  }
}
