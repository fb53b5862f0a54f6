package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Per-layer metrics from the spans of a traced run. Times are medians over
  * traced passes; counts come from the last traced pass (and are the same
  * in every pass when the run is load-invariant, see [[countsStable]]). */
object Layers {
  val Sinks = Seq("s3_put", "s3_get", "cloudwatch", "lambda_grouped", "lambda_sliced")
  val RecipeStages = Seq("quality", "neardup", "decontam", "mix_pack")

  /** Every per-layer metric, in report order, with its unit. A layer the
    * workload does not exercise reports 0. */
  val Names: Seq[(String, String)] =
    Seq("blueprint.parse_s" -> "s",
      "engine.plan_s" -> "s", "engine.plan_jobs" -> "count",
      "engine.materialize_s" -> "s", "engine.materialize_jobs" -> "count",
      "engine.materialize_tasks" -> "count", "engine.materialize_task_s" -> "s",
      "engine.rederive_factor" -> "ratio") ++
    Sinks.flatMap(k => Seq(s"sinks.${k}_s" -> "s", s"sinks.${k}_jobs" -> "count",
      s"sinks.${k}_rows" -> "count")) ++
    RecipeStages.flatMap(k => Seq(s"recipe.${k}_s" -> "s", s"recipe.${k}_jobs" -> "count")) ++
    Seq("dedup.candidate_precision" -> "ratio",
      "similarity.ivf_train_s" -> "s", "similarity.ivf_train_jobs" -> "count",
      "similarity.pq_train_s" -> "s", "similarity.pq_train_jobs" -> "count",
      "linkgraph.rank_s" -> "s", "linkgraph.rank_jobs" -> "count",
      "linkgraph.components_s" -> "s", "linkgraph.components_jobs" -> "count",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_s" -> "s", "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.tasks_failed" -> "count",
      "spark.busy_ratio" -> "ratio",
      "trace.untraced_pass_s" -> "s", "trace.traced_pass_s" -> "s",
      "trace.overhead_s" -> "s")

  /** Spans of the layers timed from outside; each names its metrics. */
  private val Timed: Seq[String] =
    Seq("blueprint.parse", "engine.plan", "engine.materialize",
      "similarity.ivf_train", "similarity.pq_train",
      "linkgraph.rank", "linkgraph.components") ++
    Sinks.map(k => s"sinks.$k") ++ RecipeStages.map(k => s"recipe.$k")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def metrics(tracer: Tracer, cores: Int, untracedPassS: Double): Map[String, Double] = {
    val spans = tracer.spans
    val passes = spans.filter(_.name == "pass")
    def ofPass(name: String, pass: Int) = spans.filter(s => s.name == name && s.pass == pass)
    val timed = Timed.flatMap { span =>
      if (!spans.exists(_.name == span)) Nil
      else {
        val lastSpans = spans.filter(_.name == span).groupBy(_.pass).maxBy(_._1)._2
        val c = lastSpans.map(_.counts).foldLeft(Counts())((a, b) => Counts(
          a.jobs + b.jobs, a.stages + b.stages, a.tasks + b.tasks, a.taskMs + b.taskMs))
        val perPass = passes.map(p => ofPass(span, p.pass)).filter(_.nonEmpty)
        Seq(s"${span}_s" -> median(perPass.map(_.map(_.seconds).sum)),
          s"${span}_jobs" -> c.jobs.toDouble,
          s"${span}_tasks" -> c.tasks.toDouble,
          s"${span}_task_s" -> c.taskS,
          s"${span}_rows" -> lastSpans.flatMap(_.notes.get("rows")).sum)
      }
    }
    val lp = passes.last.counts
    val tracedPassS = median(passes.map(_.seconds))
    (timed ++ Seq(
      "spark.jobs" -> lp.jobs.toDouble, "spark.stages" -> lp.stages.toDouble,
      "spark.tasks" -> lp.tasks.toDouble,
      "spark.task_s" -> median(passes.map(_.counts.taskS)),
      "spark.shuffle_write_bytes" -> lp.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> lp.spillBytes.toDouble,
      "spark.tasks_failed" -> lp.tasksFailed.toDouble,
      "spark.busy_ratio" -> median(passes.map(p => p.counts.taskS / (p.seconds * cores))),
      "trace.untraced_pass_s" -> untracedPassS,
      "trace.traced_pass_s" -> tracedPassS,
      "trace.overhead_s" -> (tracedPassS - untracedPassS))).toMap
  }

  /** Whether every traced pass ran the same jobs, stages and tasks in each
    * span and produced the same source rows (probe spans, which run once,
    * are left out). */
  def countsStable(tracer: Tracer): Boolean = {
    val inPasses = tracer.spans.filter(s => s.parent >= 0 || s.name == "pass")
    val byPass = inPasses.groupBy(_.pass).values.map(_.sortBy(_.id).map(s =>
      (s.name, s.counts.jobs, s.counts.stages, s.counts.tasks, s.counts.sourceRows)))
    byPass.toSeq.distinct.size <= 1
  }

  def writeSpans(tracer: Tracer, path: String): Unit = {
    val spans = tracer.spans
    val t0 = spans.map(_.startNs).min
    val rows = spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "name" -> s.name,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> tracer.selfSeconds(s),
        "jobs" -> s.counts.jobs, "stages" -> s.counts.stages, "tasks" -> s.counts.tasks,
        "task_s" -> s.counts.taskS, "shuffle_write_bytes" -> s.counts.shuffleWriteBytes,
        "spill_bytes" -> s.counts.spillBytes, "tasks_failed" -> s.counts.tasksFailed,
        "source_rows" -> s.counts.sourceRows) ++ s.notes
    }
    Files.write(Paths.get(path), Json(rows).getBytes(StandardCharsets.UTF_8))
  }
}
