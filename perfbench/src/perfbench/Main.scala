package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/**
 * The benchmark harness. One JVM, one workload, one seed:
 *
 *  1. set-up: `SetupRounds` times a fresh session and the seeded inputs,
 *     then one warm-up pass on the last session (JIT, codegen, first
 *     pass); `setup_s` is the median round plus the warm-up pass;
 *  2. untraced passes for `--seconds` (`--trace 0`), or untraced passes
 *     for the first half and traced passes for the second, then the
 *     workload's probes once (`--trace 1`);
 *  3. the result file (`--out`) and, when traced, the span file
 *     (`--spans`).
 *
 * Every pass is checked; a pass that throws or fails a check counts in
 * `failed`.
 */
object Main {
  val SetupRounds = 3
  /** The median of at least two untraced passes, more when they fit in
    * `--seconds`. Run-to-run spread comes mostly from load on the machine,
    * which a third pass barely evens out, while it would add about a sixth to
    * the cost of every run. A traced run splits its time:
    * at least one untraced pass, the baseline of the tracing overhead, then
    * at least two traced passes, so counts can be compared between them. */
  val MinPasses = 2
  val MinBaselinePasses = 1
  val MinTracedPasses = 2

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: String, out: String, spans: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("work"), need("out"),
      m.getOrElse("spans", ""))
  }

  def workload(name: String): Workload = name match {
    case "blueprint_fanout" => new BlueprintWorkload
    case "dataset_build"    => new DatasetWorkload
    case other => sys.error(s"unknown workload '$other'")
  }

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Seconds the JVM's collectors have spent so far. */
  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ > 0).sum / 1e3

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workload(a.workload)
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    var items = 0L
    var digests: Map[String, String] = Map.empty
    var lastGc = 0.0

    /** One checked pass; returns its wall seconds. */
    def checked(spark: SparkSession, t: Trace, label: String): Double = {
      attempted += 1
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      val problems =
        try { val o = wl.pass(spark, t); items = o.items; digests = o.digests; o.failures }
        catch { case e: Exception => Seq(s"${e.getClass.getName}: ${e.getMessage}") }
      val secs = (System.nanoTime() - t0) / 1e9
      lastGc = gcSeconds() - gc0
      if (problems.nonEmpty) {
        failed += 1
        failures ++= problems.map(p => s"$label: $p")
      }
      println(f"$label%-14s $secs%8.3f s  gc $lastGc%6.3f s${if (problems.isEmpty) "" else "  FAILED"}")
      secs
    }

    var spark: SparkSession = null
    val roundSeconds = (1 to SetupRounds).map { round =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a.cores, a.work)
      wl.setup(spark, a.seed, s"${a.work}/inputs-$round",
        math.max(a.cores, Runtime.getRuntime.availableProcessors))
      val s = (System.nanoTime() - t0) / 1e9
      println(f"setup $round%-8d $s%8.3f s")
      s
    }
    val warmup = checked(spark, Trace.Off, "warm-up")
    val setupS = median(roundSeconds) + warmup

    val untracedWindow = if (a.trace) a.seconds / 2 else a.seconds
    val untraced = ArrayBuffer.empty[Double]
    val untracedGc = ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (untraced.size < (if (a.trace) MinBaselinePasses else MinPasses) ||
        (System.nanoTime() - start) / 1e9 < untracedWindow) {
      untraced += checked(spark, Trace.Off, s"pass ${untraced.size + 1}")
      untracedGc += lastGc
    }

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    var extra: Map[String, Any] = Map.empty
    if (!a.trace) {
      val passS = median(untraced.toSeq)
      metrics("pass_s") = (passS, "s")
      metrics("items_per_s") = (items / passS, "1/s")
      metrics("setup_s") = (setupS, "s")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
    } else {
      val counters = new Counters(spark)
      val tracer = new Tracer(counters)
      val tracedStart = System.nanoTime()
      var n = 0
      while (n < MinTracedPasses || (System.nanoTime() - tracedStart) / 1e9 < a.seconds / 2) {
        n += 1
        tracer.pass = n
        tracer.span("pass")(checked(spark, tracer, s"traced $n"))
      }
      attempted += 1
      val probe =
        try wl.probes(spark, tracer)
        catch { case e: Exception =>
          failed += 1
          failures += s"probes: ${e.getClass.getName}: ${e.getMessage}"
          Map.empty[String, Double]
        }
      counters.close()
      val layers = Layers.metrics(tracer, a.cores, median(untraced.toSeq)) ++ probe
      Layers.Names.foreach { case (name, unit) =>
        metrics(name) = (layers.getOrElse(name, 0.0), unit)
      }
      extra = Map("counts_stable" -> Layers.countsStable(tracer))
      if (a.spans.nonEmpty) Layers.writeSpans(tracer, a.spans)
    }
    spark.stop()

    val result = Map[String, Any](
      "workload" -> a.workload,
      "seed" -> a.seed,
      "trace" -> (if (a.trace) 1 else 0),
      "cores" -> a.cores,
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "failed_ratio" -> failed.toDouble / attempted,
      "failures" -> failures.toSeq.take(20),
      "passes" -> untraced.size,
      "pass_seconds" -> untraced.toSeq,
      "pass_gc_seconds" -> untracedGc.toSeq,
      "setup_round_seconds" -> roundSeconds,
      "warmup_seconds" -> warmup,
      "items_per_pass" -> items,
      "items" -> wl.itemsDescription,
      "digests" -> digests,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    ) ++ extra
    Files.write(Paths.get(a.out), Json(result).getBytes(StandardCharsets.UTF_8))
    println(s"passes ${untraced.size}, failed $failed of $attempted")
  }
}

/** A minimal JSON writer for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
