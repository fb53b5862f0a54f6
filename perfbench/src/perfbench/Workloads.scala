package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blueprint.{BlueprintParser, TargetSpec}
import graft.ext.{Corpus, Dedup, LinkGraph, Recipe, Similarity, TextStats}
import graft.operators.Engine

/** What one pass produced: the work it stands for, one digest per output,
  * and the checks that failed. */
final case class PassOut(items: Long, digests: Map[String, String],
    failures: Seq[String])

trait Workload {
  /** Inputs for `seed` under `dir`, files split `splits` ways. */
  def setup(spark: SparkSession, seed: Long, dir: String, splits: Int): Unit
  /** One batch pass through the program's public entry points. */
  def pass(spark: SparkSession, t: Trace): PassOut
  /** Probes a traced run makes once, after its passes, for layer counts
    * that do not belong to a pass. Returns per-layer metrics. */
  def probes(spark: SparkSession, tracer: Tracer): Map[String, Double] = Map.empty
  /** What one unit of `items` is, for the result file. */
  def itemsDescription: String
}

/** An order-independent content digest: row count plus the sum of
  * per-row 64-bit hashes over every column. `extra` aggregates over the
  * same rows ride in the same job, for checks on the frame's content. */
object Digest {
  def frame(df: DataFrame, extra: Column*): DataFrame =
    df.agg(count(lit(1)).as("rows"),
      (sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(20,0)")).as("h")
        +: extra): _*)

  /** Runs the digest frame built by [[frame]]; its planned query execution
    * is reused, so a plan forced earlier is not planned again. Returns the
    * row count, the hash and the values of the extra aggregates. */
  def read(digestFrame: DataFrame): (Long, String, Seq[Any]) = {
    val r = digestFrame.collect()(0)
    (r.getLong(0), String.valueOf(r.get(1)), r.toSeq.drop(2))
  }

  def of(df: DataFrame, extra: Column*): (Long, String, Seq[Any]) = read(frame(df, extra: _*))

  def ofDoubles(xs: Iterable[Double]): String =
    java.lang.Long.toHexString(xs.foldLeft(1125899906842597L) { (h, x) =>
      31 * h + java.lang.Double.doubleToLongBits(x) })
}

object BlueprintWorkload {
  val FixedTimestamp: Column = to_timestamp(lit("2026-01-01 00:00:00"))

  def sinkKey(t: TargetSpec): String =
    (t.tpe, t.raw.string("action", "get")) match {
      case ("s3", "put")     => "s3_put"
      case ("s3", _)         => "s3_get"
      case ("cloudwatch", _) => "cloudwatch"
      case _ => if (t.groupDatapoints) "lambda_grouped" else "lambda_sliced"
    }
}

/** A blueprint run through `Engine.execute` to every target's activity
  * frame; each frame is forced by its digest aggregate. */
final class BlueprintWorkload extends Workload {
  import BlueprintWorkload._

  private var json: String = _
  private var seed: Long = _
  private var points: Long = _
  private var expectedRows: Map[String, Long] = Map.empty
  private var reference: Map[String, String] = Map.empty

  def itemsDescription = "generator datapoints (sum of num_points)"

  def setup(spark: SparkSession, seed: Long, dir: String, splits: Int): Unit = {
    this.seed = seed
    Files.createDirectories(Paths.get(dir))
    val replay = Paths.get(dir, "replay.dat").toAbsolutePath
    Files.write(replay, Blueprints.replayLines(seed).mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    val text = Blueprints.fanout(seed, replay.toString)
    val bpFile = Paths.get(dir, "blueprint.json")
    Files.write(bpFile, text.getBytes(StandardCharsets.UTF_8))
    json = new String(Files.readAllBytes(bpFile), StandardCharsets.UTF_8)

    points = BlueprintParser.parse(json).generators.map(_.config.numPoints).sum
  }

  /** Rows each target must produce, independent of the routing, slicing
    * and sink code the passes exercise. Cloudwatch and grouped lambda rows
    * come from the blueprint's `num_points` alone; s3 and sliced lambda
    * rows depend on the values, so they come from per-generator facts of
    * the materialized series, whose point counts must match `num_points`.
    * The inputs depend only on the seed, so the warm-up pass computes them
    * once, after its own sinks ran. */
  private def expectations(spark: SparkSession, bp: graft.blueprint.Blueprint)
      : Map[String, Long] = {
    val numPoints = bp.generators.map(g => g.id -> g.config.numPoints.toLong).toMap
    val sliceSizes = bp.targets.map(_.raw.long("slice_size", 0L)).filter(_ > 0).distinct
    val v = col("value")
    val slices = sliceSizes.map { s =>
      sum(when(v === 0, 1L).otherwise(greatest((v / s).cast("int"), lit(0)) +
        when(pmod(v, lit(s)) > 0, 1).otherwise(0)).cast("long")).as(s"slices_$s")
    }
    val stats = Engine.materialize(spark, bp, seed).groupBy("generator_id")
      .agg(count(lit(1)).as("n"), (sum(when(v > 0, v).otherwise(0L)).as("pos") +: slices): _*)
      .collect().map(r => r.getString(0) -> r).toMap
    numPoints.toSeq.sortBy(_._1).foreach { case (id, n) =>
      val got = stats.get(id).map(_.getAs[Long]("n")).getOrElse(0L)
      require(got == n, s"materialize produced $got points of generator $id, num_points is $n")
    }
    bp.targets.map { t =>
      val rows = t.generators.map(stats)
      val sliceSize = t.raw.long("slice_size", 0L)
      sinkKey(t) -> (sinkKey(t) match {
        case "s3_put" | "s3_get" => rows.map(_.getAs[Long]("pos")).sum
        case "cloudwatch"        => t.generators.map(numPoints).sum
        case "lambda_grouped"    => t.generators.map(numPoints).max
        case _ if sliceSize > 0  => rows.map(_.getAs[Long](s"slices_$sliceSize")).sum
        case _                   => t.generators.map(numPoints).sum
      })
    }.toMap
  }

  def pass(spark: SparkSession, t: Trace): PassOut = {
    val bp = t.span("blueprint.parse")(BlueprintParser.parse(json))
    val planned = t.span("engine.plan") {
      Engine.execute(spark, bp, seed, FixedTimestamp).map { case (i, _, frame) =>
        val d = Digest.frame(frame)
        d.queryExecution.executedPlan
        (sinkKey(bp.targets(i)), d)
      }
    }
    val outs = planned.map { case (k, d) =>
      t.span(s"sinks.$k") {
        val (rows, h, _) = Digest.read(d)
        t.note("rows", rows.toDouble)
        (k, rows, h)
      }
    }
    if (expectedRows.isEmpty) expectedRows = expectations(spark, bp)
    val failures = outs.flatMap { case (k, rows, _) =>
      if (rows == expectedRows(k)) None
      else Some(s"$k: $rows rows, expected ${expectedRows(k)}")
    }
    val digests = outs.map { case (k, rows, h) => k -> s"$rows:$h" }.toMap
    PassOut(points, digests, failures ++ Checks.againstReference(digests, reference))
      .tap(o => if (reference.isEmpty && o.failures.isEmpty) reference = digests)
  }

  override def probes(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    val bp = BlueprintParser.parse(json)
    val sourceOnce = tracer.span("engine.materialize") {
      Digest.of(Engine.materialize(spark, bp, seed))
    }
    // the series derived once, against what the last traced pass derived
    val spans = tracer.spans
    val once = spans.filter(_.name == "engine.materialize").last.counts.sourceRows
    val lastPass = spans.filter(_.name == "pass").last.pass
    val perPass = spans.filter(s => s.pass == lastPass && s.name.startsWith("sinks."))
      .map(_.counts.sourceRows).sum
    require(sourceOnce._1 == points, s"materialize rows ${sourceOnce._1} != $points")
    Map("engine.rederive_factor" -> perPass.toDouble / once.toDouble)
  }
}

/** `Recipe.run`, IVF and PQ training, then host rank and host components,
  * over a seeded corpus written as parquet. */
final class DatasetWorkload extends Workload {
  private val MixWeights = Map("en" -> 5.0, "de" -> 1.0, "fr" -> 1.0, "es" -> 1.0, "zh" -> 2.0)
  private val MinJaccard = 0.3
  private val WindowTokens = 8
  private val Buckets = 64
  private val Capacity = 256L
  private val RankIterations = 3
  private val LloydIterations = 2

  private var seed: Long = _
  private var docs: DataFrame = _
  private var bench: DataFrame = _
  private var emb: DataFrame = _
  private var links: DataFrame = _
  private var nDocs: Long = _
  private var mustDrop: Seq[Long] = Nil
  private var reference: Map[String, String] = Map.empty

  def itemsDescription = "input documents"

  def setup(spark: SparkSession, seed: Long, dir: String, splits: Int): Unit = {
    this.seed = seed
    val w = CorpusInputs.write(spark, seed, dir, splits)
    docs = spark.read.parquet(w.docs)
    bench = spark.read.parquet(w.benchmark)
    emb = spark.read.parquet(w.embeddings)
    links = spark.read.parquet(w.links)
    nDocs = w.nDocs
    mustDrop = w.mustDrop
  }

  private def tokenCount: Column = TextStats.bpeishTokenCount(col("text"))

  /** How many documents the recipe must drop (exact copies, too short,
    * contaminated, all known from the generator) are in its output. */
  private def survivorsToDrop: Column =
    coalesce(sum(col("doc_id").isin(mustDrop: _*).cast("long")), lit(0L))

  /** `Recipe.run` as one call when untraced; traced, the same public stage
    * functions in its order with its `localCheckpoint` boundaries. */
  private def recipe(t: Trace): (Long, String, Seq[Any]) = t match {
    case Trace.Off =>
      Digest.of(Recipe.run(docs, bench, MixWeights, seed, tokenCount,
        Capacity, MinJaccard, WindowTokens, Buckets), survivorsToDrop)
    case _ =>
      val base = docs.select(col("doc_id"), col("lang"), col("text"))
      val quality = t.span("recipe.quality") {
        TextStats.qualityFacets(base, "text")
          .where(col("quality_bucket") =!= "poor")
          .select(col("doc_id"), col("lang"), col("text"))
          .localCheckpoint()
      }
      val deduped = t.span("recipe.neardup") {
        val clusters = Dedup.nearDuplicates(quality, "doc_id", "text", minJaccard = MinJaccard)
        Dedup.applyDedup(quality, clusters, "doc_id").localCheckpoint()
      }
      val clean = t.span("recipe.decontam") {
        val flagged = Corpus.decontaminateSubstring(deduped, bench, WindowTokens,
          "doc_id", "text")
        deduped.join(flagged.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .localCheckpoint()
      }
      t.span("recipe.mix_pack") {
        Digest.of(Corpus.packChunks(Corpus.mixTo(clean, "lang", MixWeights, seed, "doc_id"),
          Capacity, seed, tokenCount, "doc_id", Buckets), survivorsToDrop)
      }
  }

  def pass(spark: SparkSession, t: Trace): PassOut = {
    val (packed, packedH, Seq(kept: Long)) = recipe(t)
    val ivf = t.span("similarity.ivf_train") {
      Similarity.trainIvfCentroids(emb, 16, LloydIterations, seed)
    }
    val pq = t.span("similarity.pq_train") {
      Similarity.pqTrain(emb, 4, 16, LloydIterations, seed, dims = CorpusInputs.Dims)
    }
    val edges = LinkGraph.hostEdges(links)
    val (ranked, rankH, _) = t.span("linkgraph.rank") {
      Digest.of(LinkGraph.hostRank(edges, iterations = RankIterations))
    }
    val (comps, compsH, Seq(minSize: Long, maxSize: Long)) =
      t.span("linkgraph.components") {
        Digest.of(LinkGraph.hostComponents(edges),
          min(col("comp_size")).cast("long"), max(col("comp_size")).cast("long"))
      }
    val groupSize = CorpusInputs.Hosts / CorpusInputs.HostGroups
    val ivfValues = ivf.flatten
    val pqValues = pq.flatten.flatten
    val failures = Seq(
      (packed > 0 && packed <= nDocs - mustDrop.size) ->
        s"recipe kept $packed of $nDocs documents, ${mustDrop.size} must go",
      (kept == 0) -> s"recipe kept $kept exact copies, short or contaminated documents",
      (ivf.length == 16 && ivf.forall(_.length == CorpusInputs.Dims)) -> "IVF centroid shape",
      ivfValues.forall(x => !x.isNaN && !x.isInfinite) -> "IVF centroid not finite",
      (pq.length == 4 && pq.forall(_.length == 16)) -> "PQ codebook shape",
      pqValues.forall(x => !x.isNaN && !x.isInfinite) -> "PQ centroid not finite",
      (ranked == CorpusInputs.Hosts) -> s"$ranked ranked hosts of ${CorpusInputs.Hosts}",
      (comps == CorpusInputs.Hosts) -> s"$comps component rows of ${CorpusInputs.Hosts} hosts",
      (minSize == groupSize && maxSize == groupSize) ->
        s"component sizes $minSize..$maxSize, the link groups have $groupSize hosts"
    ).collect { case (false, msg) => msg }
    val digests = Map(
      "recipe" -> s"$packed:$packedH",
      "ivf" -> Digest.ofDoubles(ivfValues),
      "pq" -> Digest.ofDoubles(pqValues),
      "rank" -> s"$ranked:$rankH",
      "components" -> s"$comps:$compsH")
    PassOut(nDocs, digests, failures ++ Checks.againstReference(digests, reference))
      .tap(o => if (reference.isEmpty && o.failures.isEmpty) reference = digests)
  }

  /** LSH candidate precision over the stage's own input: exact-deduplicated
    * quality survivors, candidate pairs from `Dedup.minhashLshPairs` with
    * `nearDuplicates`' banding, verified by exact shingle Jaccard. */
  override def probes(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    val (candidates, verified) = tracer.span("dedup.candidates") {
      val quality = TextStats.qualityFacets(docs.select(col("doc_id"), col("text")), "text")
        .where(col("quality_bucket") =!= "poor")
        .select(col("doc_id"), col("text"))
        .localCheckpoint()
      val reps = quality.join(
        quality.groupBy(xxhash64(col("text"))).agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
      val cand = Dedup.minhashLshPairs(reps, "doc_id", "text").localCheckpoint()
      val sh = reps.select(col("doc_id"),
        graft.plans.NativeFunctions.hashedShingles(col("text"), 3).as("g"))
      val nCand = cand.count()
      val nVerified = cand
        .join(sh.select(col("doc_id").as("a"), col("g").as("ga")), "a")
        .join(sh.select(col("doc_id").as("b"), col("g").as("gb")), "b")
        .where(size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(array_union(col("ga"), col("gb"))) >= MinJaccard)
        .count()
      (nCand, nVerified)
    }
    Map("dedup.candidate_precision" ->
      (if (candidates == 0) 1.0 else verified.toDouble / candidates))
  }
}

object Checks {
  def againstReference(digests: Map[String, String],
      reference: Map[String, String]): Seq[String] =
    if (reference.isEmpty) Nil
    else digests.toSeq.sortBy(_._1).collect {
      case (k, d) if reference.get(k).exists(_ != d) =>
        s"$k digest $d differs from the first pass's ${reference(k)}"
    }
}
