package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.blueprint.Blueprint

/**
 * End-to-end materialization — the Spark analog of the reference's
 * `generate_datapoints` (src/main.py:643-665): generate → scale → noise →
 * anomalies → int-cast over ONE long frame `(generator_id, t, value LONG)`.
 * Each transform is one stage over all generators of the blueprint,
 * their parameters carried as per-`generator_id` rows (see [[Transforms]]),
 * so Catalyst plans one fused plan per blueprint whose size grows with
 * neither the generator count nor the number of distinct parameter
 * values (only distinct formulas, which are code, add a branch each).
 */
object Engine {

  import Transforms.Gid

  def materialize(spark: SparkSession, bp: Blueprint, seed: Long): DataFrame = {
    require(bp.generators.nonEmpty, "blueprint has no generators")
    val gens = bp.generators
    val noise = gens.filter(_.config.noiseEnabled).map(g => (g.id, g.config.noiseMin, g.config.noiseMax))
    val noised = Transforms.scaleAndNoise(Generators.source(spark, gens, seed),
      Generators.scaling(gens), noise, seed)
    Transforms.intCast(Transforms.applyAnomalies(noised,
      gens.map(g => (g.id, g.config.anomalies, g.config.numPoints)), seed))
      .select(col(Gid), col("t"), col("value"))
  }

  /**
   * Materialized series → zero-filled slot view, the transport unit of the
   * reference (one record per time slot, src/main.py:686-707). Length of
   * the cycle = max series length (lexicographic-max bug fixed, §2.8).
   */
  def slotView(spark: SparkSession, bp: Blueprint, series: DataFrame): DataFrame = {
    val maxN = bp.generators.map(_.config.numPoints).max
    Transforms.zeroFillAlign(series, bp.generators.map(_.id), maxN)
  }

  /**
   * Full blueprint execution (EP2 + EP3, SURVEY §3): derive the series
   * once, route each target's view from it, apply its delivery mode, and
   * produce the per-target activity frame a cluster job would write/deliver:
   *
   *  - s3/put   → fake-object corpus frame (key, body, content_type, acl)
   *  - s3/get   → GetObject request frame
   *  - cloudwatch → metric-data frame
   *  - lambda / anything else → delivery-envelope frame (slicing per
   *    `slice_size`, grouped mode per `group_datapoints`)
   *
   * Returned keyed by target index (targets have no ids in the
   * reference). Like the reference, which generates a batch once and fans
   * it out (src/main.py:643-707, 766-828), `execute` runs the whole
   * blueprint's materialization jobs when it is called (if it has a
   * target) into one eager local checkpoint (each generator id stored as
   * its blueprint index), and every target frame reads that checkpoint
   * through [[Dispatch.routeToTarget]]. The checkpoint is this call's own,
   * not a cache entry: its frames keep what it derived, a later call
   * derives afresh.
   */
  def execute(spark: SparkSession, bp: Blueprint, seed: Long,
      timestamp: Column = date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss").cast("timestamp"))
      : Seq[(Int, String, DataFrame)] = {
    import graft.sources.Sinks
    val ids = bp.generators.map(_.id)
    lazy val series = materialize(spark, bp, seed)
      .select(udf(ids.zipWithIndex.toMap).apply(col(Gid)).as("__g"), col("t"), col("value"))
      .localCheckpoint()
      .select(typedLit(ids).apply(col("__g")).as(Gid), col("t"), col("value"))
    bp.targets.zipWithIndex.map { case (target, i) =>
      val routed = Dispatch.routeToTarget(series, target)
      val sliceSize = target.raw.long("slice_size", 0L)
      val sliced = if (sliceSize > 0 && !target.groupDatapoints)
        Dispatch.sliceDatapoints(routed, sliceSize) else routed
      val frame = (target.tpe, target.raw.string("action", "get")) match {
        case ("s3", "put")  => Sinks.fakeObjects(sliced, target, seed)
        case ("s3", _)      => Sinks.getRequests(sliced, target, seed)
        case ("cloudwatch", _) => Sinks.metricData(sliced, bp, timestamp)
        case _ => Dispatch.envelopes(sliced, timestamp, targetJson(target), target.groupDatapoints)
      }
      (i, target.tpe, frame)
    }
  }

  /** Target spec minus `generators`/`client`, as the envelope's `target`
    * field (src/main.py:813-817). */
  private def targetJson(target: graft.blueprint.TargetSpec): String = {
    val keep = target.raw.entries -- Seq("generators", "client")
    keep.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v.toString }
      .mkString("{", ",", "}")
  }
}
