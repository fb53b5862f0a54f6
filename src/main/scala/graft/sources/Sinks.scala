package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.blueprint.{Blueprint, TargetSpec}
import graft.functions.{FakeData, Rng}
import graft.operators.Transforms
import graft.operators.Transforms.Gid

/**
 * Target executors (SURVEY §2.4) re-expressed as frame producers/writers.
 * The reference performs AWS side effects (S3 put/get, CloudWatch
 * PutMetricData, Lambda invoke); our engine materializes the equivalent
 * *activity frames* — what would be written/read — and writes them via
 * ordinary Spark sinks (parquet locally; S3A on a cluster). This keeps
 * every sink distributed, testable, and oracle-checkable.
 */
object Sinks {

  /** Disclaimer prepended to every fake object body (reference's
    * FAKE_DATA_DISCLAIMER, src/main.py:55). Shared with queries that
    * assert on body structure (x_synthetic_corpus) so the literal can
    * never silently diverge from the sink. */
  val Disclaimer: String = "Sample Report - No identification of actual persons " +
    "or places is intended or should be inferred\r\n\r\n"

  /**
   * K1a — fake S3 object corpus for an s3/put target
   * (`create_bucket_object`, src/main.py:977-1020): each datapoint value v
   * yields v objects; each object picks a random provider from
   * `fake_types`, lands under `{prefix}{provider}/{uuid}.fake` (p=0.5) or
   * `{prefix}mixed/{uuid}.fake`, body = disclaimer + `fake_counts`
   * provider lines, random content_type/acl.
   *
   * Built as a frame, never a loop (SURVEY §7.4 hard part 6): rows =
   * sum(value) via `explode(sequence(...))`. Everything *structural* —
   * provider choice, key (uuid + 50/50 prefix dir), content_type, acl —
   * is a codegen'd md5-column derivation keyed on (generator_id, t,
   * object index), so it stays in whole-stage codegen AND replays
   * exactly in the DuckDB oracle (see k_object_meta). Only the body
   * TEXT (wordlist-driven provider lines) needs a UDF, seeded per
   * object — deterministic at any parallelism either way. Zero values
   * produce zero rows, matching the reference's zero-skip for S3
   * (src/main.py:1032-1034).
   */
  def fakeObjects(routed: DataFrame, target: TargetSpec, seed: Long): DataFrame = {
    val prefix = target.raw.string("prefix", "")
    val fakeTypes = target.raw.strings("fake_types", Seq("sentence"))
    val fakeCounts = target.raw.long("fake_counts", 1L)
    val contentTypes = target.raw.strings("content_types",
      Seq(target.raw.string("content_type", "text/plain")))
    val acls = target.raw.strings("acls", Seq(target.raw.string("acl", "private")))

    val disclaimer = Disclaimer

    // uniform pick from a plan-time list — floor(u * n) on the shared
    // md5 uniform, so the same element is picked by the oracle SQL
    def pick(items: Seq[String], stream: String): Column =
      element_at(array(items.map(lit): _*),
        (floor(Rng.uniform(seed, stream, col(Gid), col("t"), col("__obj")) *
          lit(items.size.toDouble)) + 1L).cast("int"))

    // uuid4-shaped token from the md5 hex digest (8-4-4-4-12)
    val d = Rng.digest(seed, "obj_uuid", col(Gid), col("t"), col("__obj"))
    val uuidCol = concat_ws("-", substring(d, 1, 8), substring(d, 9, 4),
      substring(d, 13, 4), substring(d, 17, 4), substring(d, 21, 12))

    val provider = pick(fakeTypes, "obj_provider")
    val dir = when(
      Rng.uniform(seed, "obj_mixed", col(Gid), col("t"), col("__obj")) < 0.5,
      provider).otherwise(lit("mixed"))

    val mkBody = udf((prov: String, h: Long) => {
      val r = new java.util.Random(h)
      val fn = FakeData.registry(prov)
      val body = new StringBuilder(disclaimer)
      var i = 0L
      while (i < fakeCounts) { body.append(fn(r)).append("\r\n"); i += 1 }
      body.toString
    })

    routed
      .where(col("value") > 0)
      .withColumn("__obj", explode(sequence(lit(1L), col("value"))))
      .withColumn("provider", provider)
      .select(
        col(Gid), col("t"),
        concat(lit(prefix), dir, lit("/"), uuidCol, lit(".fake")).as("key"),
        mkBody(col("provider"),
          Rng.hash64(seed, "fake_object", col(Gid), col("t"), col("__obj"))).as("body"),
        pick(contentTypes, "obj_ctype").as("content_type"),
        pick(acls, "obj_acl").as("acl"))
  }

  /**
   * K1/get — read-amplification simulator for an s3/get target
   * (src/main.py:931-975): per nonzero datapoint value v, build a key
   * pool of up to min(v, 1000) REAL keys under the prefix (the
   * ListObjectsV2 step; supplied as the optional `listing` frame with
   * a `key` column — our stand-in for the bucket), padded with fake
   * keys `{prefix}fake-object-{rand8}` up to v, then perform v
   * GetObject draws chosen uniformly WITH REPLACEMENT from the pool
   * (`random.choice` at src/main.py:968). We emit the access-request
   * frame (one row per attempted get) rather than performing reads.
   *
   * Real keys are rank-limited and broadcast (the pool is ≤1000 keys
   * by the reference's own ceiling), so the draw is a map-side join
   * however large the datapoint frame is.
   */
  def getRequests(routed: DataFrame, target: TargetSpec, seed: Long,
      listing: Option[DataFrame] = None): DataFrame = {
    val prefix = target.raw.string("prefix", "")
    val listCeiling = 1000 // S3_LIST_OBJECTS_MAX, src/main.py:57
    val realKeys: Array[String] = listing match {
      case Some(df) => df.select("key").limit(listCeiling)
        .collect().map(_.getString(0))
      case None => Array.empty
    }
    val realKeysCol = array(realKeys.map(lit).toSeq: _*)
    // fake-key suffix: 8 letters, each byte of the md5 digest mapped into
    // the 52-letter alphabet — a pure column derivation (stays in
    // whole-stage codegen; no UDF) that the DuckDB oracle replays:
    // substr(letters, 1 + ('0x'||substr(md5(p), 2i-1, 2))::BIGINT % 52, 1)
    val letters = (('A' to 'Z') ++ ('a' to 'z')).mkString
    def fakeKey(digest: Column): Column = {
      val chars = (0 until 8).map { i =>
        val b = conv(substring(digest, i * 2 + 1, 2), 16, 10).cast("int")
        lit(letters).substr(pmod(b, lit(52)) + 1, lit(1))
      }
      concat((lit(s"${prefix}fake-object-") +: chars): _*)
    }
    val withGets = routed
      .where(col("value") > 0)
      .withColumn("__nreal",
        least(col("value"), lit(realKeys.length.toLong), lit(listCeiling.toLong)))
      .withColumn("__get", explode(sequence(lit(1L), col("value"))))
    // uniform draw from the v-sized pool: indices [0, __nreal) hit real
    // keys, the rest are per-draw fake keys (the padded tail)
    val drawIdx = floor(
      Rng.uniform(seed, "get_draw", col(Gid), col("t"), col("__get")) *
        col("value").cast("double")).cast("long")
    withGets
      .withColumn("__draw", drawIdx)
      .withColumn("key",
        when(col("__draw") < col("__nreal"),
          element_at(realKeysCol, (col("__draw") + 1).cast("int")))
          .otherwise(fakeKey(
            Rng.digest(seed, "get_key", col(Gid), col("t"), col("__draw")))))
      .withColumn("key_pool_size", col("value"))
      .select(col(Gid), col("t"), col("key"), col("key_pool_size"))
  }

  /**
   * K2 — CloudWatch metric data stand-in (src/main.py:884-913): one row
   * per datapoint, `(ts, shape, id, value)` with MetricName="Timeseries",
   * Unit="Count". Shape is looked up from the blueprint
   * (`get_generator_shape`, src/main.py:1059-1069) via a broadcast join
   * keyed on the hashed generator id ([[Transforms.byGenerator]], a left
   * join: an id the blueprint does not name keeps its row, shape null).
   */
  def metricData(routed: DataFrame, bp: Blueprint, timestamp: Column): DataFrame = {
    val spark = routed.sparkSession
    import spark.implicits._
    val shapes = bp.generators.map(g => (g.id, g.shape)).toDF("__sg", "shape")
    Transforms.byGenerator(routed, shapes, Gid -> "__sg")
      .select(
        timestamp.as("ts"),
        lit("Timeseries").as("metric_name"),
        col("shape"), col(Gid).as("id"),
        col("value").cast("double").as("value"),
        lit("Count").as("unit"))
  }

  /** K3 — Lambda-callback stand-in (src/main.py:915-929): side-effecting
    * delivery when a real callback is registered — the only imperative
    * escape hatch, executed per partition. */
  def deliver(envelopes: DataFrame, callback: String => Unit): Unit =
    envelopes.toJSON.foreachPartition { it: Iterator[String] => it.foreach(callback) }

  /**
   * D2 — batched delivery (`get_list_chunks` + `fill_timeseries_queue`,
   * src/main.py:71-82, 575-586): rows are delivered in chunks of
   * `batchSize` (the reference's SQS/CloudWatch 10-per-call limits),
   * batching per partition so parallelism is preserved and no partition
   * ever materializes more than one chunk at a time.
   */
  def deliverBatched(envelopes: DataFrame, batchSize: Int,
      callback: Seq[String] => Unit): Unit = {
    require(batchSize > 0, "batchSize must be positive")
    envelopes.toJSON.foreachPartition { it: Iterator[String] =>
      it.grouped(batchSize).foreach(chunk => callback(chunk.toSeq))
    }
  }
}
