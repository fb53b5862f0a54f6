package graft.blueprint

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/**
 * Blueprint model — the engine's "query language".
 *
 * A blueprint (reference: README.md:15-35, resources/DefaultBlueprint.json)
 * declares timeseries `generators` (sources), shared `commons` config, and
 * `targets` (sinks). The reference parses it as a raw JSON dict
 * (src/main.py:1071-1100); we parse into typed case classes but keep the
 * per-generator *effective config* as an open key->value map because the
 * reference's merge semantics operate on raw dict keys.
 */
final case class AnomalySpec(
    start: Option[Long],
    end: Option[Long],
    counts: Long,
    formula: Option[String])

final case class ResolvedGenerator(
    id: String,
    shape: String,
    config: Config)

final case class TargetSpec(
    tpe: String,
    groupDatapoints: Boolean,
    generators: Seq[String],
    raw: Config)

final case class Blueprint(
    generators: Seq[ResolvedGenerator],
    targets: Seq[TargetSpec])

/**
 * Open configuration map with the reference's typed getters + code defaults
 * (src/main.py:63-69, 378-420). Values are Jackson nodes so numeric vs
 * string vs nested anomaly objects survive untouched.
 */
final case class Config(entries: Map[String, JsonNode]) {
  def get(key: String): Option[JsonNode] = entries.get(key)
  def double(key: String, default: Double): Double =
    entries.get(key).map(_.asDouble(default)).getOrElse(default)
  def long(key: String, default: Long): Long =
    entries.get(key).map(_.asLong(default)).getOrElse(default)
  def string(key: String, default: String): String =
    entries.get(key).map(_.asText(default)).getOrElse(default)
  def stringOpt(key: String): Option[String] =
    entries.get(key).filter(!_.isNull).map(_.asText())
  def strings(key: String, default: Seq[String]): Seq[String] =
    entries.get(key) match {
      case Some(n) if n.isArray => n.elements().asScala.map(_.asText()).toSeq
      case Some(n)              => Seq(n.asText())
      case None                 => default
    }

  // Reference defaults of last resort (src/main.py:63-69).
  def numPoints: Long  = long("num_points", Config.DefaultNumPoints)
  def signalMin: Double = double("signal_min", Config.DefaultSignalMin)
  def signalMax: Double = double("signal_max", Config.DefaultSignalMax)
  def noiseMin: Double  = double("noise_min", Config.DefaultNoiseMin)
  def noiseMax: Double  = double("noise_max", Config.DefaultNoiseMax)
  // `noise_min and noise_max` truthiness gate (src/main.py:599): 0 disables.
  def noiseEnabled: Boolean = noiseMin != 0.0 && noiseMax != 0.0

  /** `anomalies` may be one object or an array (src/main.py:617-619). */
  def anomalies: Seq[AnomalySpec] = entries.get("anomalies") match {
    case None => Seq.empty
    case Some(node) =>
      val specs = if (node.isArray) node.elements().asScala.toSeq else Seq(node)
      specs.map { n =>
        AnomalySpec(
          start = Option(n.get("start")).map(_.asLong()),
          end = Option(n.get("end")).map(_.asLong()),
          counts = Option(n.get("counts")).map(_.asLong()).getOrElse(0L),
          formula = Option(n.get("formula")).filter(!_.isNull).map(_.asText()))
      }
  }
}

object Config {
  val DefaultSignalMin = 1.0
  val DefaultSignalMax = 20.0
  val DefaultNoiseMin = 0.0
  val DefaultNoiseMax = 0.0
  val DefaultNumPoints = 100L
  val empty: Config = Config(Map.empty)

  private val mapper = new ObjectMapper()

  /** Parse a bare JSON object into a Config — convenience for tests and
    * the SparkEntry query catalog. */
  def of(json: String): Config = {
    val node = mapper.readTree(json)
    require(node.isObject, "Config.of expects a JSON object")
    Config(node.properties().asScala.map(e => e.getKey -> e.getValue).toMap)
  }
}

object BlueprintParser {
  private val mapper = new ObjectMapper()

  /**
   * Parse + resolve a blueprint JSON string.
   *
   * Resolution replicates src/main.py:1086-1098 exactly: each generator's
   * effective config = copy(commons) overlaid with the generator's own
   * `config` (generator keys win); s3 targets without a `bucket` get
   * `defaultBucket` injected. Resolution is planning-time, pure.
   */
  /** EP1 env-driven entry contract (src/main.py:54-61): the reference
    * resolves its blueprint location from the REQUIRED `BlueprintBucket`
    * / `BlueprintObject` env vars and injects the required
    * `DefaultS3Bucket` into bucket-less s3 targets. Local analog:
    * bucket = a directory, object = the blueprint file inside it. A
    * missing var fails fast, mirroring `os.environ[...]`'s KeyError. */
  def fromEnv(env: Map[String, String] = sys.env): Blueprint = {
    def req(k: String): String = env.getOrElse(k, throw new NoSuchElementException(
      s"required env var '$k' is not set (EP1 entry contract, src/main.py:54-61)"))
    parseFile(
      java.nio.file.Paths.get(req("BlueprintBucket"), req("BlueprintObject")).toString,
      req("DefaultS3Bucket"))
  }

  /** EP1 local analog of the S3 blueprint fetch (src/main.py:1071-1083):
    * read the blueprint JSON from a filesystem path. */
  def parseFile(path: String, defaultBucket: String = "default-bucket"): Blueprint =
    parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8),
      defaultBucket)

  def parse(json: String, defaultBucket: String = "default-bucket"): Blueprint = {
    val root = mapper.readTree(json)
    val commons: Map[String, JsonNode] = fields(root.get("commons"))

    val generators = Option(root.get("generators")).toSeq
      .flatMap(_.elements().asScala).zipWithIndex
      .map { case (g, i) =>
        val own = fields(g.get("config"))
        // precedence: code default < commons < generator.config
        ResolvedGenerator(
          id = required(g, "id", s"generator #$i"),
          shape = required(g, "shape", s"generator #$i"),
          config = Config(commons ++ own))
      }
    // Generators are keyed by id everywhere (per-generator statistics,
    // RNG streams, target routing): two generators under one id would
    // merge into one interleaved series.
    val dups = generators.map(_.id).diff(generators.map(_.id).distinct).distinct
    require(dups.isEmpty, s"duplicate generator ids: ${dups.mkString(", ")}")

    val targets = Option(root.get("targets")).toSeq
      .flatMap(_.elements().asScala).zipWithIndex
      .map { case (t, i) =>
        val raw0 = fields(t)
        val tpe = required(t, "type", s"target #$i")
        val raw =
          if (tpe == "s3" && !raw0.contains("bucket"))
            raw0 + ("bucket" -> mapper.getNodeFactory.textNode(defaultBucket))
          else raw0
        TargetSpec(
          tpe = tpe,
          groupDatapoints =
            Option(t.get("group_datapoints")).exists(_.asBoolean(false)),
          generators = Option(t.get("generators")).toSeq
            .flatMap(_.elements().asScala).map(_.asText()),
          raw = Config(raw))
      }

    Blueprint(generators, targets)
  }

  private def required(node: JsonNode, key: String, what: String): String = {
    require(node.hasNonNull(key), s"$what has no '$key'")
    node.get(key).asText()
  }

  private def fields(node: JsonNode): Map[String, JsonNode] =
    Option(node) match {
      case Some(n) if n.isObject =>
        n.properties().asScala.map(e => e.getKey -> e.getValue).toMap
      case _ => Map.empty
    }
}
