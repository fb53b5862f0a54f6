package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.blueprint.{BlueprintParser, Config}

/** Blueprint parse + resolve semantics (reference src/main.py:1071-1100,
  * SURVEY §1.3): precedence code-default < commons < generator.config;
  * anomalies object-or-array normalization; s3 default-bucket injection;
  * the noise truthiness gate. Pure Scala — no Spark session. */
class BlueprintSpec extends AnyFunSuite with Matchers {

  val json =
    """{
      |  "commons": {"num_points": 500, "signal_min": 2, "signal_max": 9,
      |              "noise_min": 1, "noise_max": 5,
      |              "anomalies": {"start": 1, "end": 2, "counts": 3}},
      |  "generators": [
      |    {"id": "a", "shape": "sinusoidal", "config": {"frequency": 0.5}},
      |    {"id": "b", "shape": "constant",
      |     "config": {"num_points": 50, "noise_min": 0,
      |                "anomalies": [{"start": 5, "end": 6, "counts": 1},
      |                              {"counts": 2}]}}
      |  ],
      |  "targets": [
      |    {"type": "s3", "action": "put", "generators": ["a"]},
      |    {"type": "s3", "action": "get", "bucket": "explicit", "generators": ["b"]},
      |    {"type": "cloudwatch", "group_datapoints": true, "generators": ["a", "b"]}
      |  ]
      |}""".stripMargin

  val bp = BlueprintParser.parse(json, defaultBucket = "stack-bucket")

  test("commons flow into each generator config") {
    val a = bp.generators.find(_.id == "a").get.config
    a.numPoints shouldBe 500L
    a.signalMin shouldBe 2.0
    a.signalMax shouldBe 9.0
    a.double("frequency", -1) shouldBe 0.5
  }

  test("generator config overrides commons; code defaults of last resort") {
    val b = bp.generators.find(_.id == "b").get.config
    b.numPoints shouldBe 50L                 // generator wins over commons
    b.signalMin shouldBe 2.0                 // commons wins over code default
    Config.empty.numPoints shouldBe 100L     // code default (src/main.py:69)
    Config.empty.signalMin shouldBe 1.0
    Config.empty.signalMax shouldBe 20.0
  }

  test("noise truthiness gate: 0 disables (src/main.py:599)") {
    bp.generators.find(_.id == "a").get.config.noiseEnabled shouldBe true
    bp.generators.find(_.id == "b").get.config.noiseEnabled shouldBe false
    Config.empty.noiseEnabled shouldBe false
  }

  test("anomalies: single object normalized to list; array passes through; generator replaces commons wholesale") {
    val a = bp.generators.find(_.id == "a").get.config.anomalies
    a should have size 1
    a.head.counts shouldBe 3L
    val b = bp.generators.find(_.id == "b").get.config.anomalies
    b should have size 2
    b.head.start shouldBe Some(5L)
    b(1).start shouldBe None
    b(1).counts shouldBe 2L
  }

  test("blueprints the engine cannot key fail at parse time with a named error") {
    def err(json: String): String =
      intercept[IllegalArgumentException](BlueprintParser.parse(json)).getMessage
    err("""{"generators":[{"id":"g","shape":"constant"},{"id":"h","shape":"square"},
          | {"id":"g","shape":"sinusoidal"}]}""".stripMargin) should include("duplicate generator ids: g")
    err("""{"generators":[{"shape":"constant"}]}""") should include("generator #0 has no 'id'")
    err("""{"generators":[{"id":"g","shape":"constant"},{"id":"h"}]}""") should
      include("generator #1 has no 'shape'")
    err("""{"generators":[{"id":"g","shape":null}]}""") should include("generator #0 has no 'shape'")
    err("""{"generators":[{"id":"g","shape":"constant"}],
          | "targets":[{"type":"s3"},{"generators":["g"]}]}""".stripMargin) should
      include("target #1 has no 'type'")
  }

  test("s3 targets get the default bucket only when absent (src/main.py:1096-1098)") {
    bp.targets(0).raw.string("bucket", "") shouldBe "stack-bucket"
    bp.targets(1).raw.string("bucket", "") shouldBe "explicit"
    bp.targets(2).raw.get("bucket") shouldBe None // not s3 → untouched
    bp.targets(2).groupDatapoints shouldBe true
    bp.targets(0).groupDatapoints shouldBe false
  }

  test("EP1 env entry: BlueprintBucket/Object resolve the file, DefaultS3Bucket injects; missing var fails fast") {
    val dir = java.nio.file.Files.createTempDirectory("bp_env").toFile
    try {
      val f = new java.io.File(dir, "bp.json")
      java.nio.file.Files.write(f.toPath,
        """{"generators":[{"id":"g","shape":"constant","config":{"num_points":3,"constant":1}}],
          | "targets":[{"type":"s3","action":"put","generators":["g"]}]}""".stripMargin
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val env = Map("BlueprintBucket" -> dir.getAbsolutePath,
        "BlueprintObject" -> "bp.json", "DefaultS3Bucket" -> "env-bucket")
      val parsed = BlueprintParser.fromEnv(env)
      parsed.generators.map(_.id) shouldBe Seq("g")
      parsed.targets.head.raw.string("bucket", "") shouldBe "env-bucket"
      val ex = intercept[NoSuchElementException] {
        BlueprintParser.fromEnv(env - "BlueprintObject")
      }
      ex.getMessage should include("BlueprintObject")
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}
