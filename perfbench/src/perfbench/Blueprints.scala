package perfbench

import java.util.Random

/** Seeded blueprint documents for the blueprint workload. The engine
  * sees only the JSON text (and, for `real` replay, the file written next
  * to it). */
object Blueprints {

  /** The reference's 14-day ceiling: one slot per minute. */
  val FanoutSlots = 20160

  private def q(s: String): String = "\"" + s + "\""

  /** SampleBlueprint surface at the 14-day envelope: all six shapes, noise
    * on two of them, a formula anomaly from `commons` and a default-formula
    * anomaly on the constant, delivered to five targets whose generator
    * sets overlap. The seed moves phases, offsets and every random draw
    * (it is also the engine's seed), never sizes or shapes. */
  def fanout(seed: Long, replayPath: String): String = {
    val r = new Random(seed)
    val n = FanoutSlots
    val start = 1000 + r.nextInt(n - 4000)
    val freq = (4 + r.nextInt(6)) / 1440.0
    val formula = s"(t % ${60 + r.nextInt(10)}) + 2 * (t % ${7 + r.nextInt(3)})"
    val anomalyAt = 500 + r.nextInt(n - 2000)
    s"""{
       | "commons": {"num_points": $n, "signal_min": 1, "signal_max": 10,
       |   "anomalies": {"start": $start, "end": ${start + 2000}, "counts": 5,
       |                 "formula": "max(datapoints) + t % 13"}},
       | "generators": [
       |  {"id": "sin", "shape": "sinusoidal", "config": {"frequency": $freq,
       |     "noise_min": 1, "noise_max": 3, "anomalies": []}},
       |  {"id": "const", "shape": "constant", "config": {"constant": 1,
       |     "anomalies": {"start": $anomalyAt, "end": ${anomalyAt + 1000}, "counts": 3}}},
       |  {"id": "rand", "shape": "random", "config": {"type": "uniform",
       |     "signal_max": 6, "noise_min": 1, "noise_max": 2, "anomalies": []}},
       |  {"id": "square", "shape": "square", "config": {"anomalies": [],
       |     "low_value": 0, "high_value": 2, "low_width": 45, "high_width": 25}},
       |  {"id": "real", "shape": "real", "config": {"bucket": "bench-bucket",
       |     "key": ${q(replayPath)}, "anomalies": []}},
       |  {"id": "custom", "shape": "custom", "config": {"formula": "$formula"}}
       | ],
       | "targets": [
       |  {"type": "s3", "action": "put", "prefix": "sensitive/",
       |   "generators": ["const", "square"],
       |   "fake_types": ["bban", "iban", "credit_card_full", "phone_number", "ssn", "address"],
       |   "fake_counts": 2},
       |  {"type": "s3", "action": "get", "bucket": "bench-bucket", "prefix": "data/",
       |   "slice_size": 100, "generators": ["square", "const"]},
       |  {"type": "cloudwatch", "namespace": "Bench/Timeseries",
       |   "generators": ["sin", "const", "rand", "square", "real", "custom"]},
       |  {"type": "lambda", "function": "grouped", "group_datapoints": true,
       |   "generators": ["sin", "custom"]},
       |  {"type": "lambda", "function": "sliced", "slice_size": 4,
       |   "generators": ["rand"]}
       | ]}""".stripMargin
  }

  /** The `real` shape's replay file: one integer per line, with blank
    * lines the replay skips. */
  def replayLines(seed: Long): Seq[String] = {
    val r = new Random(seed ^ 0x5eedL)
    val a = 3 + r.nextInt(17)
    val m = 50 + r.nextInt(50)
    (0 until FanoutSlots + 200).map { i =>
      if (i % 97 == 96) "" else ((i.toLong * a + r.nextInt(5)) % m).toString
    }
  }
}
