package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.blueprint.Config

/**
 * S3 — real-timeseries replay (reference `get_real_timeseries`,
 * src/main.py:510-529): read an object as text, one integer per line,
 * skip blank lines, zero-pad to num_points, truncate beyond, min-max
 * scale+ceil.
 *
 * Order is load-bearing (SURVEY §7.4 hard part 3): line N of the file is
 * slot N. `spark.read.text` splits one file into offset-ordered
 * partitions, so `monotonically_increasing_id()` (partition id in the
 * high bits) sorts back to exact file order without a single-partition
 * window.
 */
object Replay {

  import Transforms.Gid

  def fromTextFile(spark: SparkSession, id: String, path: String,
      cfg: Config): DataFrame =
    Transforms.scaleRange(textSource(spark, id, path, cfg.numPoints),
      cfg.signalMin, cfg.signalMax)

  /** The replay file as the generator's raw series: slot N is the N-th
    * non-blank line, zero-padded / truncated to `n`, not yet scaled. */
  private[operators] def textSource(spark: SparkSession, id: String,
      path: String, n: Long): DataFrame = {
    val lines = spark.read.textFile(path).toDF("line")
      .withColumn("__file_pos", monotonically_increasing_id())
      .where(trim(col("line")) =!= "")
    // Rank non-blank lines by file position. The shuffle here is bounded
    // by the replay file size (≤ num_points ≤ 20,160 in the reference
    // envelope) — never by the engine's data volume.
    val indexed = lines
      .withColumn("t",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("__file_pos")).cast("long") - 1)
      .select(col("t"), trim(col("line")).cast("long").cast("double").as("value"))
    align(spark, id, indexed, n)
  }

  /**
   * Frame-based replay: any `(t LONG, value)` source (an activity log, a
   * previously materialized series) replayed through the same zero-pad /
   * truncate / scale pipeline. This is the scale path — the input can be
   * arbitrarily large and stays distributed.
   */
  def fromFrame(spark: SparkSession, id: String, indexed: DataFrame,
      cfg: Config): DataFrame =
    Transforms.scaleRange(align(spark, id,
      indexed.select(col("t").cast("long"), col("value").cast("double")),
      cfg.numPoints), cfg.signalMin, cfg.signalMax)

  /** Zero-pad short series / truncate long ones (src/main.py:524-529). */
  private def align(spark: SparkSession, id: String, indexed: DataFrame,
      n: Long): DataFrame =
    spark.range(0, n).toDF("t").join(indexed.where(col("t") < n), Seq("t"), "left")
      .select(lit(id).as(Gid), col("t"),
        coalesce(col("value"), lit(0.0)).as("value"))
}
