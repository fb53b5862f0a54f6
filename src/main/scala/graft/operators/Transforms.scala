package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.blueprint.{AnomalySpec, Config}
import graft.dsl.Formula
import graft.functions.Rng

/**
 * Per-series transforms over the canonical long IR frame
 * `(generator_id STRING, t LONG, value DOUBLE)` — SURVEY §2.2.
 *
 * Every statistic runs through one kernel, [[perGenerator]]: a
 * `groupBy(generator_id)` aggregate, broadcast back and joined on
 * `generator_id`. A whole blueprint takes each transform ONCE (scale and
 * noise share one, [[scaleAndNoise]]): one aggregate for all its
 * generators, whose per-generator bounds ride in that statistics table as
 * data (a driver-side table joined in before the broadcast) and are read
 * by one expression. So the plan, and the work per row, scale with data
 * volume and the number of transform stages, not with the series count
 * or with how many distinct parameter values the series have. Only code
 * is not data: each distinct anomaly formula is one branch of a [[pick]],
 * which costs a row O(log formulas) comparisons. No
 * `Window.partitionBy()` over the whole frame, no `collect()`.
 *
 * The single-series entry points ([[scaleRange]], [[applyNoise]],
 * [[applyAnomalies]]) run the same stages with one `[lo, hi]` for every
 * row.
 */
object Transforms {

  val Gid = "generator_id"

  /**
   * The one statistics kernel: aggregate `aggs` per generator over the
   * rows where `in` holds, add the stage's per-generator parameters with
   * `params`, broadcast the statistics back, rewrite `value` and drop
   * them again. The join is a left join: generators outside `in` find no
   * statistics row and keep their `value`.
   */
  private def perGenerator(df: DataFrame, in: Column, aggs: Seq[Column],
      params: DataFrame => DataFrame = identity)(value: Column): DataFrame = {
    val stats = params(df.where(in).groupBy(Gid).agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed(Gid, "__sg"))
    byGenerator(df, stats, Gid -> "__sg")
      .withColumn("value", value)
      .drop(stats.columns: _*)
  }

  /**
   * Left-joins a small per-generator table on `keys` (pairs of `df` and
   * table columns, the generator id first), matched by one 8-byte hash
   * of the keys and then by the keys themselves. A string join key would
   * make Spark build the broadcast as a byte-map holding a whole memory
   * page (16 MB with a 2 GB heap on local[2]) per statistics table, alive
   * until the broadcast is cleaned; a long key builds a hash map sized
   * to the table. The key comparison stays a residual condition, so a
   * hash collision can never merge two generators. Shared with the
   * cloudwatch sink's shape lookup.
   */
  private[graft] def byGenerator(df: DataFrame, table: DataFrame, keys: (String, String)*): DataFrame =
    df.join(broadcast(table),
      xxhash64(keys.map(k => col(k._1)): _*) === xxhash64(keys.map(k => col(k._2)): _*) &&
        coalesce(keys.map { case (a, b) => col(a) === col(b) }.reduce(_ && _), lit(false)),
      "left")

  /**
   * `values(i)` where `index` is `i`: a balanced tree of CASEs, so a row
   * takes O(log n) comparisons to reach its branch.
   */
  private[operators] def pick(index: Column, values: IndexedSeq[Column], from: Int = 0): Column =
    if (values.size == 1) values.head
    else {
      val (l, r) = values.splitAt(values.size / 2)
      when(index < from + l.size, pick(index, l, from)).otherwise(pick(index, r, from + l.size))
    }

  /** A min-max rescale: the column rescaled, and its fold into `value`. */
  private type Rescale = (Column, (Column, Column) => Column)
  private val Scale: Rescale = (col("value"), (_, scaled) => scaled)
  private def noise(seed: Long): Rescale =
    (Rng.gaussian(seed, "noise", col(Gid), col("t")), (v, n) => greatest(lit(0.0), v + n))

  /** One min-max statistics stage: one aggregate of each part's column
    * min/max over the rows its filter keeps; `params` adds `__b`, element
    * i part i's `(lo, hi)` or null; the parts fold into `value` in order. */
  private def minMaxStage(df: DataFrame, in: Column, params: DataFrame => DataFrame,
      parts: Seq[(Column, Rescale)]): DataFrame = {
    val ix = parts.zipWithIndex
    perGenerator(df, in, ix.flatMap { case ((keep, (x, _)), i) =>
      Seq(min(when(keep, x)).as(s"__mn$i"), max(when(keep, x)).as(s"__mx$i")) }, params)(
      ix.foldLeft(col("value")) { case (v, ((_, (x, f)), i)) =>
        val b = col("__b")(i)
        when(b.isNull, v).otherwise(f(v,
          scaledExpr(x, col(s"__mn$i"), col(s"__mx$i"), b("_1"), b("_2"))))
      })
  }

  /** [[minMaxStage]] with one `[lo, hi]` for every row of the frame. */
  private def minMaxStage(df: DataFrame, lo: Double, hi: Double, part: Rescale): DataFrame =
    minMaxStage(df, lit(true),
      _.withColumn("__b", array(struct(lit(lo).as("_1"), lit(hi).as("_2")))), Seq(lit(true) -> part))

  /**
   * Min-max rescale each generator's series to [lo, hi], then ceil —
   * reference `scale_range` (src/main.py:340-357):
   * `ceil((x - min(x)) / (max(x) - min(x)) * (hi - lo) + lo)`.
   *
   * Two deliberate, documented deviations (SURVEY §2.8):
   *  - constant series (max==min, NaN in the reference) map to `lo`;
   *  - the pre-ceil value is quantized to 1e-9 (`round(_, 9)`) so the
   *    FP edge at exact integers is deterministic across engines (Java
   *    and C libm `sin` may differ in the last ulp; without quantization
   *    a 1-ulp difference at the series argmin flips `ceil` by 1).
   */
  def scaleRange(df: DataFrame, lo: Double, hi: Double): DataFrame =
    minMaxStage(df, lo, hi, Scale)

  /** The scale expression itself, reusable on any column. */
  def scaledExpr(v: Column, mn: Column, mx: Column, lo: Column, hi: Column): Column = {
    val std = (v - mn) / (mx - mn)
    val scaled = std * (hi - lo) + lo
    when(mx === mn, lo.cast("double"))
      .otherwise(ceil(round(scaled, 9)).cast("double"))
  }

  /**
   * Additive Gaussian noise — reference `apply_noise` (src/main.py:588-604):
   * draw N(0,1) per slot, min-max-rescale the *realized sample* to
   * [noise_min, noise_max] (NOT an analytic scaling — reference semantics),
   * add, clamp at 0. Disabled unless both bounds are nonzero (the
   * truthiness gate at src/main.py:599).
   */
  def applyNoise(df: DataFrame, cfg: Config, seed: Long): DataFrame =
    if (!cfg.noiseEnabled) df else minMaxStage(df, cfg.noiseMin, cfg.noiseMax, noise(seed))

  /** [[scaleRange]] then [[applyNoise]] over a whole blueprint, for the
    * generators `(id, lo, hi)` each lists (others pass), in ONE stage: the
    * noise draws depend only on `(seed, generator_id, t)`, so their min/max
    * share the values' `groupBy(generator_id)` and one bounds table. */
  def scaleAndNoise(df: DataFrame, scale: Seq[(String, Double, Double)],
      noise: Seq[(String, Double, Double)], seed: Long): DataFrame = {
    val live = Seq(scale -> Scale, noise -> this.noise(seed)).filter(_._1.nonEmpty)
    if (live.isEmpty) return df
    val ids = live.flatMap(_._1.map(_._1)).distinct
    val byId = live.map(_._1.map(r => r._1 -> (r._2, r._3)).toMap)
    val table = df.sparkSession.createDataFrame(ids.map(id => (id, byId.map(_.get(id)))))
      .toDF("__pg", "__b")
    minMaxStage(df, col(Gid).isin(ids: _*),
      stats => byGenerator(stats, table, "__sg" -> "__pg").drop("__pg"),
      live.map { case (rows, part) => col(Gid).isin(rows.map(_._1): _*) -> part })
  }

  /**
   * Anomaly injection — reference `apply_anomalies` (src/main.py:606-641).
   * Per spec: clamp start/end to n-1, draw `counts` slots uniformly in
   * [start, end] **with replacement** (duplicates collide, last write
   * wins — but our formulas depend only on (t, series aggregates), so
   * collisions are idempotent), overwrite with the compiled formula or
   * the default `(int(max(series)) + 1) ** 2` (src/main.py:628, 639).
   *
   * `datapoint_max`/`max(datapoints)` are evaluated on the series as it
   * stands *before this spec's* injection (matching `datapoint_max`'s
   * scope; specs apply sequentially like the reference's loop).
   *
   * Slot sampling happens driver-side from the deterministic seed — the
   * sampled-slot table is `counts` rows per generator, broadcast into
   * the join. `df` holds generator `generatorId`'s series.
   */
  def applyAnomalies(df: DataFrame, specs: Seq[AnomalySpec], numPoints: Long,
      seed: Long, generatorId: String): DataFrame =
    applyAnomalies(df, Seq((generatorId, specs, numPoints)), seed)

  /** [[applyAnomalies]] over a whole blueprint, `(id, specs, num_points)`
    * per generator: spec index 0 of every generator in one stage, then
    * index 1, … A generator with fewer specs passes the later stages
    * unchanged. Stage `i` ≥ 1 starts from an eager checkpoint of the
    * frame it would otherwise read twice (rows and statistics), so `d`
    * specs read the source O(d) times, not 2^(d+1). */
  def applyAnomalies(df: DataFrame, gens: Seq[(String, Seq[AnomalySpec], Long)],
      seed: Long): DataFrame = {
    val depth = if (gens.isEmpty) 0 else gens.map(_._2.size).max
    (0 until depth).foldLeft(df) { (cur, i) =>
      val specs = gens.collect { case (id, s, n) if s.size > i => (id, s(i), n) }
      anomalyStage(if (i == 0) cur else cur.localCheckpoint(), specs, seed, i)
    }
  }

  /**
   * The deterministic anomaly slot draws (uniform inclusive, with
   * replacement, deduplicated) for one spec. Public so the DuckDB
   * oracle builder can inject the SAME slots as plan-time literals —
   * the sampling is pure driver-side Scala, which makes an exact
   * cross-engine oracle possible for anomaly injection.
   */
  def anomalySlots(spec: AnomalySpec, n: Long, seed: Long,
      generatorId: String, specIdx: Int): Seq[Long] = {
    val start = math.min(spec.start.getOrElse(0L), n - 1)
    val end = math.min(spec.end.getOrElse(n - 1), n - 1)
    if (spec.counts <= 0 || end < start) return Nil
    val rng = new java.util.Random(seed ^
      scala.util.hashing.MurmurHash3.stringHash(s"$generatorId/anomaly/$specIdx").toLong)
    // floorMod, not abs%: abs(Long.MinValue) is negative (would land
    // below `start`), and floorMod's residual bias over a 64-bit draw
    // is a vanishing 2^-64 per slot.
    (0L until spec.counts)
      .map(_ => start + math.floorMod(rng.nextLong(), end - start + 1))
      .distinct
  }

  /** Spec index `specIdx` of each listed generator: a `(generator_id, t,
    * formula index)` slot table and a [[pick]] over the distinct formulas. */
  private def anomalyStage(df: DataFrame, specs: Seq[(String, AnomalySpec, Long)],
      seed: Long, specIdx: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val formulas = specs.map(_._2.formula).distinct
    val slots = specs.flatMap { case (id, spec, n) =>
      val f = formulas.indexOf(spec.formula)
      anomalySlots(spec, n, seed, id, specIdx).map(t => (id, t, f))
    }
    if (slots.isEmpty) return df

    val formulaCol = pick(col("__f"), formulas.map(_.fold(
      pow(col(Formula.DpMaxCol) + lit(1.0), 2.0))(Formula.compile).cast("double")).toIndexedSeq)
    // Pre-injection aggregates feed datapoint_max / max(datapoints) refs.
    perGenerator(
      byGenerator(df, slots.toDF("__sg", "__st", "__f"), Gid -> "__sg", "t" -> "__st")
        .drop("__sg", "__st"), col(Gid).isin(specs.map(_._1): _*),
      Seq(floor(max("value")).cast("double").as(Formula.DpMaxCol), // int(np.max(..))
        min("value").as(Formula.DpMinCol),
        count("*").cast("double").as(Formula.DpLenCol)))(
      when(col("__f").isNotNull, formulaCol).otherwise(col("value")))
      .drop("__f")
  }

  /**
   * Final int cast — reference `np.array(v).astype(int)` truncation toward
   * zero (src/main.py:663); Spark double→long casts truncate identically.
   */
  def intCast(df: DataFrame): DataFrame =
    df.withColumn("value", col("value").cast("long"))

  /**
   * Zero-fill alignment (src/main.py:684-693, with the lexicographic-max
   * bug fixed to max-by-length per SURVEY §2.8 fix 7): every generator is
   * extended to the longest series' length with zeros. Implemented as a
   * grid (range × generator ids) left-joined against the union frame —
   * no driver-side loops, scales with rows.
   */
  def zeroFillAlign(df: DataFrame, generatorIds: Seq[String], maxN: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val grid = spark.range(0, maxN).toDF("t")
      .crossJoin(broadcast(generatorIds.toDF(Gid)))
    grid.join(df, Seq(Gid, "t"), "left")
      .withColumn("value", coalesce(col("value"), lit(0L)))
  }
}
