package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.blueprint.{Config, ResolvedGenerator}
import graft.dsl.Formula
import graft.functions.{Rng, Samplers}

/**
 * Timeseries generator sources (SURVEY §2.1, S1-S6) — each produces the
 * canonical long IR frame `(generator_id STRING, t LONG, value DOUBLE)`,
 * fully codegen-friendly Column math.
 *
 * One generation path, [[source]], serves a whole blueprint and every
 * per-shape entry point. The analytic shapes (sinusoidal, square,
 * constant, random, prefix-free custom) are ONE `spark.range(maxN)`
 * crossed with a parameter table (one row per generator, filtered to
 * each generator's length), their value a [[Transforms.pick]] over the
 * distinct kernels: one per shape or random type and one per distinct
 * prefix-free formula, every other parameter being a column of the
 * table. So the plan grows with neither the generator count nor the
 * number of distinct parameter values, only with distinct formulas.
 * Prefix-referencing custom formulas and `real` replays are their own
 * sources, unioned in; then one scale stage ([[Transforms.scaleAndNoise]])
 * rescales the shapes the reference scales.
 *
 * The reference dispatches by reflection (`'get_%s_timeseries' % shape`,
 * src/main.py:654-657); we dispatch with a match in [[kernelOf]].
 */
object Generators {

  import Transforms.Gid

  /** Dispatch on shape — mirror of the reference's reflective registry. */
  def forSpec(spark: SparkSession, gen: ResolvedGenerator, seed: Long): DataFrame =
    Transforms.scaleAndNoise(source(spark, Seq(gen), seed), scaling(Seq(gen)), Nil, seed)

  /** The series of `gens` before the scale stage, one long frame. */
  private[operators] def source(spark: SparkSession, gens: Seq[ResolvedGenerator],
      seed: Long): DataFrame = {
    val (analytic, own) = gens.map(g => g -> kernelOf(g)).partition(_._2.isDefined)
    val analyticFrame =
      if (analytic.isEmpty) Nil
      else Seq(analyticSource(spark, analytic.map { case (g, k) => (g, k.get) }, seed))
    val ownFrames = own.map { case (g, _) =>
      if (g.shape == "real")
        Replay.textSource(spark, g.id, g.config.string("key", ""), g.config.numPoints)
      else prefixSource(spark, g.id, formulaOf(g), g.config.numPoints)
    }
    (analyticFrame ++ ownFrames).reduce(_ unionByName _)
  }

  /** `(id, signal_min, signal_max)` of the generators the reference scales:
    * all but constant, square and `random/triangular` (src/main.py:540-544). */
  private[operators] def scaling(gens: Seq[ResolvedGenerator]): Seq[(String, Double, Double)] =
    gens.filterNot(g => g.shape == "constant" || g.shape == "square" ||
      g.shape == "random" && g.config.string("type", "uniform") == "triangular")
      .map(g => (g.id, g.config.signalMin, g.config.signalMax))

  /**
   * S1 — sinusoidal (src/main.py:479-498): TimeSynth samples `num_points`
   * regular points over [0, num_points] (linspace ⇒ step n/(n-1)), signal
   * `amplitude * sin(2π * frequency * time)`, then min-max scale+ceil.
   * Amplitude cancels in the scaling; preserved anyway for fidelity.
   */
  def sinusoidal(spark: SparkSession, id: String, cfg: Config): DataFrame =
    forSpec(spark, ResolvedGenerator(id, "sinusoidal", cfg), 0L)

  /** S2 — constant (src/main.py:500-508): the square wave lo = hi. NOT scaled. */
  def constant(spark: SparkSession, id: String, cfg: Config): DataFrame =
    forSpec(spark, ResolvedGenerator(id, "constant", cfg), 0L)

  /**
   * S5 — square wave (src/main.py:447-462): repeat low_width lows then
   * high_width highs, truncate at num_points. NOT scaled.
   */
  def square(spark: SparkSession, id: String, cfg: Config): DataFrame =
    forSpec(spark, ResolvedGenerator(id, "square", cfg), 0L)

  /**
   * S6 — custom formula (src/main.py:464-477): per-slot `eval(formula)`
   * with `t` AND the accumulating `datapoints` list in scope, then
   * scale+ceil. Compiled through the closed DSL ([[graft.dsl.Formula]])
   * instead of eval.
   *
   * Two evaluation paths, dispatched on what the formula references:
   *  - prefix-FREE formulas (only `t` — every shipped blueprint)
   *    compile to a pure Catalyst Column: one kernel of the analytic
   *    source, a codegen'd projection — no shuffle, no state.
   *  - prefix-REFERENCING formulas (`max/min/len(datapoints)` — the
   *    reference's growing-list scope) are a genuine recurrence:
   *    point `t` depends on aggregates of points `0..t-1`, which no
   *    stateless window can express. They run as a per-generator
   *    sequential fold ([[Formula.evalPrefix]]) inside
   *    `flatMapGroups` — sequential WITHIN one generator's series
   *    (bounded by `num_points`, a blueprint constant — the same
   *    bounded-by-config posture as blueprint resolution), parallel
   *    ACROSS generators, which is where a blueprint's scale lives.
   *    This closes SURVEY §7.4.2's documented gap for the aggregate
   *    surface, and (round 13) the BOUNDED-LAG indexing forms
   *    `datapoints[-k]` / `datapoints[t-k]` with constant k — the
   *    lagged-feedback shape reference formulas use — carried by a
   *    k-deep ring on the same fold. Arbitrary index EXPRESSIONS stay
   *    out of grammar, exactly as eval does.
   */
  def custom(spark: SparkSession, id: String, cfg: Config): DataFrame =
    forSpec(spark, ResolvedGenerator(id, "custom", cfg), 0L)

  /**
   * S4 — random draws (src/main.py:531-573, semantics as documented at
   * README.md:133 with the `call_obj_method` NameError fixed — SURVEY §2.8
   * fix 6). All draws come from the deterministic counter RNG ([[Rng]]);
   * closed-form distributions are pure Column math (inverse CDF /
   * transforms), gamma/beta/von-Mises use a seeded scalar sampler UDF.
   * Everything except `triangular` is then min-max scaled (reference
   * asymmetry preserved: src/main.py:540-544 returns triangular unscaled).
   */
  def random(spark: SparkSession, id: String, cfg: Config, seed: Long): DataFrame =
    forSpec(spark, ResolvedGenerator(id, "random", cfg), seed)

  /** What computes an analytic generator's value from its parameter row. */
  private sealed trait Kernel
  /** Square wave; a constant c is the wave lo = hi = c. */
  private case object Wave extends Kernel
  private case object Sine extends Kernel
  private final case class Draw(tpe: String) extends Kernel
  /** A prefix-free custom formula. */
  private final case class Expr(ast: Formula.Ast) extends Kernel

  /** One analytic generator's row of the parameter table. */
  private final case class Params(generator_id: String, n: Long, kernel: Int,
      lo: Double = 0.0, hi: Double = 0.0, lw: Long = 1L, hw: Long = 1L,
      amp: Double = 0.0, w: Double = 0.0, step: Double = 0.0,
      alpha: Double = 0.0, beta: Double = 0.0, mu: Double = 0.0,
      sigma: Double = 0.0, lambda: Double = 0.0, kappa: Double = 0.0,
      paretoExp: Double = 0.0, weibullExp: Double = 0.0)

  /** The analytic kernel of a generator; None for a source of its own
    * (`real`, prefix-referencing custom). */
  private def kernelOf(g: ResolvedGenerator): Option[Kernel] = g.shape match {
    case "constant" | "square" => Some(Wave)
    case "sinusoidal" => Some(Sine)
    case "random" => Some(Draw(g.config.string("type", "uniform")))
    case "custom" =>
      val ast = formulaOf(g)
      if (Formula.usesPrefix(ast)) None else Some(Expr(ast))
    case "real" => None
    case other => throw new IllegalArgumentException(s"unknown shape '$other'")
  }

  private def formulaOf(g: ResolvedGenerator): Formula.Ast =
    Formula.parse(g.config.stringOpt("formula").getOrElse(
      throw new IllegalArgumentException(s"custom generator '${g.id}' needs a formula")))

  private def params(g: ResolvedGenerator, k: Kernel, kernel: Int): Params = {
    val cfg = g.config
    val n = cfg.numPoints
    val p = Params(g.id, n, kernel)
    k match {
      case Wave if g.shape == "constant" =>
        val c = cfg.double("constant", 1.0)
        p.copy(lo = c, hi = c)
      case Wave =>
        val lw = cfg.long("low_width", 1L)
        val hw = cfg.long("high_width", 1L)
        require(lw + hw > 0, s"square generator '${g.id}': low_width+high_width must be > 0")
        p.copy(lo = cfg.double("low_value", 0.0), hi = cfg.double("high_value", 0.0),
          lw = lw, hw = hw)
      case Sine =>
        p.copy(amp = cfg.double("amplitude", 1.0),
          w = 2.0 * math.Pi * cfg.double("frequency", 1.0),
          step = if (n > 1) n.toDouble / (n - 1).toDouble else 0.0)
      case Draw(_) =>
        val (alpha, beta) = (cfg.double("alpha", 1.0), cfg.double("beta", 1.0))
        // the exponents are divided out here, so alpha = 0 or beta = 0
        // gives an infinite exponent, not a division error in the job
        p.copy(lo = cfg.signalMin, hi = cfg.signalMax, alpha = alpha, beta = beta,
          mu = cfg.double("mu", 0.0), sigma = cfg.double("sigma", 1.0),
          lambda = cfg.double("lambda", 1.0), kappa = cfg.double("kappa", 1.0),
          paretoExp = -1.0 / alpha, weibullExp = 1.0 / beta)
      case Expr(_) => p
    }
  }

  /** Every analytic generator from one range scan: each slot `t` crossed
    * with the parameter rows (one literal array, exploded in place — no
    * join, no broadcast), kept while `t < n`. */
  private def analyticSource(spark: SparkSession, gens: Seq[(ResolvedGenerator, Kernel)],
      seed: Long): DataFrame = {
    val kernels = gens.map(_._2).distinct
    val table = typedLit(gens.map { case (g, k) => params(g, k, kernels.indexOf(k)) })
    val value = Transforms.pick(col("kernel"),
      kernels.map(valueOf(_, seed).cast("double")).toIndexedSeq)
    spark.range(0, gens.map(_._1.config.numPoints).max).toDF("t")
      .select(col("t"), explode(table).as("p"))
      .select(col("t"), col("p.*"))
      .where(col("t") < col("n"))
      .select(col(Gid), col("t"), value.as("value"))
  }

  private def valueOf(k: Kernel, seed: Long): Column = k match {
    case Wave =>
      when(pmod(col("t"), col("lw") + col("hw")) < col("lw"), col("lo"))
        .otherwise(col("hi"))
    case Sine =>
      col("amp") * sin(col("w") * (col("t").cast("double") * col("step")))
    case Draw(tpe) => draw(tpe, seed)
    case Expr(ast) => Formula.compileAst(ast)
  }

  /** S4 draws of type `tpe`, parameters from the row (see [[random]]). */
  private def draw(tpe: String, seed: Long): Column = {
    val u = Rng.uniform(seed, s"random/$tpe", col(Gid), col("t"))
    val uPos = Rng.uniformPos(seed, s"random/$tpe", col(Gid), col("t"))
    val gauss = Rng.gaussian(seed, s"random/$tpe", col(Gid), col("t"))
    tpe match {
      case "uniform" => u
      case "triangular" =>
        // Python random.triangular(low, high), mode defaults to midpoint
        // (c = 0.5): inverse CDF split at u < c.
        val (lo, hi, c) = (col("lo"), col("hi"), 0.5)
        when(u < lit(c), lo + (hi - lo) * sqrt(u * lit(c)))
          .otherwise(hi - (hi - lo) * sqrt((lit(1.0) - u) * lit(1.0 - c)))
      case "expovariate" => -log(uPos) / col("lambda")
      case "paretovariate" => pow(uPos, col("paretoExp"))
      case "gauss" | "normalvariate" => col("mu") + col("sigma") * gauss
      case "lognormvariate" => exp(col("mu") + col("sigma") * gauss)
      case "weibullvariate" =>
        // CPython: alpha * (-ln U)^(1/beta)
        col("alpha") * pow(-log(uPos), col("weibullExp"))
      case "betavariate" | "gammavariate" | "vonmisesvariate" =>
        val h = Rng.hash64(seed, s"random/$tpe", col(Gid), col("t"))
        val sampler = udf((hv: Long, alpha: Double, beta: Double, mu: Double, kappa: Double) => {
          val r = new java.util.Random(hv)
          tpe match {
            case "gammavariate" => Samplers.gamma(r, alpha, beta)
            case "betavariate"  => Samplers.beta(r, alpha, beta)
            case _              => Samplers.vonMises(r, mu, kappa)
          }
        })
        sampler(h, col("alpha"), col("beta"), col("mu"), col("kappa"))
      case _ =>
        // Reference falls through with datapoint = 0 for unknown types.
        lit(0.0)
    }
  }

  /** A prefix-referencing custom formula as a sequential fold within the
    * generator's series (see [[custom]]). */
  private def prefixSource(spark: SparkSession, id: String, ast: Formula.Ast,
      n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n).toDF("t").withColumn(Gid, lit(id))
      .select(col(Gid).as[String], col("t").as[Long])
      .groupByKey(_._1)
      .flatMapGroups { (gid: String, rows: Iterator[(String, Long)]) =>
        val ts = rows.map(_._2).toArray
        java.util.Arrays.sort(ts)
        var mx = Double.NaN
        var mn = Double.NaN
        var len = 0L
        // bounded-lag state: a K-deep ring of the most recent
        // points (K = deepest datapoints[-k] in the formula; 0 ⇒
        // no ring at all) — O(K) memory regardless of num_points
        val lagDepth = Formula.maxLag(ast)
        val ring = if (lagDepth > 0) new Array[Double](lagDepth) else null
        val lagAt: Int => Double =
          k => ring((((len - k) % lagDepth + lagDepth) % lagDepth).toInt)
        // absolute-anchor state: the first J+1 points, captured as
        // generated (J = deepest datapoints[j] in the formula; -1 ⇒
        // no anchors at all) — O(J) memory regardless of num_points
        val idxDepth = Formula.maxIdx(ast)
        val anchors =
          if (idxDepth >= 0) new Array[Double](idxDepth + 1) else null
        val idxAt: Int => Double = j => anchors(j)
        ts.iterator.map { t =>
          val v = Formula.evalPrefix(ast, t, len, mx, mn, lagAt, idxAt)
          mx = if (len == 0) v else math.max(mx, v)
          mn = if (len == 0) v else math.min(mn, v)
          if (lagDepth > 0) ring((len % lagDepth).toInt) = v
          if (anchors != null && len <= idxDepth) anchors(len.toInt) = v
          len += 1
          (gid, t, v)
        }
      }
      .toDF(Gid, "t", "value")
  }
}
