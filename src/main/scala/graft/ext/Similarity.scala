package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`) — SURVEY
 * §2.7. Two paths:
 *
 *  - [[bruteForceTopK]]: exact cosine top-k, query side broadcast. The
 *    correctness baseline; scales linearly in corpus size with zero
 *    shuffle on the corpus (scan + bounded map-side top-k aggregation;
 *    only ≤k candidates per query per partition reach the shuffle).
 *  - [[lshTopK]]: random-hyperplane LSH bucketing; only colliding buckets
 *    are scored. The 100 TB path — candidate set shrinks ~2^planes-fold.
 *
 * Vector math is computed in double by native kernels of
 * [[graft.plans.Native]]: the dot product, PQ codes and the
 * nearest-centroid rule as codegen'd expressions, and each k-means
 * (Lloyd) pass as one fused loop over the raw vectors. No UDFs in the
 * hot path.
 */
object Similarity {

  /** Sequential-fold dot product in double — the native kernel
    * [[graft.plans.Native.dot]], one static call in generated code;
    * bit-identical to the `aggregate(zip_with(...))` formulation it
    * replaces but stays inside whole-stage codegen (HOFs are
    * interpreted per element). Null when the lengths differ; other
    * numeric arrays are cast to `array<double>` first. */
  def dot(a: Column, b: Column): Column =
    graft.plans.NativeFunctions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Exact top-k neighbors for each query vector. `queries` must be small
   * (it is broadcast); `corpus` is unbounded. Corpus norms are computed
   * once before the join; ranking is [[graft.operators.TopK.perGroup]] —
   * a bounded typed aggregator with map-side partial aggregation, so
   * each partition forwards at most k candidates per query into the
   * shuffle instead of sorting the whole scored corpus per query the
   * way a `row_number().over(partitionBy(query))` window would.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).as("__cv"))
      .withColumn("__cnorm", norm(col("__cv")))
    val q = queries.select(col(queryIdCol), col(vecCol).as("__qv"))
      .withColumn("__qnorm", norm(col("__qv")))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("score", dot(col("__cv"), col("__qv")) / (col("__cnorm") * col("__qnorm")))
      .select(col(queryIdCol), col(idCol), col("score"))
    graft.operators.TopK.perGroup(scored, queryIdCol, "score", idCol, k)
      .select(col(queryIdCol), col(idCol).as("neighbor_id"), col("score"), col("rank"))
  }

  /**
   * Hard-negative mining — [[bruteForceTopK]] restricted to
   * candidates whose `labelCol` DIFFERS from the query's: the top-k
   * most-similar wrong-label vectors per query, the batch every
   * contrastive/metric-learning trainer wants next to its positives.
   * Same scale posture: broadcast query side, corpus norms computed
   * once in the scan, bounded [[graft.operators.TopK.perGroup]]
   * aggregation (map-side k per partition), never a corpus-sized
   * per-query window. The label filter runs INSIDE the broadcast
   * join, so same-label rows never reach the aggregator.
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", queryIdCol: String = "query_id"): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).as("__cv"),
        col(labelCol).as("__clabel"))
      .withColumn("__cnorm", norm(col("__cv")))
    val q = queries.select(col(queryIdCol), col(vecCol).as("__qv"),
        col(labelCol).as("__qlabel"))
      .withColumn("__qnorm", norm(col("__qv")))
    val scored = c.join(broadcast(q), col("__clabel") =!= col("__qlabel"))
      .withColumn("score",
        dot(col("__cv"), col("__qv")) / (col("__cnorm") * col("__qnorm")))
      .select(col(queryIdCol), col(idCol), col("score"))
    graft.operators.TopK.perGroup(scored, queryIdCol, "score", idCol, k)
      .select(col(queryIdCol), col(idCol).as("neighbor_id"), col("score"),
        col("rank"))
  }

  /**
   * Embedding-space benchmark decontamination — the semantic twin of
   * [[Corpus.decontaminate]]'s n-gram gate: flag every corpus vector
   * whose cosine to ANY benchmark vector reaches `threshold`,
   * reporting the closest benchmark item as the evidence
   * (`(idCol, benchIdCol, score)`, ties on equal score broken by the
   * smaller benchmark id). Paraphrased eval leakage survives n-gram
   * screens — token overlap is near zero while the embedding is
   * nearly identical — which is why production pipelines run both
   * gates.
   *
   * Shape at scale: benchmark sets are small by nature — broadcast
   * once, corpus norms computed in the same scan, threshold applied
   * BEFORE the per-corpus-id argmax so only flagged rows reach the
   * aggregation, and the argmax itself is the bounded
   * [[graft.operators.TopK.perGroupLong]] k=1 aggregator (map-side
   * partial, 8-byte shuffle key). Linear in corpus size, one shuffle
   * of flagged rows only.
   */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", benchIdCol: String = "bench_id"): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).as("__cv"))
      .withColumn("__cnorm", norm(col("__cv")))
    val b = benchmark.select(col(benchIdCol), col(vecCol).as("__bv"))
      .withColumn("__bnorm", norm(col("__bv")))
    val scored = c.crossJoin(broadcast(b))
      .withColumn("score",
        dot(col("__cv"), col("__bv")) / (col("__cnorm") * col("__bnorm")))
      .where(col("score") >= threshold)
      .select(col(idCol), col(benchIdCol), col("score"))
    graft.operators.TopK.perGroupLong(scored, idCol, "score", benchIdCol, 1)
      .select(col(idCol), col(benchIdCol), col("score"))
  }

  /**
   * Exact all-pairs cosine at-or-above `threshold` — the
   * verification-grade baseline that the LSH ([[Dedup.embeddingNearDups]])
   * and IVF paths are measured against. Inherently O(n²), so the
   * small-input contract is ENFORCED: inputs larger than `maxRows`
   * throw (run [[Dedup.embeddingNearDups]] or pass a sample instead of
   * silently OOM-ing a driver with a full-corpus broadcast at 100×
   * scale). The bound check reads at most `maxRows + 1` rows (limit
   * pushdown early-exits the scan) and is itself one execution of the
   * upstream lineage; the eager localCheckpoint that follows is a
   * second — what the checkpoint buys is ONE run per self-join instead
   * of one per branch (two-plus), not a single run overall. Caveat: a
   * localCheckpoint pins its blocks to the executors that wrote them,
   * so losing one of those executors mid-join fails the query instead
   * of recomputing lineage. No broadcast hint: within the bound the
   * planner/AQE picks the broadcast nested-loop join on its own.
   */
  def cosinePairs(embeddings: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxRows: Int = 100000): DataFrame = {
    // norms computed once per vector BEFORE the pair join — per-pair
    // cosine is then a single dot product instead of three
    val e0 = embeddings.select(col(idCol), col(vecCol))
      .withColumn("__n", norm(col(vecCol)))
    val n = e0.limit(maxRows + 1).count()
    require(n <= maxRows,
      s"cosinePairs is the O(n²) verification baseline: input exceeds " +
        s"$maxRows rows — use Dedup.embeddingNearDups (LSH) or a sample")
    val e = e0.localCheckpoint()
    val l = e.select(col(idCol).as("a"), col(vecCol).as("__va"), col("__n").as("__na"))
    val r = e.select(col(idCol).as("b"), col(vecCol).as("__vb"), col("__n").as("__nb"))
    l.join(r, col("a") < col("b"))
      .withColumn("cosine",
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .where(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cosine"))
  }

  /**
   * Int8 scalar quantization of the embedding column — the
   * bandwidth/scan saver at corpus scale (4× smaller than float32 once
   * packed; per-vector symmetric scale `127/max|x|`). Cosine over
   * quantized vectors needs NO dequantization: the per-vector scale
   * cancels, so the quantized frame drops straight into
   * [[bruteForceTopK]]/[[lshTopK]] with `vecCol = outCol`. Recall
   * against the float baseline is itself an oracle-checked query
   * (`x_quantized_recall`). One codegen'd native projection per row
   * ([[graft.plans.Native.quantizeInt8]]); no shuffle.
   */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding",
      outCol: String = "qvec"): DataFrame =
    df.withColumn(outCol, graft.plans.NativeFunctions.quantizeInt8(col(vecCol)))

  /**
   * Johnson–Lindenstrauss random projection of the embedding column to
   * `outDims` dimensions — the DIMENSIONALITY half of embedding
   * compression, next to [[quantizeInt8]]'s precision half: project
   * once, then every downstream dot/cosine costs `outDims` multiplies
   * instead of `dims`, and the frame is `dims/outDims`× smaller to
   * shuffle or broadcast. Directions are the plan-time Gaussian
   * literals of [[planeLiterals]] (same constants on every executor
   * and in the oracle); the JL lemma gives cosine distortion
   * O(1/√outDims), measured as recall by `x_jl_recall` exactly like
   * the quantized path. No scaling term: cosine is invariant to the
   * uniform 1/√outDims factor. One projection of `outDims` codegen'd
   * dot products per row; no shuffle.
   */
  def jlProject(df: DataFrame, outDims: Int, seed: Long,
      vecCol: String = "embedding", outCol: String = "jvec",
      dims: Int = 64): DataFrame = {
    require(outDims > 0, "outDims must be positive")
    val ps = planeLiterals(dims, outDims, seed)
    val comps: Seq[Column] = ps.map(p => dot(col(vecCol), array(p.map(lit): _*)))
    df.withColumn(outCol, array(comps: _*))
  }

  /**
   * Deterministic pseudo-random hyperplanes: plane p, dim i ~ N(0,1)
   * derived from `java.util.Random(seed*31 + p)` at plan time — literal
   * arrays, broadcast implicitly with the plan, identical on every
   * executor.
   */
  def planeLiterals(dims: Int, planes: Int, seed: Long): Seq[Seq[Double]] =
    (0 until planes).map { p =>
      val r = new java.util.Random(seed * 31 + p)
      Seq.fill(dims)(r.nextGaussian())
    }

  /** Sign-pattern bucket id from `planes` hyperplanes (a bit per plane). */
  def hyperplaneBuckets(df: DataFrame, vecCol: String, planes: Int,
      seed: Long, dims: Int = 64): DataFrame = {
    val ps = planeLiterals(dims, planes, seed)
    val bucketBits: Seq[Column] = ps.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.map(lit): _*)
      when(dot(col(vecCol), planeCol) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    df.withColumn("bucket", bucketBits.reduce((a: Column, b: Column) => a.bitwiseOR(b)))
  }

  /** Nearest-centroid ids of `v`: squared L2 via ‖c‖² − 2·v·c (‖v‖²
    * constant per row), ascending, ties to the smaller id → the first
    * `probes` centroid ids ([[graft.plans.Native.nearestIds]], which the
    * Lloyd pass calls too). Shared by training, assignment, and probing,
    * so the three can never diverge. No centroids (an empty or all-null
    * corpus) give a null id array: no cell. */
  private def nearestCentroidCol(v: Column, cents: Array[Seq[Double]],
      probes: Int): Column =
    if (cents.isEmpty) lit(null).cast("array<int>")
    else graft.plans.NativeFunctions.nearestCentroids(v, cents.toSeq, probes)

  /**
   * The one deterministic k-means of this object: `m` independent
   * codebooks of up to `k` centroids, each over a contiguous
   * `dims/m`-wide slice of `vecCol`, trained on the checkpointed
   * `(idCol, vecCol)` frame `base`. IVF is `m = 1` over the raw vector
   * (`pqDims` None; `dims` = the widest init row), assigned by the
   * nearest-centroid rule; PQ (`pqDims` = Some(dims)) is `m` subspaces
   * of the L2-normalized vector, assigned by the `pqCodes` argmin.
   *
   *  - Init: the `k` rows first by md5 rank of (seed, id) — replayable
   *    in DuckDB, unlike xxhash64 — the SAME member rows for every
   *    codebook (PQ normalizes them as the pass does). Fewer rows give
   *    fewer centroids; an empty frame gives `m` empty codebooks. A
   *    null element of an init row reads as 0.0, as the distances read
   *    it.
   *  - Each Lloyd pass is ONE scan job over the vector column alone:
   *    [[graft.plans.Native.LloydPartial]] assigns each raw vector,
   *    normalizes it for PQ, and adds its `round(x * 1e9)` grid values
   *    to per-partition long partials (sums, counts), which
   *    `RDD.reduce` merges. Long additions are order-independent, so
   *    the means do not follow partitioning order (a float `avg`
   *    would). No shuffle; the merge holds one m·k·(dims/m) partial
   *    at a time. A null vector element adds nothing to its sum but
   *    its row still counts, as in a SQL `sum` / `count(*)` mean.
   *  - An empty cell carries its previous centroid forward.
   *  - A null vector takes no part in init or in any pass. A vector
   *    shorter than `dims` fails the pass with Spark's array index
   *    error, and a NaN, infinite or out-of-range value with its cast
   *    overflow error (ANSI mode, Spark's default).
   */
  private def lloyd(base: DataFrame, m: Int, k: Int, iters: Int, seed: Long,
      idCol: String, vecCol: String,
      pqDims: Option[Int]): Array[Array[Array[Double]]] = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val live = base.where(col(vecCol).isNotNull)
    val init = live
      .orderBy(graft.functions.Rng.uniform(seed, "ivf/init", col(idCol)), col(idCol))
      .limit(k).select(col(vecCol)).collect()
      .map(_.getSeq[Any](0).map {
        case null => 0.0
        case x => x.asInstanceOf[Number].doubleValue()
      }.toArray)
    val dims = if (init.isEmpty) 0 else pqDims.getOrElse(init.map(_.length).max)
    val starts = if (pqDims.isEmpty) init else init.map { v =>
      val xs = new Array[Double](dims)
      graft.plans.Native.loadVector(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v),
        isFloat = false, normalize = true, strict = false, xs, null)
      xs
    }
    val sub = dims / m
    val kk = init.length
    var books = Array.tabulate(m)(s => starts.map(_.slice(s * sub, (s + 1) * sub)))
    // the pass reads float or double elements; any other element type
    // is cast once, as `element_at(v, i).cast("double")` read it
    val (vec, isFloat) = base.schema(vecCol).dataType match {
      case ArrayType(FloatType, _) => (col(vecCol), true)
      case ArrayType(DoubleType, _) => (col(vecCol), false)
      case _ => (col(vecCol).cast("array<double>"), false)
    }
    val vectors = live.select(vec).queryExecution.toRdd
    val ansi = base.sparkSession.sessionState.conf.ansiEnabled
    val normalize = pqDims.isDefined
    var it = 0
    while (it < iters && dims > 0) {
      val cur = books
      val (sums, counts) = vectors.mapPartitions { rows =>
        val acc = new graft.plans.Native.LloydPartial(cur, sub, isFloat, normalize, ansi)
        while (rows.hasNext) acc.add(rows.next().getArray(0))
        Iterator.single((acc.sums, acc.n))
      }.reduce { case ((s1, n1), (s2, n2)) =>
        var i = 0
        while (i < s1.length) { s1(i) += s2(i); i += 1 }
        i = 0
        while (i < n1.length) { n1(i) += n2(i); i += 1 }
        (s1, n1)
      }
      // same op order as the SQL mean the oracle replays:
      // sum.cast(double) / (count.cast(double) * 1e9)
      books = Array.tabulate(m, kk) { (si, j) =>
        val cell = si * kk + j
        if (counts(cell) == 0L) books(si)(j)
        else Array.tabulate(sub)(p =>
          sums(cell * sub + p).toDouble / (counts(cell).toDouble * 1e9))
      }
      it += 1
    }
    books
  }

  /** IVF training over the checkpointed `(idCol, vecCol)` projection
    * of `corpus`, plus that SAME projection with each row's nearest
    * `cid` — the train-then-assign step every IVF/SemDeDup entry point
    * shares, so assignment never re-scans the source. Every input row
    * is assigned, a null vector included (it lands in cell 0). */
  private def trainAndAssign(corpus: DataFrame, nCentroids: Int, iters: Int,
      seed: Long, idCol: String, vecCol: String): (Array[Seq[Double]], DataFrame) = {
    val base = corpus.select(col(idCol), col(vecCol)).localCheckpoint()
    val centroids = lloyd(base, 1, nCentroids, iters, seed, idCol, vecCol, None)
      .head.map(_.toSeq)
    (centroids, base.withColumn("cid",
      element_at(nearestCentroidCol(col(vecCol), centroids, 1), 1)))
  }

  /**
   * Lloyd-iterated IVF centroid training — the index-BUILD step, the
   * `m = 1` case of the shared Lloyd pass (`lloyd`): `nCentroids`
   * full-width centroids, md5-ranked init, exact integer-nano-unit
   * means. Centroids are the ONLY thing collected.
   */
  def trainIvfCentroids(corpus: DataFrame, nCentroids: Int = 16,
      iters: Int = 3, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Seq[Double]] =
    trainAndAssign(corpus, nCentroids, iters, seed, idCol, vecCol)._1

  // ===== Product quantization (PQ) ====================================

  /** L2-normalized `sub`-dim slice starting at 0-based `off` — the
    * PQ query preprocessing of [[pqAdcRank]] that makes squared-L2
    * ranking ≡ cosine ranking.
    * Deliberately UNROLLED (`element_at`/`cast`/`when` per element,
    * no `transform`): higher-order functions are CodegenFallback, and
    * a fallback normalize referenced by every per-centroid distance
    * gets re-evaluated interpreted once PER REFERENCE — measured 40×
    * slower. The unrolled form stays inside whole-stage codegen where
    * common-subexpression elimination computes each element once.
    * Values are bit-identical to the per-element `v[i]/nrm` fold the
    * oracle runs, and to the `x/nrm` fold of the `pqCodes` kernel and
    * the Lloyd pass; zero vectors normalize to zero (no NaNs). */
  private def pqNormSlice(v: Column, nrm: Column, off: Int, sub: Int): Column =
    array((off until off + sub).map { i =>
      when(nrm === lit(0.0), lit(0.0))
        .otherwise(element_at(v, i + 1).cast("double") / nrm)
    }: _*)

  /**
   * Product-quantization codebooks: the `dims`-dim space split into
   * `m` contiguous `dims/m`-dim subspaces, each clustered into `k`
   * sub-centroids by the shared Lloyd pass (`lloyd`, the same one as
   * [[trainIvfCentroids]]) over the L2-normalized corpus. The raw
   * `(idCol, vecCol)` projection is checkpointed once; each pass
   * normalizes every vector as it reads it, with the `x/nrm` fold of
   * [[pqEncode]]'s `pqCodes` kernel, which also assigns it. Returns
   * `m` codebooks of `k` sub-centroids.
   * After encoding a vector is `m` small codes (k ≤ 256 ⇒ m bytes)
   * instead of `dims·4` float bytes — the classic ~32× compression
   * that keeps billion-vector indexes in RAM; the codebooks are
   * m·k·(dims/m) doubles, driver-held and embedded as plan-time
   * literals.
   */
  def pqTrain(corpus: DataFrame, m: Int = 4, k: Int = 16, iters: Int = 3,
      seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", dims: Int = 64): Array[Array[Seq[Double]]] = {
    require(m > 0 && dims % m == 0, s"m=$m must divide dims=$dims")
    val base = corpus.select(col(idCol), col(vecCol)).localCheckpoint()
    lloyd(base, m, k, iters, seed, idCol, vecCol, Some(dims))
      .map(_.map(_.toSeq))
  }

  /** PQ encoding: each (normalized) vector → its `m` nearest
    * sub-centroid codes (squared L2 within the subspace, ties to the
    * smaller code — [[nearestCentroidCol]]'s rule). One codegen
    * projection over plan-time centroid literals; no shuffle. Output
    * `(idCol, codes array<int>)`. */
  def pqEncode(corpus: DataFrame, codebooks: Array[Array[Seq[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    corpus.select(col(idCol), graft.plans.NativeFunctions
      .pqCodes(col(vecCol), codebooks.map(_.toSeq).toSeq).as("codes"))
  }

  /**
   * PQ ANN via asymmetric distance computation (ADC): rank the corpus
   * for each query by the approximate squared L2 between the exact
   * normalized query and each vector's sub-centroid RECONSTRUCTION —
   * `Σ_s (‖c_s‖² − 2·q_s·c_s)`, the `‖q‖²` term constant per query.
   * On normalized vectors this is the cosine ranking of the
   * reconstructions, so `x_pq_recall` measures it against the same
   * brute-force truth as the LSH/IVF/JL/int8 variants.
   *
   * Shape at scale — the regime PQ exists for: the scored frame
   * carries `(id, m codes)` only, never the float vectors; per
   * candidate the cost is `m` literal-table lookups + one bounded
   * subspace dot, and the ranking is the map-side-bounded
   * [[graft.operators.TopK.perGroupLong]] aggregation. The scan reads
   * m bytes per vector instead of dims·4.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      codebooks: Array[Array[Seq[Double]]], kNeighbors: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame =
    pqAdcRank(pqEncode(corpus, codebooks, idCol, vecCol), queries,
      codebooks, kNeighbors, idCol, vecCol, queryIdCol)

  /** ADC ranking tail shared by [[pqTopK]] (encode-per-query) and
    * [[pqProbeTopK]] (persisted codes): broadcast normalized query
    * slices onto the (id, codes) frame, approximate distance from m
    * literal-table lookups, bounded per-query top-k. */
  private def pqAdcRank(codes: DataFrame, queries: DataFrame,
      codebooks: Array[Array[Seq[Double]]], kNeighbors: Int,
      idCol: String, vecCol: String, queryIdCol: String): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val qnrm = norm(col(vecCol))
    val q = queries.select((col(queryIdCol) +: (0 until m).map(s =>
      pqNormSlice(col(vecCol), qnrm, s * sub, sub).as(s"__q$s"))): _*)
    val terms: Seq[Column] = (0 until m).map { s =>
      val cents2d = array(codebooks(s).map(c => array(c.map(lit): _*)): _*)
      val normSqs = array(codebooks(s).map(c => lit(c.map(x => x * x).sum)): _*)
      val code1 = element_at(col("codes"), s + 1) + 1
      element_at(normSqs, code1) - lit(2.0) *
        dot(col(s"__q$s"), element_at(cents2d, code1))
    }
    val scored = codes.crossJoin(broadcast(q))
      .withColumn("adist", terms.reduce(_ + _))
      .select(col(queryIdCol), col(idCol), (-col("adist")).as("score"))
    graft.operators.TopK.perGroupLong(scored, queryIdCol, "score", idCol,
        kNeighbors)
      .select(col(queryIdCol), col(idCol).as("neighbor_id"), col("rank"))
  }

  /**
   * Build-once persisted PQ index — the serving form of
   * [[pqTrain]]+[[pqEncode]] on the [[ensureIvfIndex]] pattern: a
   * `_SUCCESS`-guarded codebook table `<name>_books` `(s, cid, cv)`
   * and code table `<name>_codes` `(idCol, codes)`. Training runs AT
   * MOST once (lazily, only when a table is missing); the code build
   * reads the PERSISTED codebooks, so a books table surviving from a
   * prior session re-encodes against those exact values (parquet
   * round-trips doubles bit-identically).
   */
  def ensurePqIndex(corpus: DataFrame, name: String, m: Int = 4,
      k: Int = 16, iters: Int = 3, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Int = 64): Unit = {
    val spark = corpus.sparkSession
    lazy val trained = pqTrain(corpus, m, k, iters, seed, idCol, vecCol, dims)
    Warehouse.ensureTable(spark, s"${name}_books",
        "s INT, cid INT, cv ARRAY<DOUBLE>") {
      import spark.implicits._
      trained.zipWithIndex.flatMap { case (book, s) =>
        book.zipWithIndex.map { case (cv, j) => (s, j, cv) }
      }.toSeq.toDF("s", "cid", "cv")
    }
    Warehouse.ensureTable(spark, s"${name}_codes",
        corpus.select(col(idCol)).schema.toDDL + ", codes ARRAY<INT>") {
      pqEncode(corpus, loadPqBooks(spark, name), idCol, vecCol)
    }
  }

  /** The persisted codebooks of [[ensurePqIndex]] as the in-memory
    * shape every PQ entry point takes (bounded m·k-row collect). */
  def loadPqBooks(spark: SparkSession, name: String): Array[Array[Seq[Double]]] =
    spark.table(s"${name}_books").orderBy("s", "cid").collect()
      .map(r => (r.getInt(0),
        r.getSeq[Any](2).map(x => x.asInstanceOf[Number].doubleValue())))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2).toArray).toArray

  /** Probe-only PQ ANN over a persisted index: NO training, NO
    * encoding in the plan — codebooks load from the books table
    * (bounded collect), candidates scan the persisted (id, codes)
    * frame. With identical build parameters the ranking is
    * bit-identical to [[pqTopK]]'s, so the probe query shares the
    * train-per-query oracle. */
  def pqProbeTopK(spark: SparkSession, name: String, queries: DataFrame,
      kNeighbors: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id"): DataFrame =
    pqAdcRank(spark.table(s"${name}_codes"), queries,
      loadPqBooks(spark, name), kNeighbors, idCol, vecCol, queryIdCol)

  /** Probe-side tail shared by [[ivfTopK]] and [[ivfProbeTopK]]:
    * explode each query onto its `nProbe` nearest cells, broadcast
    * onto the assigned corpus, exact cosine, per-query rank. */
  private def probeRanked(assigned: DataFrame, queries: DataFrame,
      centroids: Array[Seq[Double]], k: Int, nProbe: Int, idCol: String,
      vecCol: String, queryIdCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probed = queries
      .select(col(queryIdCol), col(vecCol).as("__qv"))
      .withColumn("cid", explode(nearestCentroidCol(col("__qv"), centroids, nProbe)))
    val cand = assigned.join(broadcast(probed), "cid")
      .withColumn("score", cosine(col(vecCol), col("__qv")))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col(idCol).asc)
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryIdCol), col(idCol).as("neighbor_id"), col("score"), col("rank"))
  }

  /** Cell assignment of every corpus vector under the deterministic
    * k-means — the shared train-then-assign step (`trainAndAssign`) of
    * [[ivfTopK]], [[ensureIvfIndex]] and [[semDedup]], exposed for
    * cell-balance diagnostics: IVF probe cost and SemDeDup pair cost
    * both scale with cell sizes, so a skewed assignment is the first
    * thing to check before either runs at scale. The assignment reads
    * the training checkpoint, not the source. Returns `(idCol, cid)`. */
  def assignCells(corpus: DataFrame, nCentroids: Int = 16, iters: Int = 3,
      seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    trainAndAssign(corpus, nCentroids, iters, seed, idCol, vecCol)._2
      .select(col(idCol), col("cid"))

  /**
   * Per-dimension distribution stats — the whitening/normalization
   * pre-flight every embedding pipeline runs before ANN or SemDeDup
   * (a dimension with runaway variance dominates L2; a near-constant
   * one wastes index bits): count, mean, variance, min, max per
   * coordinate. One narrow posexplode then a |dims|-bounded groupBy;
   * sums ride the grid (1e-9 for values, 1e-12 for squares) as
   * DECIMAL(38,0) so they are order-independent AND unbounded-N safe.
   * The only doubles are the final mean/variance expressions (fixed
   * op order, oracle-replayed).
   */
  def dimStats(corpus: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val mean = col("s9").cast("double") /
      (col("n").cast("double") * lit(1e9))
    corpus.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("dim"), col("x").cast("double").as("x"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(round(col("x") * lit(1e9)).cast("long").cast("decimal(38,0)"))
          .as("s9"),
        sum(round(col("x") * col("x") * lit(1e12)).cast("long")
          .cast("decimal(38,0)")).as("q12"),
        min("x").as("min_v"), max("x").as("max_v"))
      .select(col("dim"), col("n"), mean.as("mean"),
        (col("q12").cast("double") / (col("n").cast("double") * lit(1e12)) -
          mean * mean).as("variance"),
        col("min_v"), col("max_v"))
  }

  /**
   * Cluster-quality report: per-cell vector count and within-cell
   * inertia (Σ‖v−c‖²) under the SAME deterministic k-means as
   * [[assignCells]] — the elbow-curve / cell-health metric read
   * before sizing `nCentroids` for [[semDedup]] or IVF probing.
   * Per-row squared distances expand to ‖c‖² − 2·v·c + ‖v‖² with
   * plan-time centroid literals, are quantized to the 1e-9 grid, and
   * sum as longs (order-independent — a double Σ would follow
   * partitioning order). Everything after the scan projection is a
   * |cells|-bounded aggregate.
   */
  def clusterInertia(corpus: DataFrame, nCentroids: Int = 16,
      iters: Int = 3, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (centroids, assigned) =
      trainAndAssign(corpus, nCentroids, iters, seed, idCol, vecCol)
    val d2 = centroids.zipWithIndex.map { case (cent, i) =>
      val centCol = array(cent.map(lit): _*)
      val normSq = cent.map(x => x * x).sum
      when(col("cid") === i,
        lit(normSq) - lit(2.0) * dot(col(vecCol), centCol) +
          dot(col(vecCol), col(vecCol)))
    }
    assigned
      .withColumn("__q9", round(coalesce(d2: _*) * lit(1e9)).cast("long"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vectors"),
        (sum("__q9").cast("double") / lit(1e9)).as("inertia"))
  }

  /**
   * Cluster-balanced (diversity) sampling: thin each k-means cell down
   * to ≈`perCell` vectors with a deterministic per-cell keep rate
   * min(1, perCell/|cell|) — dense embedding regions (near-duplicate
   * content, boilerplate clusters) are downsampled hard while sparse
   * regions survive whole, the cheap version of coverage-aware
   * selection (DataComp-style cluster balancing). Returns the kept
   * `(idCol, cid)` rows.
   *
   * Determinism is the [[Corpus.stratifiedSample]] story: the keep
   * decision is an md5-uniform of (seed, stream, id) against a rate
   * that is a pure double function of two longs — stable under
   * repartitioning and retries, exactly replayable. Cell sizes are a
   * |cells|-row broadcast; the only corpus-scale work is the
   * [[assignCells]] assignment itself.
   */
  def cellSample(corpus: DataFrame, perCell: Long, nCentroids: Int = 16,
      iters: Int = 3, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(perCell > 0, "perCell must be positive")
    val cells = assignCells(corpus, nCentroids, iters, seed, idCol, vecCol)
    val rates = cells.groupBy("cid").agg(count(lit(1)).as("__n"))
      .withColumn("__rate", least(lit(1.0),
        lit(perCell.toDouble) / col("__n").cast("double")))
      .select("cid", "__rate")
    cells.join(broadcast(rates), "cid")
      .where(graft.functions.Rng.uniform(seed, "cell_sample", col(idCol)) <
        col("__rate"))
      .select(col(idCol), col("cid"))
  }

  /** Default per-cell membership cap of [[semDedup]]'s pairwise stage
    * (cells over the cap contribute no pairs — all members kept — and
    * are surfaced by the pre-flight [[assignCells]] rollup). A cell at
    * the cap costs ≤ cap² ≈ 1.07e9 comparisons; anything larger means
    * the centroid count is undersized for the corpus — fix the sizing
    * ([[semDedupCentroids]]), don't raise the cap. */
  val MaxCellSize: Int = 32768

  /** Centroid-count sizing rule for [[semDedup]] at scale: pair cost
    * is Σ|cell|² ≈ n·targetCellSize when cells hold ≈targetCellSize
    * members, i.e. LINEAR in corpus size only if the cell count GROWS
    * with the corpus — `k = ceil(n / targetCellSize)` (the paper-scale
    * deployments use O(√n)–O(n/k) clusters for exactly this reason).
    * A constant default k would make pair cost O(n²/k); always size k
    * from the corpus count when the corpus is not bench-sized. */
  def semDedupCentroids(nRows: Long, targetCellSize: Int = 1024): Int = {
    require(targetCellSize > 0, "targetCellSize must be positive")
    math.max(1L, (nRows + targetCellSize - 1) / targetCellSize)
      .min(Int.MaxValue).toInt
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
   * the embedding space with the SAME deterministic k-means as the IVF
   * index (the shared Lloyd pass `lloyd` and train-then-assign step
   * `trainAndAssign` — one definition, so the ANN index and the dedup
   * pass share an assignment), then flag a vector as
   * a semantic duplicate when ANY smaller-id vector in its cluster is
   * within `threshold` cosine. Returns `(idCol, cid, kept)` for every
   * input vector.
   *
   * The drop rule is exactly "has any smaller-id neighbor within
   * threshold", evaluated over ALL cluster members — kept or not: in
   * a chain a~b~c with cos(a,c) < threshold, a is kept, b drops (its
   * a-edge), and c ALSO drops via its edge to the already-dropped b.
   * (An iterative compare-against-the-kept-set-only variant would
   * keep c; this engine implements the one-pass any-edge rule, which
   * is order-free and join-shaped.) For transitive-closure semantics
   * over an embedding graph use
   * [[graft.ext.Dedup.embeddingNearDups]] + cluster resolution.
   *
   * Pairwise comparison happens WITHIN a cluster only — the whole
   * point of SemDeDup: candidates are Σ|cell|² instead of n², and a
   * cell's pairs are an equi-join on its integer cell id, never a
   * cross join. The assignment is a narrow projection over the
   * training checkpoint, so both sides of the self-join read
   * checkpointed blocks, never the source lineage. SIZE `nCentroids` with
   * [[semDedupCentroids]] (|cell| ≈ const target) — the default 16 is
   * bench-scale only; pre-flight a new corpus with [[assignCells]]'s
   * size rollup. Cells larger than `maxCellSize` are excluded from
   * pair generation entirely (members kept, cells broadcast-anti-
   * joined away — the [[graft.ext.Dedup.minhashLshPairs]] guard), so
   * an undersized centroid count degrades to under-deduping with a
   * visible diagnostic instead of a quadratic join.
   */
  def semDedup(corpus: DataFrame, threshold: Double, nCentroids: Int = 16,
      iters: Int = 3, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxCellSize: Int = MaxCellSize): DataFrame = {
    val assigned = trainAndAssign(corpus, nCentroids, iters, seed, idCol, vecCol)._2
    val paired =
      if (maxCellSize == Int.MaxValue) assigned
      else {
        val hot = assigned.groupBy("cid").agg(count(lit(1)).as("__cn"))
          .where(col("__cn") > maxCellSize).select("cid")
        assigned.join(broadcast(hot), Seq("cid"), "left_anti")
      }
    val l = paired.select(col("cid"), col(idCol).as("__ia"), col(vecCol).as("__va"))
    val r = paired.select(col("cid"), col(idCol).as("__ib"), col(vecCol).as("__vb"))
    val dropped = l.join(r, Seq("cid"))
      .where(col("__ia") < col("__ib") &&
        cosine(col("__va"), col("__vb")) >= lit(threshold))
      .select(col("__ib").as(idCol)).distinct()
      .withColumn("__dup", lit(true))
    assigned.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cid"), col("__dup").isNull.as("kept"))
  }

  /**
   * Embedding-space outlier report: the `k` vectors per k-means cell
   * LEAST similar to their own centroid — the data-quality sweep an
   * embedding pipeline runs before trusting ANN/SemDeDup decisions
   * (mis-encoded, corrupt, or off-manifold vectors sit far from every
   * centroid, so they surface at the bottom of their cell's cosine
   * ranking). Shares the train-then-assign step `trainAndAssign`, so
   * the report describes exactly the clustering IVF and SemDeDup use.
   * Returns `(idCol, cid, rank, cos_centroid)`, rank 1 = farthest.
   *
   * Shape at scale: centroid cosines are a 16-branch codegen CASE over
   * plan-time literals (no join), ranking is a per-cell window —
   * parallel across cells, the [[semDedup]] partitioning.
   */
  def cellOutliers(corpus: DataFrame, k: Int, nCentroids: Int = 16,
      iters: Int = 3, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k > 0, "k must be positive")
    val (centroids, assigned) =
      trainAndAssign(corpus, nCentroids, iters, seed, idCol, vecCol)
    val centCos = centroids.zipWithIndex.map { case (cv, i) =>
      when(col("cid") === i, cosine(col(vecCol), array(cv.map(lit): _*)))
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))
      .orderBy(col("__cc").asc, col(idCol).asc)
    assigned
      .withColumn("__cc", coalesce(centCos: _*))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("cid"), col("rank"),
        col("__cc").as("cos_centroid"))
  }

  /** Overflow diagnostic of [[semDedup]]'s cell cap: the (cid, n)
    * cells whose membership exceeds `maxCellSize` — the cells the
    * capped pairwise stage skipped. Non-empty output means
    * `nCentroids` is undersized for this corpus
    * ([[semDedupCentroids]]). */
  def semDedupCellOverflow(corpus: DataFrame, nCentroids: Int = 16,
      iters: Int = 3, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxCellSize: Int = MaxCellSize): DataFrame =
    assignCells(corpus, nCentroids, iters, seed, idCol, vecCol)
      .groupBy("cid").agg(count(lit(1)).as("n"))
      .where(col("n") > maxCellSize)

  /**
   * IVF (inverted-file) ANN: Lloyd-iterated centroids partition the
   * corpus into `nCentroids` cells; each query probes its `nProbe`
   * nearest cells and scores only those candidates exactly. The classic
   * scale path when LSH recall is too blunt: candidate count scales
   * with corpus/nCentroids × nProbe.
   *
   * Centroids are tiny (nCentroids × dims doubles) and are the ONLY
   * thing collected to the driver — assignment and scoring stay
   * distributed. Init is deterministic (hash-ranked corpus sample).
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 3, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame = {
    val (centroids, assigned) =
      trainAndAssign(corpus, nCentroids, iters, seed, idCol, vecCol)
    probeRanked(assigned, queries, centroids, k, nProbe, idCol, vecCol, queryIdCol)
  }

  /**
   * Build-once IVF index persistence — real serving builds the index
   * ONCE and probes many times; [[ivfTopK]] retrains per query. Two
   * warehouse tables under `name`, each `_SUCCESS`-guarded and
   * re-attachable across sessions exactly like the bucketed-join
   * fact tables (the in-memory catalog forgets tables; complete
   * parquet dirs survive and re-attach as external tables, partial
   * writes are cleared and redone):
   *
   *  - `<name>_centroids` (cid INT, cv ARRAY<DOUBLE>) — the trained
   *    centroids, tiny (nCentroids rows).
   *  - `<name>_assign` — the corpus with its cell id, PARTITIONED BY
   *    cid: at serving scale a probe reads only its `nProbe` cells'
   *    partitions (partition pruning via the cid join), which is the
   *    whole point of an inverted file — candidate I/O scales with
   *    corpus/nCentroids × nProbe, not with the corpus.
   */
  def ensureIvfIndex(corpus: DataFrame, name: String, nCentroids: Int = 16,
      iters: Int = 3, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val centTbl = s"${name}_centroids"
    val assignTbl = s"${name}_assign"
    def warehousePath(t: String): java.nio.file.Path = {
      val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir"))
      java.nio.file.Paths.get(
        if (wh.getScheme == "file") java.nio.file.Paths.get(wh).toString
        else wh.getPath).resolve(t)
    }
    def clear(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    if (!spark.catalog.tableExists(centTbl) || !spark.catalog.tableExists(assignTbl)) {
      val centP = warehousePath(centTbl)
      val assignP = warehousePath(assignTbl)
      val complete = java.nio.file.Files.exists(centP.resolve("_SUCCESS")) &&
        java.nio.file.Files.exists(assignP.resolve("_SUCCESS"))
      if (complete) {
        import spark.implicits._
        if (!spark.catalog.tableExists(centTbl)) {
          spark.sql(s"CREATE TABLE $centTbl (cid INT, cv ARRAY<DOUBLE>) " +
            s"USING PARQUET LOCATION '${centP.toUri}'")
        }
        if (!spark.catalog.tableExists(assignTbl)) {
          val dataDdl = corpus.select(col(idCol), col(vecCol)).schema.toDDL
          spark.sql(s"CREATE TABLE $assignTbl ($dataDdl, cid INT) USING PARQUET " +
            s"PARTITIONED BY (cid) LOCATION '${assignP.toUri}'")
          spark.sql(s"MSCK REPAIR TABLE $assignTbl")
        }
      } else {
        clear(centP); clear(assignP)
        import spark.implicits._
        val (centroids, assigned) =
          trainAndAssign(corpus, nCentroids, iters, seed, idCol, vecCol)
        centroids.zipWithIndex.map { case (cv, i) => (i, cv) }.toSeq
          .toDF("cid", "cv")
          .write.mode("overwrite").saveAsTable(centTbl)
        assigned.write.partitionBy("cid").mode("overwrite").saveAsTable(assignTbl)
      }
    }
  }

  /**
   * Probe-only ANN over a persisted IVF index ([[ensureIvfIndex]]):
   * loads the centroid table (bounded nCentroids-row collect — the
   * same "only centroids ever reach the driver" contract as
   * training), then probes the partitioned assignment table. NO
   * k-means runs here — the probe plan is a scan + broadcast join +
   * per-query rank (pinned by ScaleSpec). With identical build
   * parameters the ranking is bit-identical to [[ivfTopK]]'s, so the
   * probe query shares the train-per-query oracle.
   */
  def ivfProbeTopK(spark: org.apache.spark.sql.SparkSession, name: String,
      queries: DataFrame, k: Int, nProbe: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id"): DataFrame = {
    val centroids: Array[Seq[Double]] = spark.table(s"${name}_centroids")
      .orderBy("cid").collect()
      .map(_.getSeq[Any](1).map(x => x.asInstanceOf[Number].doubleValue()))
    val assigned = spark.table(s"${name}_assign")
    probeRanked(assigned, queries, centroids, k, nProbe, idCol, vecCol, queryIdCol)
  }

  /**
   * ANN top-k: score only corpus vectors whose bucket matches the query's
   * bucket under any of `tables` independent hash tables (multi-probe via
   * multiple tables, the standard recall knob).
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 8, tables: Int = 4, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def bucketed(df: DataFrame, idc: String, out: String): DataFrame = {
      val tcols = (0 until tables).map { t =>
        val ps = planeLiterals(dims, planes, seed + 1000L * t)
        val bits: Seq[Column] = ps.zipWithIndex.map { case (plane, p) =>
          when(dot(col(vecCol), array(plane.map(lit): _*)) >= 0, lit(1L << p))
            .otherwise(lit(0L))
        }
        struct(lit(t).as("table"),
          bits.reduce((a: Column, b: Column) => a.bitwiseOR(b)).as("bucket"))
      }
      df.select(col(idc), col(vecCol).as(out),
        explode(array(tcols: _*)).as("tb"))
        .select(col(idc), col(out), col("tb.table"), col("tb.bucket"))
    }
    val c = bucketed(corpus, idCol, "__cv")
    val q = bucketed(queries, queryIdCol, "__qv")
    val cand = c.join(broadcast(q), Seq("table", "bucket"))
      .select(col(queryIdCol), col(idCol), col("__cv"), col("__qv"))
      .dropDuplicates(queryIdCol, idCol)
      .withColumn("score", cosine(col("__cv"), col("__qv")))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col(idCol).asc)
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryIdCol), col(idCol).as("neighbor_id"), col("score"), col("rank"))
  }

  /**
   * Per-group mean vectors on the 1e-9 integer grid — the mean
   * construction of the shared Lloyd pass (`lloyd`: order-independent
   * long sums; a float `avg` would follow partitioning order) as a
   * DataFrame operator: `(groupCol, centroid)` with the mean restored
   * to doubles in dimension order. The corpus "data map" primitive:
   * one centroid per label/source/language summarizes a slice's
   * embedding mass.
   *
   * Shape at scale: explode to (group, dim) partial long sums —
   * map-side combined, key space = |groups| · dims regardless of
   * corpus size — then one bounded `collect_list` per group (dims
   * entries). No vector ever crosses the shuffle whole.
   */
  def groupCentroids(df: DataFrame, groupCol: String,
      vecCol: String = "embedding"): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .groupBy(groupCol, "__pos")
      .agg((sum(round(col("__x").cast("double") * lit(1e9)).cast("long")).cast("double") /
        (count(lit(1)).cast("double") * lit(1e9))).as("__m"))
      .groupBy(groupCol)
      .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__m")))),
        s => s.getField("__m")).as("centroid"))

  /**
   * Pairwise cosine between group centroids ([[groupCentroids]]
   * output): `(a, b, cosine)` for every unordered group pair — the
   * inter-slice similarity matrix (which sources/labels cover the same
   * embedding region, which are disjoint). Both sides are
   * |groups|-row frames, so the pair join broadcasts; cost is
   * |groups|²/2 dimension-ordered dot products, never a function of
   * corpus size.
   */
  def centroidCosines(cents: DataFrame, groupCol: String,
      vecCol: String = "centroid"): DataFrame = {
    val l = cents.select(col(groupCol).as("a"), col(vecCol).as("__va"))
    val r = cents.select(col(groupCol).as("b"), col(vecCol).as("__vb"))
    l.join(broadcast(r), col("a") < col("b"))
      .select(col("a"), col("b"), cosine(col("__va"), col("__vb")).as("cosine"))
  }
}
