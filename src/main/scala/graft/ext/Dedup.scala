package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale text corpora — the north-star
 * extension surface (SURVEY §2.7). All variants follow the same scale
 * posture: candidate generation is a *bucketed equi-join* (shuffle on a
 * short key, never an O(n²) cross join), verification runs only on
 * candidates, and every hash is deterministic (`xxhash64`), so results
 * are stable across partitioning/retries.
 */
object Dedup {

  /**
   * Exact dedup: hash-groupBy on content. Returns one row per distinct
   * text with the surviving (minimum) doc_id and the duplicate count.
   * At 100 TB: group on `sha2(text, 256)` instead of raw text to keep
   * shuffle rows narrow — both forms provided.
   */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count("*").as("n_copies"))

  /** Narrow-shuffle exact dedup: rows carry only (digest, id). */
  def exactByDigest(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(sha2(col(textCol), 256).as("digest"), col(idCol))
      .groupBy("digest")
      .agg(min(col(idCol)).as("keep_id"), count("*").as("n_copies"))

  /**
   * URL canonicalization for crawl dedup — the CCNet/RefinedWeb
   * re-crawl pre-filter key: two crawl records of the same page differ
   * in URL dressing long before their bodies are compared, so the URL
   * itself, normalized, is the cheapest dedup axis a web corpus has.
   * Canonical form, applied in order: lowercase everything (the CCNet
   * posture — scheme, host, AND path), drop the query string and
   * fragment (`?…`/`#…` — tracking params carry no page identity),
   * drop the scheme (`http://` ≡ `https://`), a leading `www.`, an
   * explicit default port (`:80`/`:443`), and any trailing slashes.
   * Deliberately NOT attempted: percent-decoding, path-segment
   * resolution (`/a/../b`), or per-param allowlists — key
   * normalization stays a pure per-row projection both engines
   * replay byte-identically.
   *
   * Pure nested `lower`/`regexp_replace` Column functions — codegen'd,
   * no UDF, and every step is plain RE2-compatible regex (no
   * lookahead), so the DuckDB oracle states the same pipeline.
   */
  /** The [[normalizeUrl]] regex pipeline (pattern → replacement) in
    * application order — the single definition both the Column API and
    * the SQL registration ([[graft.plans.GraftExtensions]] builds the
    * same fold in raw catalyst terms) share. */
  private[graft] val UrlNormSteps: Seq[(String, String)] = Seq(
    "[?#].*" -> "",              // query string + fragment
    "^https?://" -> "",          // scheme
    "^www\\." -> "",             // host dressing
    "^([^/:]+):(80|443)(/|$)" -> "$1$3", // explicit default port
    "/+$" -> "")                 // trailing slash(es)

  def normalizeUrl(url: Column): Column =
    UrlNormSteps.foldLeft(lower(url)) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, rep)
    }

  /** [[urlHost]] / [[urlDomain]] regexes, shared with the SQL
    * registration like [[UrlNormSteps]]. */
  private[graft] val UrlHostPattern = "^[^/]*"
  private[graft] val UrlPortStrip = ":[0-9]+$"
  private[graft] val UrlDomainPattern = "([^.]+\\.[^.]+)$"

  /** Exact dedup on the [[normalizeUrl]] key — [[exactByDigest]]'s
    * narrow-shuffle aggregate shape over `(url_norm, id)` rows:
    * `(url_norm, keep_id = min id, n_copies)`. The text column never
    * enters the shuffle; page identity is the canonical URL. */
  def urlDedup(docs: DataFrame, urlCol: String = "url",
      idCol: String = "doc_id"): DataFrame =
    docs.select(normalizeUrl(col(urlCol)).as("url_norm"), col(idCol))
      .groupBy("url_norm")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Host of a [[normalizeUrl]]-canonical URL: everything before the
    * first `/`, any surviving NON-default port stripped. */
  def urlHost(urlNorm: Column): Column =
    regexp_replace(regexp_extract(urlNorm, UrlHostPattern, 0),
      UrlPortStrip, "")

  /** Registered-domain HEURISTIC: the last two dot-labels of the host
    * (`cdn.news.example.com` → `example.com`); dotless hosts pass
    * through whole. A public-suffix list would refine multi-label TLDs
    * (`co.uk`) — deliberately out of scope: the heuristic is a pure
    * deterministic projection both engines replay byte-identically,
    * and the PSL is an external mutable dependency. */
  def urlDomain(urlNorm: Column): Column = {
    val host = urlHost(urlNorm)
    coalesce(nullif(regexp_extract(host, UrlDomainPattern, 1), lit("")),
      host)
  }

  /**
   * Per-domain crawl report — the URL-axis counterpart of the
   * source-level corpus reports, and the frame URL-level filtering
   * policies (domain blocklists, per-domain caps, re-crawl budgets)
   * hang off: for each [[urlDomain]] of the canonical URL,
   * `(domain, n_docs, n_pages, max_copies, dup_frac)` where `n_pages`
   * counts distinct canonical URLs and
   * `dup_frac = 1 − n_pages/n_docs` is the domain's re-crawl mass.
   *
   * Scale shape: two narrow map-side-combinable aggregations — per
   * `(domain, url-key)` counts, then the per-domain rollup — never a
   * `count_distinct` expansion over the raw rows; URL text leaves the
   * plan at the first aggregate (the count rides an 8-byte
   * `xxhash64(url_norm)` key, the boilerplate-family convention).
   */
  def domainStats(docs: DataFrame, urlCol: String = "url",
      idCol: String = "doc_id"): DataFrame = {
    val norm = normalizeUrl(col(urlCol))
    docs
      .select(urlDomain(norm).as("domain"),
        xxhash64(norm).as("__uk"), col(idCol))
      .groupBy("domain", "__uk").agg(count(lit(1)).as("__n"))
      .groupBy("domain")
      .agg(sum(col("__n")).as("n_docs"),
        count(lit(1)).as("n_pages"),
        max(col("__n")).as("max_copies"))
      .withColumn("dup_frac",
        lit(1.0) - col("n_pages").cast("double") /
          col("n_docs").cast("double"))
  }

  /**
   * Frontier URL-hygiene flags — the crawl-trap filters every
   * production frontier runs before admitting a discovered URL
   * (calendar pages, session mazes, and cyclic path traps generate
   * unbounded URL spaces under a finite site): over CANONICAL URLs,
   * `depth` (path segment count) with `too_deep` past `maxDepth`,
   * `url_len` with `too_long` past `maxLen`, `looping` when some
   * path segment recurs ≥ 3 times (`/p/q/p/q/p/q…` — the cyclic-trap
   * signature), and `trapped` = any of the three. Pure per-row
   * projection, zero shuffle; the loop test is a per-URL
   * `exists`/`filter` over the segment array — O(depth²) on a
   * depth-bounded list, not corpus-scaled work.
   */
  def urlTrapFlags(urls: DataFrame, urlCol: String = "url_norm",
      maxDepth: Int = 8, maxLen: Int = 120): DataFrame = {
    val path = regexp_extract(col(urlCol), "(/.*)$", 1)
    val segs = filter(split(path, "/"), s => s =!= "")
    val depth = size(segs)
    val looping = exists(segs, s => size(filter(segs, x => x === s)) >= 3)
    urls
      .withColumn("depth", depth)
      .withColumn("url_len", length(col(urlCol)))
      .withColumn("too_deep", depth > maxDepth)
      .withColumn("too_long", col("url_len") > maxLen)
      .withColumn("looping", coalesce(looping, lit(false)))
      .withColumn("trapped",
        col("too_deep") || col("too_long") || col("looping"))
  }

  /**
   * Quality-aware exact dedup: within each duplicate group keep the
   * HIGHEST-`scoreCol` copy (ties → smallest id) instead of [[exact]]'s
   * min-id convention — the production keep rule when copies differ in
   * metadata (a cleaner mirror of the same page, a higher-quality
   * crawl of the same text after normalization).
   *
   * Scale shape: one `max_by` aggregation over (digest, score, id)
   * rows — the same narrow-key map-side-combinable groupBy as
   * [[exactByDigest]]; the full-width winner row is recovered by an
   * id equi-join AFTER the aggregate, so wide columns never enter the
   * dedup shuffle. The (score, id) argmax is packed into one orderable
   * struct, so the tie-break is decided inside the aggregate (no
   * window sort over the group).
   */
  def exactKeepBest(docs: DataFrame, score: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(sha2(col(textCol), 256).as("digest"), col(idCol),
        score.as("__score"))
      .groupBy("digest")
      // max on (score asc, id desc-by-negation) ⇒ highest score,
      // then smallest id — one struct compare per input row.
      .agg(max(struct(col("__score").as("s"),
          (-col(idCol)).as("nid"))).as("__w"),
        count(lit(1)).as("n_copies"))
      .select(col("digest"), (-col("__w.nid")).cast("long").as("keep_id"),
        col("__w.s").as("keep_score"), col("n_copies"))

  /** Lower-cased whitespace tokens (delegates to the engine's single
    * tokenizer definition in [[TextStats.tokens]]). */
  def tokens(textCol: Column): Column = TextStats.tokens(textCol)

  /** Word n-gram shingles as strings; documents shorter than n shingle to
    * their whole token sequence. */
  def shingles(textCol: Column, n: Int): Column = {
    val toks = tokens(textCol)
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
  }

  /** Prime modulus of the affine MinHash permutation family (2^31-1;
    * products a*x stay below 2^62, so the arithmetic never overflows a
    * BIGINT in either Spark or DuckDB). */
  val MinhashPrime: Long = 2147483647L

  /** Seed of the affine coefficient family — a plan-time constant, so
    * the SAME coefficients are injected into the DuckDB oracle.
    * (Hosted in [[graft.plans.Native]] since round 9 so the SQL
    * function surface shares the family without an ext dependency.) */
  val MinhashCoefSeed: Long = graft.plans.Native.MinhashCoefSeed

  /** Affine permutation coefficients h_j(x) = (a_j*x + b_j) mod p —
    * delegates to [[graft.plans.Native.minhashCoefs]], the one
    * definition batch, streaming, and SQL all draw from. */
  def minhashCoefs(numHashes: Int): (Seq[Long], Seq[Long]) =
    graft.plans.Native.minhashCoefs(numHashes)

  /** Exploded word n-gram STRINGS (doc id, gram) — shifted-slice zip
    * with post-explode concat, never an interpreted higher-order
    * lambda; documents shorter than n contribute their whole token
    * sequence (matching the oracle's gram CTE). Shared with
    * [[Corpus.decontaminate]]. */
  private[ext] def gramRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toks = tokens(col(textCol))
    val cnt = size(toks) - (n - 1)
    val slices = (0 until n).map(j => slice(toks, lit(j + 1), cnt).as(s"g$j"))
    val long = docs.where(size(toks) >= n)
      .select(col(idCol), explode(arrays_zip(slices: _*)).as("z"))
      .select(col(idCol),
        concat_ws(" ", (0 until n).map(j => col(s"z.g$j")): _*).as("__g"))
    val short = docs.where(size(toks) < n)
      .select(col(idCol), array_join(toks, " ").as("__g"))
    long.unionByName(short)
  }

  /** 60-bit md5 gram key in [0, p): shared by Spark and the oracle
    * (`('0x' || substr(md5(g), 1, 15))::BIGINT % p`). Public: also the
    * gram join key of [[Corpus.decontaminate]]. */
  def md5Key(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long") % lit(MinhashPrime)

  /**
   * MinHash signatures: k affine permutations of the md5 gram key,
   * signature_j = min over shingles of (a_j*key + b_j) mod p. Computed
   * by the fused native kernel
   * ([[graft.plans.Native.minhashSignature]]) — one codegen'd
   * projection per row, NO gram explode and NO shuffle at all (the
   * previous explode + k-min-aggregations formulation shuffled
   * (doc_id, k longs); this one never leaves the scan). The kernel is
   * bit-identical to that Column math (same md5 prefix key, same
   * affine arithmetic; DedupSpec pins the equivalence), and the SAME
   * kernel drives streaming near-dup flagging
   * ([[graft.streaming.NearDupStream]]), so batch and streaming
   * signatures agree exactly.
   *
   * Every ingredient (md5, affine arithmetic, min) evaluates
   * identically in DuckDB, so LSH candidate pairs are exact-oracle
   * checkable — the reason this is md5+affine rather than seeded
   * xxhash64 (which only Spark has).
   */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleN: Int = 3): DataFrame = {
    val (as, bs) = minhashCoefs(numHashes)
    val sig = graft.plans.NativeFunctions.minhashSignature(
      col(textCol), as, bs, shingleN)
    docs.select(col(idCol), sig.as("__sig"))
      .select(col(idCol) +: (0 until numHashes).map(j =>
        element_at(col("__sig"), j + 1).as(s"h$j")): _*)
  }

  /** Default bucket-size cap of the LSH/SimHash pair finders: a
    * (band, bucket) cell holding more members than this is excluded
    * from pair generation (it would contribute O(cap²)+ candidate
    * pairs) and surfaced through the bucket-stats diagnostics instead.
    * 4096² ≈ 16.8M pairs is the most one runaway cell may cost; the
    * bench corpora never come near the cap (largest sf0.1 bucket ≈
    * tens), so every oracle-checked result is cap-invariant there. */
  val MaxBucketSize: Int = 4096

  /** Band/bucket membership rows `(idCol, band, bucket)` of the
    * MinHash-LSH banding — the shared substrate of [[minhashLshPairs]]
    * and its overflow diagnostic. Checkpointed: signatures are
    * expensive relative to their narrow rows, and the frame feeds both
    * sides of the candidate self-join (at scale this is the standard
    * persist-the-signatures step). */
  private[ext] def minhashBuckets(docs: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int,
      shingleN: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sig = minhashSignatures(docs, idCol, textCol, numHashes, shingleN)
    // The bucket key is the branded comma-join of the band's hashes —
    // a plain string both engines render identically (a hash of the
    // tuple would need the same hash on both sides).
    val bandCols = (0 until bands).map { b =>
      val slice = (0 until r).map(j => col(s"h${b * r + j}").cast("string"))
      struct(lit(b).as("band"), concat_ws(",", slice: _*).as("bucket"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
      .localCheckpoint()
  }

  /** Drop members of buckets larger than `maxBucketSize` before a
    * pair-generating self-join. The hot-bucket frame contains ONLY
    * overflowing keys — empty in healthy corpora — so the guard is a
    * broadcast anti-join (the [[graft.operators.SkewUtils.hotKeys]]
    * split posture), and the sizing aggregation runs over the already
    * checkpointed narrow bucket rows. */
  private def dropOverflowBuckets(buckets: DataFrame, keys: Seq[String],
      maxBucketSize: Int): DataFrame =
    if (maxBucketSize == Int.MaxValue) buckets
    else {
      val hot = buckets.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__bn"))
        .where(col("__bn") > maxBucketSize)
        .select(keys.map(col): _*)
      buckets.join(broadcast(hot), keys, "left_anti")
    }

  /** The run-family window guard, shared by every pair finder that
    * self-joins `w`-keyed window rows ([[exactSubstringPairs]],
    * [[longestRunPairs]], [[verbatimSpanScrub]]): ONE doc-frequency pass
    * over the checkpointed window rows serves both prunes — keep windows
    * some OTHER doc also holds (result-invariant: a frequency-1 window
    * cannot pair) and below the quadratic-cell `maxBucketSize` ceiling.
    * Routing every finder through here keeps the guard semantics from
    * forking per operator. */
  private def sharedWindowRows(wins: DataFrame, maxBucketSize: Int): DataFrame =
    wins.join(
      wins.groupBy("w").agg(count(lit(1)).as("__f"))
        .where(col("__f") >= 2 && col("__f") <= maxBucketSize)
        .select("w"),
      "w")

  /**
   * MinHash + LSH banding: b bands of r rows (b*r = numHashes); documents
   * agreeing on all r hashes of any band land in the same bucket.
   * Candidate pairs come from a groupBy on (band, bucket) — the canonical
   * shuffle-on-short-key near-dup join. Pairs are emitted once (a < b).
   *
   * Buckets larger than `maxBucketSize` are EXCLUDED from pair
   * generation (quadratic-cell guard): k docs agreeing on a whole band
   * produce k² candidates, and in web-scale corpora the k-large cells
   * are overwhelmingly identical/boilerplate documents — the job of
   * the EXACT pre-pass ([[nearDuplicates]] collapses identical texts
   * before any signature is computed), not the LSH join. Audit dropped
   * cells with [[minhashBucketOverflow]]; pass `Int.MaxValue` to
   * disable the cap.
   */
  def minhashLshPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", numHashes: Int = 32, bands: Int = 8,
      shingleN: Int = 3, maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val buckets = dropOverflowBuckets(
      minhashBuckets(docs, idCol, textCol, numHashes, bands, shingleN),
      Seq("band", "bucket"), maxBucketSize)
    val l = buckets.select(col("band"), col("bucket"), col(idCol).as("a"))
    val rgt = buckets.select(col("band"), col("bucket"), col(idCol).as("b"))
    l.join(rgt, Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Overflow diagnostic of [[minhashLshPairs]]'s cap: the (band,
    * bucket, n) cells whose membership exceeds `maxBucketSize` — the
    * cells the capped pair join skipped. Run it whenever the cap might
    * bite (it is one aggregation over the narrow bucket rows); a
    * non-empty result on an exact-deduplicated corpus means true
    * boilerplate clusters that deserve their own handling. */
  def minhashBucketOverflow(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", numHashes: Int = 32, bands: Int = 8,
      shingleN: Int = 3, maxBucketSize: Int = MaxBucketSize): DataFrame =
    minhashBuckets(docs, idCol, textCol, numHashes, bands, shingleN)
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucketSize)

  /** Full bucket-size frame `(band, bucket, n)` — the LSH occupancy
    * pre-flight ([[minhashBucketOverflow]] with the cap at 0, i.e.
    * every non-empty cell): roll it up to a size histogram to see how
    * the corpus distributes over band buckets BEFORE paying the pair
    * join. */
  def minhashBucketStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", numHashes: Int = 32, bands: Int = 8,
      shingleN: Int = 3): DataFrame =
    minhashBucketOverflow(docs, idCol, textCol, numHashes, bands, shingleN,
      maxBucketSize = 0)

  /**
   * MinHash estimator calibration: for every LSH candidate pair, the
   * signature-ESTIMATED Jaccard (matching components / numHashes —
   * the unbiased estimator banding is built on) next to the EXACT
   * n-gram Jaccard, plus their signed error. This is the measurement
   * that justifies (or indicts) the signature length: if |err| runs
   * hot at the operating threshold, banding geometry decisions made
   * from signatures are miscalibrated and numHashes needs raising
   * BEFORE a 100 TB run bakes the wrong candidates into an index.
   *
   * Shape: candidates from the capped bucketed LSH join; signatures
   * are the shuffle-free kernel projection joined per side; the
   * component-match count is an unrolled codegen sum (no HOFs); exact
   * Jaccard is computed ONLY over the candidate pairs — the
   * [[nearDuplicates]] verify shape (candidate ids equi-join the gram
   * rows, never the full gram self-join). The previous formulation ran
   * [[ngramJaccardPairs]] at threshold 0 — EVERY pair sharing any
   * shingle corpus-wide — and then inner-joined the candidates; since
   * that was an inner join, restricting the Jaccard computation to the
   * candidate set first produces the identical rows (a candidate
   * sharing no gram is absent from either form) for a small fraction
   * of the work: candidate volume instead of all-co-gram-pair volume.
   */
  def minhashEstimates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", numHashes: Int = 32, bands: Int = 8,
      shingleN: Int = 3, maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val pairs = minhashLshPairs(docs, idCol, textCol, numHashes, bands,
      shingleN, maxBucketSize)
    val sigs = minhashSignatures(docs, idCol, textCol, numHashes, shingleN)
    val sa = sigs.select((col(idCol).as("a") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"__ha$j"))): _*)
    val sb = sigs.select((col(idCol).as("b") +:
      (0 until numHashes).map(j => col(s"h$j").as(s"__hb$j"))): _*)
    val nMatch = (0 until numHashes).map(j =>
      when(col(s"__ha$j") === col(s"__hb$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    // verify-grade Jaccard over candidates only — the nearDuplicates
    // verify-join shape (candidate ids equi-join the gram rows, sizes
    // attached by the AQE-broadcastable per-doc count frame)
    val grams = docs.select(col(idCol),
        explode(graft.plans.NativeFunctions.hashedShingles(col(textCol), shingleN)).as("g"))
      .localCheckpoint() // gram rows feed both verify-join sides once
    val sizes = grams.groupBy(col(idCol)).agg(count("*").as("n"))
    val ga = grams.select(col(idCol).as("a"), col("g"))
    val gb = grams.select(col(idCol).as("b"), col("g"))
    val exact = pairs.join(ga, "a").join(gb, Seq("b", "g"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col(idCol).as("a"), col("n").as("n_a")), "a")
      .join(sizes.select(col(idCol).as("b"), col("n").as("n_b")), "b")
      .select(col("a"), col("b"), (col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
    pairs.join(sa, "a").join(sb, "b")
      .withColumn("n_match", nMatch)
      .select(col("a"), col("b"), col("n_match"))
      .join(exact, Seq("a", "b"))
      .select(col("a"), col("b"), col("n_match"),
        (col("n_match").cast("double") / numHashes).as("jacc_est"),
        col("jaccard"))
  }

  /**
   * Edit-distance-verified near-duplicate pairs: [[minhashLshPairs]]
   * candidates re-checked with a BOUNDED Levenshtein distance — the
   * fuzzy-dedup verifier for character-level mutations (OCR noise,
   * typo-level divergence) that token-set Jaccard either misses or
   * over-accepts, since transposed-but-identical token multisets have
   * Jaccard 1 at any edit distance. Returns `(a, b, dist)` for
   * candidate pairs with `levenshtein(text_a, text_b) <= maxDist`,
   * `a < b`.
   *
   * Shape at scale: candidate generation is the capped bucketed LSH
   * equi-join (never all-pairs); each surviving pair pays ONE bounded
   * DP — Spark's three-argument `levenshtein` with a threshold runs
   * the banded O(len·maxDist) algorithm and early-exits to -1 above
   * the bound, so the per-pair cost is linear in text length, not
   * quadratic (the unbounded two-argument form is O(len²) per pair —
   * the difference between feasible and not on book-length
   * documents). Texts reach the verifier through two co-partitioned
   * id equi-joins of the (small) pair frame against the corpus.
   */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 20,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 32, bands: Int = 8, shingleN: Int = 3,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val pairs = minhashLshPairs(docs, idCol, textCol, numHashes, bands,
      shingleN, maxBucketSize)
    val ta = docs.select(col(idCol).as("a"), col(textCol).as("__ta"))
    val tb = docs.select(col(idCol).as("b"), col(textCol).as("__tb"))
    pairs.join(ta, "a").join(tb, "b")
      .select(col("a"), col("b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long")
          .as("dist"))
      .where(col("dist") >= 0L)
  }

  /** SimHash signature width. 60 (not 64) so the whole signature fits
    * the 15-hex-digit md5 prefix that both engines parse into a
    * non-negative BIGINT. */
  val SimhashBits: Int = 60

  /**
   * SimHash: 60-bit signature whose bit i is the sign of the sum of
   * (+1/-1) votes from each distinct token's md5-derived hash bit i.
   * Near-dups differ in few bits; with 4 15-bit chunks, any pair within
   * Hamming distance 3 shares at least one exact chunk (pigeonhole) —
   * candidates come from a chunk equi-join, verified by exact Hamming
   * distance.
   *
   * Computed by the fused native kernel
   * ([[graft.plans.Native.simhashMd5]]) — one codegen'd projection per
   * row, NO token explode and NO 60-aggregation shuffle (the same
   * round-9 surgery as [[minhashSignatures]]; ExtSpec pins
   * bit-identity with the grouped Column math, including token-less
   * documents' all-zero signature). Built from md5 + integer bit
   * arithmetic only, so signatures (and the candidate/verify pipeline)
   * replay exactly in the DuckDB oracle. (`NativeFunctions.simhash`
   * remains the xxhash64 64-bit variant for engine-side-only use.)
   */
  def simhashSignatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.plans.NativeFunctions.simhashMd5(col(textCol)).as("sig"))

  /** Hamming distance between two signatures. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** (chunk, key) membership rows of the SimHash banding — shared by
    * [[simhashPairs]] and its overflow diagnostic. Checkpointed: one
    * signature pass feeds both join sides. */
  private[ext] def simhashChunks(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val sig = simhashSignatures(docs, idCol, textCol).localCheckpoint()
    val chunkBits = SimhashBits / 4
    sig.select(col(idCol), col("sig"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("sig"), c * chunkBits)
            .bitwiseAND(lit((1L << chunkBits) - 1)).as("key"))): _*)).as("ck"))
      .select(col(idCol), col("sig"), col("ck.chunk"), col("ck.key"))
  }

  /** SimHash near-dup pairs via 4×15-bit chunk banding (pigeonhole-
    * complete at Hamming ≤ 3). Chunk cells larger than `maxBucketSize`
    * are excluded from pair generation — the same quadratic-cell guard
    * (and the same "exact-dedup first" expectation) as
    * [[minhashLshPairs]]; audit with [[simhashBucketOverflow]], pass
    * `Int.MaxValue` to disable. */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val chunks = dropOverflowBuckets(simhashChunks(docs, idCol, textCol),
      Seq("chunk", "key"), maxBucketSize)
    val l = chunks.select(col("chunk"), col("key"), col(idCol).as("a"), col("sig").as("sig_a"))
    val r = chunks.select(col("chunk"), col("key"), col(idCol).as("b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "key"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), hamming(col("sig_a"), col("sig_b")).as("dist"))
      .where(col("dist") <= maxHamming)
      .distinct()
  }

  /** Overflow diagnostic of [[simhashPairs]]'s cap: (chunk, key, n)
    * cells exceeding `maxBucketSize`. */
  def simhashBucketOverflow(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      maxBucketSize: Int = MaxBucketSize): DataFrame =
    simhashChunks(docs, idCol, textCol)
      .groupBy("chunk", "key").agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucketSize)

  /**
   * Exact n-gram Jaccard similarity for pairs sharing at least one
   * shingle: |A∩B| / |A∪B| via the exploded-shingle self-join. This is
   * the exact (verification-grade) path; at scale it runs on LSH
   * candidates, not the full corpus — pass `minJaccard` high enough or
   * pre-filter with [[minhashLshPairs]].
   */
  def ngramJaccardPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    // Shingles are hashed 64-bit keys (native one-pass expression): the
    // self-join shuffle carries 8-byte keys instead of word strings, and
    // intersection counts are unchanged (2^-64 collision odds).
    // localCheckpoint: shingling runs once, not once per join side.
    // (r21 note: carrying the per-doc gram count ON the gram rows —
    // size of the kernel array — to drop the sizes aggregate and its
    // two pair-frame joins was tried and measured 15-30% SLOWER at
    // sf0.1: AQE broadcasts the narrow per-doc sizes frame, making the
    // dropped joins map-side-free, while the carried count widens
    // every row of the much larger gram self-join output and its
    // aggregation buffers. The joins stay.)
    val grams = docs.select(col(idCol),
        explode(graft.plans.NativeFunctions.hashedShingles(col(textCol), shingleN)).as("g"))
      .localCheckpoint()
    val sizes = grams.groupBy(col(idCol)).agg(count("*").as("n"))
    // No rare-gram prune: a gram held by one document cannot pair, but
    // dropping those grams costs an extra aggregation and join on `g`
    // that measured ~1 s SLOWER at sf0.1 than the self-join it shrinks.
    val l = grams.select(col("g"), col(idCol).as("a"))
    val r = grams.select(col("g"), col(idCol).as("b"))
    val inter = l.join(r, "g").where(col("a") < col("b"))
      .groupBy("a", "b").agg(count("*").as("n_common"))
    // sizes has one narrow row per document — a broadcast would grow
    // with the corpus and OOM the driver at scale; shuffle-join on the
    // doc id instead and let AQE pick the strategy.
    inter
      .join(sizes.select(col(idCol).as("a"), col("n").as("n_a")), "a")
      .join(sizes.select(col(idCol).as("b"), col("n").as("n_b")), "b")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .where(col("jaccard") >= minJaccard)
      .select("a", "b", "jaccard")
  }

  /**
   * DIRECTIONAL containment pairs: `containment(a ⊆ b) =
   * |grams(a) ∩ grams(b)| / |grams(a)|` — the asymmetric companion to
   * [[ngramJaccardPairs]] for the duplicate shape Jaccard misses: a
   * short document quoted whole inside a much longer one has
   * containment ≈ 1 but Jaccard ≈ |a|/|b| (arbitrarily small). The
   * standard web-dedup measure (Broder's containment) for
   * page-inside-page and quote detection.
   *
   * Same bucketed-equi-join shape as [[ngramJaccardPairs]] (distinct
   * 8-byte hashed shingles, never all-pairs), emitting BOTH directions
   * of a pair when both clear `minContainment`. At corpus scale the
   * same guards apply and the hot-gram one is WIRED here: a gram
   * shared by k docs contributes O(k²) candidate pairs exactly as in
   * the Jaccard finder, so grams held by more than `maxBucketSize`
   * documents are dropped from pair generation before the self-join
   * (the same broadcast-anti-join guard as [[minhashLshPairs]] /
   * [[simhashPairs]]; pass `Int.MaxValue` to disable). Denominators
   * `|grams(a)|` are computed BEFORE the drop, so surviving pairs
   * score a containment ≤ the uncapped value — a dropped hot gram can
   * only remove intersection mass, never inflate it. Dropped grams are
   * enumerable via [[containmentGramOverflow]]. Run [[exact]] first so
   * identical-doc floods collapse to one representative before this
   * cap ever has to act.
   */
  /**
   * Pairwise Jaccard similarity between GROUPS (sources, domains,
   * snapshots) over their distinct word-shingle sets — the corpus-level
   * redundancy map: two crawls of the same site score near 1 and should
   * be merged before document-level dedup ever runs; disjoint sources
   * score ~0. One row per unordered group pair.
   *
   * Scale shape: distinct (group, hashed-shingle) rows — one native
   * one-pass shingle kernel, one distinct — then a self-join on the
   * 8-byte shingle key. Each shingle joins to at most |groups| rows, so
   * candidate volume is bounded by |groups|²/2 PER SHINGLE — fine when
   * groups are datasets/crawl snapshots (tens to thousands), quadratic
   * all over again if the caller keys on a high-cardinality column
   * (e.g. web DOMAIN: millions of groups). That ceiling is enforced by
   * `maxGroupsPerShingle` (default 4096): a shingle held by more
   * groups than the cap is dropped from pair generation via the same
   * broadcast-anti-join guard as [[containmentPairs]] — per-group
   * denominators are computed BEFORE the drop, so surviving pairs can
   * only under-count overlap, never inflate it. With sane group
   * columns the cap never fires (|groups| ≤ cap ⇒ no shingle can
   * overflow); with domain-cardinality keys it converts a blow-up into
   * a documented approximation. The per-group size table is |groups|
   * rows and broadcasts — another reason this operator wants
   * dataset-cardinality groups.
   */
  def sourceOverlap(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", shingleN: Int = 3,
      maxGroupsPerShingle: Int = MaxBucketSize): DataFrame = {
    val grams = docs.select(col(groupCol),
        explode(graft.plans.NativeFunctions.hashedShingles(col(textCol), shingleN)).as("__g"))
      .distinct()
    val sizes = grams.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    val shared = dropOverflowBuckets(grams, Seq("__g"), maxGroupsPerShingle)
    val l = shared.select(col(groupCol).as("a"), col("__g"))
    val r = shared.select(col(groupCol).as("b"), col("__g"))
    l.join(r, "__g").where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col(groupCol).as("a"), col("__n").as("__na"))), "a")
      .join(broadcast(sizes.select(col(groupCol).as("b"), col("__n").as("__nb"))), "b")
      .select(col("a"), col("b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("__na") + col("__nb") - col("n_common"))).as("jaccard"))
  }

  /**
   * Bottom-k minwise sketch of [[sourceOverlap]] — the serving-scale
   * path for the source-redundancy map: where the exact operator
   * self-joins every distinct shingle (linear in corpus TEXT), this
   * one reduces each group to a BOUNDED signature first — its k
   * smallest md5-hashed shingles (a uniform sample of the shingle
   * set) — and estimates Jaccard from signatures alone. For groups A,
   * B: take the k smallest values of sig(A) ∪ sig(B) (a uniform
   * k-sample of A ∪ B) and count how many lie in both signatures —
   * that fraction is the standard bottom-k estimator of
   * |A∩B| / |A∪B| (Broder; ±1/√k error, k=256 ⇒ ~6%).
   *
   * Scale shape: one pass over shingle rows into a per-group
   * [[graft.ext.Sketches.BottomKAggregator]] (mergeable k-long state,
   * map-side partials — corpus text never reaches the pair step), then
   * an all-pairs join of |groups| signature rows. The |groups|² term
   * operates on k-long arrays, not text, so dataset-cardinality groups
   * (the operator's contract, as [[sourceOverlap]]) cost |groups|²·k
   * array ops — trivial up to tens of thousands of groups, far past
   * where the exact operator's shuffle stays affordable.
   *
   * Hashes are the engine's md5 convention ([[graft.functions.Rng]]),
   * NOT the native xxhash kernel, precisely so the sketch — selection,
   * merge, and estimate — replays bit-identically in the DuckDB
   * oracle. Emits `(a, b, n_sample, n_both, est_jaccard)` per
   * unordered group pair with `n_both > 0` (sparse, like the exact
   * operator).
   */
  def sourceOverlapSketch(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", shingleN: Int = 3, k: Int = 256,
      seed: Long = 42L): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    // gram STRINGS via the zip-slice kernel (positionalGramRows — the
    // same O(len) construction winnowing uses; a naive per-index
    // slice-in-transform is O(len²) per doc and measured 5 s at sf0.1
    // where this whole query should cost ~1), hashed to 52-bit md5
    // longs both engines reproduce, then distinct per group
    val grams = positionalGramRows(
        docs.select(col(groupCol).cast("string").as("g"), col(textCol)),
        "g", textCol, shingleN)
      .select(col("g"),
        graft.functions.Rng.hash52(seed, "botk", col("__g")).as("h"))
      .distinct()
    val agg = new Sketches.BottomKAggregator(k).toColumn.name("sig")
    val sigs = grams.as[(String, Long)].groupByKey(_._1).mapValues(_._2)
      .agg(agg).toDF(groupCol, "sig")
    val l = sigs.select(col(groupCol).as("a"), col("sig").as("__sa"))
    val r = sigs.select(col(groupCol).as("b"), col("sig").as("__sb"))
    // |groups| bounded-signature rows: the inequality pair join is a
    // broadcast nested loop over k-long arrays — the whole point
    val sample = slice(array_sort(array_union(col("__sa"), col("__sb"))), 1, k)
    val both = array_intersect(col("__sa"), col("__sb"))
    l.join(r, col("a") < col("b"))
      .select(col("a"), col("b"),
        size(sample).cast("long").as("n_sample"),
        size(array_intersect(sample, both)).cast("long").as("n_both"))
      .where(col("n_both") > 0)
      .withColumn("est_jaccard",
        col("n_both").cast("double") / col("n_sample"))
  }

  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3,
      minContainment: Double = 0.6,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val grams = docs.select(col(idCol),
        explode(graft.plans.NativeFunctions.hashedShingles(col(textCol), shingleN)).as("g"))
      .localCheckpoint()
    // denominators over the FULL gram set — the cap below only thins
    // the intersection candidates, it must not shrink |grams(a)|
    val sizes = grams.groupBy(col(idCol)).agg(count("*").as("n"))
    val shared = dropOverflowBuckets(grams, Seq("g"), maxBucketSize)
    val l = shared.select(col("g"), col(idCol).as("a"))
    val r = shared.select(col("g"), col(idCol).as("b"))
    // the intersection count is SYMMETRIC (grams are distinct per
    // doc), so join each unordered pair once (a < b) and mirror —
    // half the join output and half the pair aggregation of the
    // naive a <> b form; only the direction-specific |grams(a)|
    // denominator differs per side
    val interAB = l.join(r, "g").where(col("a") < col("b"))
      .groupBy("a", "b").agg(count("*").as("n_common"))
    val inter = interAB.union(
      interAB.select(col("b").as("a"), col("a").as("b"), col("n_common")))
    // per-doc gram counts are one narrow row per document — shuffle
    // join, not broadcast, for the same driver-memory reason as
    // ngramJaccardPairs
    inter
      .join(sizes.select(col(idCol).as("a"), col("n").as("n_a")), "a")
      .withColumn("containment", col("n_common").cast("double") / col("n_a"))
      .where(col("containment") >= minContainment)
      .select("a", "b", "containment")
  }

  /** Overflow diagnostic of [[containmentPairs]]'s hot-gram cap:
    * `(g, n)` rows for shingle hashes held by more than
    * `maxBucketSize` documents — the grams the capped run excluded
    * from pair generation. Empty in healthy (exact-dedup'd) corpora. */
  def containmentGramOverflow(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3,
      maxBucketSize: Int = MaxBucketSize): DataFrame =
    docs.select(col(idCol),
        explode(graft.plans.NativeFunctions.hashedShingles(col(textCol), shingleN)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucketSize)

  /**
   * Exact-substring duplicate detection — the heavy-hitter of LLM
   * training-data dedup suites (Lee et al., "Deduplicating Training
   * Data Makes Language Models Better"): flag document pairs sharing a
   * verbatim run of at least `windowTokens` tokens. Where the paper
   * builds a corpus-wide suffix array (a global sort of every suffix —
   * hostile at 100 TB), this is the suffix-array-free approximation
   * that stays a bucketed join: every `windowTokens`-wide token window
   * is hashed by the one-pass native shingle kernel
   * ([[graft.plans.Native.hashedShingles]] — codegen gram
   * construction, distinct 8-byte keys, no gram strings ever
   * materialized), and a pair sharing any window hash shares an exact
   * `windowTokens`-token substring (modulo 2^-64 hash collisions, the
   * same equivalence the oracle-checked jaccard pipeline relies on).
   *
   * Returns `(a, b, n_shared_windows)` for pairs with at least
   * `minShared` shared DISTINCT windows — `n_shared_windows` is a
   * lower bound on the length of the shared text: k shared windows
   * guarantee a common run of `windowTokens + k - 1` tokens when the
   * windows are consecutive, and k disjoint verbatim quotes otherwise.
   * Documents shorter than `windowTokens` tokens cannot contain a
   * qualifying substring and are excluded up front (unlike the
   * similarity shingles, which whole-sequence-gram short docs).
   *
   * Shape at scale: one codegen'd projection per doc, explode to
   * (8-byte hash, id) rows, a self-equi-join on the hash, and a count
   * aggregation — never all-pairs, never a string-payload shuffle.
   * Two guards are wired:
   *   - RARE-WINDOW PRUNE: a window held by a single document cannot
   *     pair, and in natural text most `windowTokens`-wide windows ARE
   *     unique, so one pre-aggregation
   *     on the 8-byte hash discards the bulk of the join input before
   *     it shuffles. Provably result-invariant.
   *   - HOT-WINDOW CAP (`maxBucketSize`, default 4096): a boilerplate
   *     window shared by k docs emits O(k²) candidate rows; windows
   *     above the cap are dropped from pair generation, same contract
   *     as [[containmentPairs]] / [[minhashLshPairs]]. Both prunes
   *     ride the SAME frequency aggregation, so the second is free
   *     once the first runs.
   *
   * NOTE the cap makes the DEFAULT lossy, unlike the rare-window
   * prune: a pair whose only shared windows each sit in >4096
   * documents is absent from the default result (its `n_shared_windows`
   * also ignores such windows). That changed this function's default
   * output when the cap landed — deliberate: those windows are
   * corpus-wide boilerplate, the job of [[graft.ext.Corpus
   * .boilerplateScrub]], not pair evidence. Pass
   * `maxBucketSize = Int.MaxValue` for the exhaustive pre-cap
   * semantics, and audit what the cap dropped with the shared
   * frequency aggregation (the [[minhashBucketOverflow]] posture).
   */
  def exactSubstringPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", windowTokens: Int = 8,
      minShared: Long = 1L, maxBucketSize: Int = MaxBucketSize): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    require(minShared >= 1, "minShared must be at least 1")
    val wins = docs
      .where(size(tokens(col(textCol))) >= windowTokens)
      .select(col(idCol), explode(
        graft.plans.NativeFunctions.hashedShingles(col(textCol), windowTokens)).as("w"))
      .localCheckpoint() // window rows feed both join sides once
    val shared = sharedWindowRows(wins, maxBucketSize)
    val l = shared.select(col("w"), col(idCol).as("a"))
    val r = shared.select(col("w"), col(idCol).as("b"))
    l.join(r, "w").where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared_windows"))
      .where(col("n_shared_windows") >= minShared)
  }

  /**
   * Per-document n-gram novelty — the corpus-diversity diagnostic
   * (Rae-et-al lineage: what fraction of a document's text is unique
   * to it?): for each document with at least `windowTokens` tokens,
   * the fraction of its DISTINCT `windowTokens`-token windows that
   * appear in NO other document. Returns
   * `(idCol, n_windows, n_shared, novelty)` where
   * `novelty = 1 − n_shared / n_windows`; 1.0 = entirely novel text,
   * 0.0 = every window also occurs elsewhere (a verbatim composite).
   * Shorter documents are excluded, [[exactSubstringPairs]] semantics.
   *
   * Same one-pass hashed-window kernel and 2^-64-collision oracle
   * equivalence as [[exactSubstringPairs]], but the corpus-wide half
   * is a per-window DOC-FREQUENCY aggregation instead of a self-join:
   * window rows are distinct per doc by kernel construction, so
   * `count ≥ 2` on the 8-byte hash marks a window as shared, and the
   * per-doc rollup is one more aggregation. Cost is linear in total
   * windows at any corpus size — no pair term at all, which is why
   * this is the cheap first look before running the pair finders.
   */
  def ngramNovelty(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", windowTokens: Int = 8): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val wins = docs
      .where(size(tokens(col(textCol))) >= windowTokens)
      .select(col(idCol), explode(
        graft.plans.NativeFunctions.hashedShingles(col(textCol), windowTokens)).as("w"))
      .localCheckpoint() // feeds the doc-frequency agg and the rollup once
    val docFreq = wins.groupBy(col("w")).agg(count(lit(1)).as("__nd"))
    wins.join(docFreq, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col(idCol), col("n_windows"), col("n_shared"),
        ((col("n_windows") - col("n_shared")).cast("double") /
          col("n_windows").cast("double")).as("novelty"))
  }

  /**
   * Longest shared verbatim run — the LENGTH refinement of
   * [[exactSubstringPairs]] (which counts shared windows but can't
   * distinguish one long quote from many scattered ones): for each
   * document pair sharing at least one `windowTokens`-token window,
   * the token length of their longest common consecutive run, plus
   * the number of distinct shared runs. The Lee et al. dedup-policy
   * input ("drop one copy of any run ≥ 50 tokens") without building
   * a corpus-wide suffix array.
   *
   * Mechanics: positional window hashes; a shared run shows up as
   * matches on one DIAGONAL (`pos_b − pos_a` constant) at consecutive
   * `pos_a` — islands found with the classic gaps-and-islands
   * `pos − row_number()` trick per (pair, diagonal); a run of c
   * consecutive windows spans `c + windowTokens − 1` tokens. Returns
   * `(a, b, n_runs, longest_run_tokens)`.
   *
   * Scale shape: the same bucketed window-hash equi-join as
   * [[exactSubstringPairs]] with the same two guards
   * (rare-window prune — result-invariant — and the hot-window cap);
   * the island windows then run PER CANDIDATE PAIR over its matched
   * positions, so post-join work is linear in shared-window matches,
   * never in corpus size.
   */
  def longestRunPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", windowTokens: Int = 8,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val eligible = docs.where(size(tokens(col(textCol))) >= windowTokens)
    val wins = positionalGramRows(eligible, idCol, textCol, windowTokens)
      .select(col(idCol), col("pos"), xxhash64(col("__g")).as("w"))
      .localCheckpoint()
    val shared = sharedWindowRows(wins, maxBucketSize)
    val l = shared.select(col("w"), col(idCol).as("a"), col("pos").as("pa"))
    val r = shared.select(col("w"), col(idCol).as("b"), col("pos").as("pb"))
    val matched = l.join(r, "w").where(col("a") < col("b"))
      .select(col("a"), col("b"), col("pa"), (col("pb") - col("pa")).as("diag"))
    val wRun = Window.partitionBy("a", "b", "diag").orderBy("pa")
    matched
      .withColumn("__grp", col("pa") - row_number().over(wRun))
      .groupBy("a", "b", "diag", "__grp").agg(count(lit(1)).as("__c"))
      .groupBy("a", "b").agg(
        count(lit(1)).as("n_runs"),
        (max(col("__c")) + lit(windowTokens - 1).cast("long"))
          .as("longest_run_tokens"))
  }

  /**
   * Verbatim-span scrubbing — the APPLY step of the Lee et al. policy
   * [[longestRunPairs]] reports on: every shared run of at least
   * `minRunTokens` tokens is removed from the LATER document (the
   * earlier one keeps its text — the same first-occurrence posture as
   * [[graft.ext.Corpus.segmentDedup]], but span-precise instead of
   * fixed-segment). Returns every document WITH AT LEAST ONE TOKEN as
   * `(idCol, n_tokens, n_flagged, clean_text)`; untouched docs have
   * `n_flagged = 0` and their original (token-joined) text.
   *
   * Mechanics: [[longestRunPairs]]'s diagonal islands, each island
   * mapped to the token range it covers in the later doc
   * (`[pb₀, pb₀ + c + windowTokens − 2]` for c consecutive windows
   * from position pb₀), ranges exploded to flagged positions (bounded
   * by covered tokens, not corpus size), and a rebuild that keeps
   * every unflagged token in order. Work after the candidate join is
   * linear in matched windows + flagged tokens.
   */
  def verbatimSpanScrub(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", windowTokens: Int = 8,
      minRunTokens: Int = 8, maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val flagged = verbatimSpanFlags(docs, idCol, textCol, windowTokens,
      minRunTokens, maxBucketSize)
    val toks = docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "__tok")))
    toks.join(flagged.withColumn("__flag", lit(true)), Seq(idCol, "pos"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__flag"), 1L).otherwise(0L)).as("n_flagged"),
        array_join(transform(
          array_sort(collect_list(when(col("__flag").isNull,
            struct(col("pos"), col("__tok"))))),
          s => s.getField("__tok")), " ").as("clean_text"))
  }

  /** The FLAG half of [[verbatimSpanScrub]]: the distinct
    * `(idCol, pos)` token positions the span policy removes — every
    * position of every shared run of at least `minRunTokens` tokens,
    * in the LATER document of each pair. Split out so the apply step
    * has a second, streaming-shaped consumer
    * ([[scrubSpansStateless]]) guaranteed to scrub the SAME positions
    * the batch rebuild does. */
  def verbatimSpanFlags(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", windowTokens: Int = 8,
      minRunTokens: Int = 8, maxBucketSize: Int = MaxBucketSize): DataFrame = {
    require(minRunTokens >= windowTokens,
      "minRunTokens must be at least windowTokens (shorter runs are invisible)")
    val eligible = docs.where(size(tokens(col(textCol))) >= windowTokens)
    val wins = positionalGramRows(eligible, idCol, textCol, windowTokens)
      .select(col(idCol), col("pos"), xxhash64(col("__g")).as("w"))
      .localCheckpoint()
    val shared = sharedWindowRows(wins, maxBucketSize)
    val l = shared.select(col("w"), col(idCol).as("a"), col("pos").as("pa"))
    val r = shared.select(col("w"), col(idCol).as("b"), col("pos").as("pb"))
    val matched = l.join(r, "w").where(col("a") < col("b"))
      .select(col("a"), col("b"), col("pa"), (col("pb") - col("pa")).as("diag"))
    val wRun = Window.partitionBy("a", "b", "diag").orderBy("pa")
    val spans = matched
      .withColumn("__grp", col("pa") - row_number().over(wRun))
      .groupBy("a", "b", "diag", "__grp")
      .agg(count(lit(1)).as("__c"), min(col("pa")).as("__pa0"))
      .where(col("__c") + lit(windowTokens - 1) >= minRunTokens)
      .select(col("b"),
        (col("__pa0") + col("diag")).as("__s"),
        (col("__pa0") + col("diag") + col("__c") + lit(windowTokens - 2))
          .as("__e"))
    spans
      .select(col("b").as(idCol), explode(sequence(col("__s"), col("__e")))
        .as("pos"))
      .distinct()
  }

  /**
   * STATELESS apply half of [[verbatimSpanScrub]] for streams — the
   * span-precise sibling of
   * [[graft.ext.Corpus.scrubRowStateless]]'s segment gate: the
   * `(idCol, pos)` flag table from a batch [[verbatimSpanFlags]] run
   * is collapsed to ONE sorted position array per flagged document
   * (bounded by that document's own token count — never corpus-sized)
   * and stream-static LEFT-joined on the document id, so each arriving
   * row rebuilds itself in a single projection. No aggregation on the
   * stream side, no state store — append-mode safe behind a
   * `readStream` exactly like the other ingest gates.
   *
   * Returns the input columns plus `(n_tokens, n_flagged,
   * clean_text)`. Equal to [[verbatimSpanScrub]] over the same corpus
   * and flag table for every TOKEN-BEARING document (StreamingSpec
   * pins it); tokenless documents pass through as `(0, 0, "")` where
   * the batch rebuild emits no row — the [[graft.ext.Corpus
   * .scrubRowStateless]] stream-boundary convention.
   */
  def scrubSpansStateless(df: DataFrame, flags: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val perDoc = flags.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__flag_pos"))
    df.join(perDoc, Seq(idCol), "left")
      .withColumn("__tk", tokens(col(textCol)))
      .withColumn("__fp",
        coalesce(col("__flag_pos"), array().cast("array<int>")))
      .select(col("*"),
        size(col("__tk")).cast("long").as("n_tokens"),
        size(col("__fp")).cast("long").as("n_flagged"),
        array_join(filter(
          transform(col("__tk"),
            (t, i) => when(array_contains(col("__fp"), i), lit(null))
              .otherwise(t)),
          x => x.isNotNull), " ").as("clean_text"))
      .drop("__flag_pos", "__tk", "__fp")
  }

  /**
   * Longest SELF-repeated run per document — the intra-doc twin of
   * [[longestRunPairs]] and the run-length upgrade of the repetition
   * RATIOS ([[graft.ext.TextStats]]' counters): for each document
   * containing a repeated `windowTokens`-token window, the token
   * length of the longest run that occurs at least twice WITHIN the
   * document (looping boilerplate, copy-pasted paragraphs, degenerate
   * generation), plus the count of distinct repeated runs. Documents
   * with no repeat are absent (sparse report).
   *
   * Same diagonal gaps-and-islands mechanics, self-joined within the
   * document (`pa < pb`, `diag = pb − pa > 0`). Candidate volume for
   * a window repeated m times in one doc is O(m²) — bounded by the
   * DOCUMENT's own length (never corpus-sized), which is the operator
   * contract: per-doc work may be quadratic in per-doc repetition,
   * the thing it exists to measure. Corpus-frequent windows cost
   * nothing here because the join key is (doc, window).
   */
  def selfRepeatRuns(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", windowTokens: Int = 8): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val eligible = docs.where(size(tokens(col(textCol))) >= windowTokens)
    val wins = positionalGramRows(eligible, idCol, textCol, windowTokens)
      .select(col(idCol), col("pos"), xxhash64(col("__g")).as("w"))
      .localCheckpoint()
    val l = wins.select(col(idCol), col("w"), col("pos").as("pa"))
    val r = wins.select(col(idCol), col("w"), col("pos").as("pb"))
    val matched = l.join(r, Seq(idCol, "w")).where(col("pa") < col("pb"))
      .select(col(idCol), col("pa"), (col("pb") - col("pa")).as("diag"))
    val wRun = Window.partitionBy(idCol, "diag").orderBy("pa")
    matched
      .withColumn("__grp", col("pa") - row_number().over(wRun))
      .groupBy(col(idCol), col("diag"), col("__grp"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_runs"),
        (max(col("__c")) + lit(windowTokens - 1).cast("long"))
          .as("longest_repeat_tokens"))
  }

  /** Positional (non-distinct) word n-gram rows `(idCol, pos, __g)` —
    * winnowing operates on the gram SEQUENCE, unlike the signature
    * kernels' gram sets; documents shorter than n contribute their
    * whole token sequence at pos 0 (the gramRows short branch). */
  private def positionalGramRows(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val toks = tokens(col(textCol))
    val cnt = size(toks) - (n - 1)
    val slices = (0 until n).map(j => slice(toks, lit(j + 1), cnt).as(s"g$j"))
    val long = docs.where(size(toks) >= n)
      .select(col(idCol), posexplode(arrays_zip(slices: _*)).as(Seq("pos", "z")))
      .select(col(idCol), col("pos"),
        concat_ws(" ", (0 until n).map(j => col(s"z.g$j")): _*).as("__g"))
    val short = docs.where(size(toks) < n)
      .select(col(idCol), lit(0).as("pos"), array_join(toks, " ").as("__g"))
    long.unionByName(short)
  }

  /**
   * Winnowing fingerprints (Schleimer et al., "Winnowing: Local
   * Algorithms for Document Fingerprinting" — the MOSS scheme): hash
   * every word `gramN`-gram, slide a window of `window` consecutive
   * gram hashes, keep each window's MINIMUM hash; the distinct kept
   * hashes are the document's fingerprints. Guarantees every shared
   * run of `gramN + window − 1` tokens contributes at least one
   * SHARED fingerprint, at a fingerprint density of ~2/(window+1) —
   * the storage/recall dial [[exactSubstringPairs]] lacks (that
   * keeps every window).
   *
   * Hashes are the md5-prefix 60-bit keys ([[md5Key]]) so the
   * SELECTION — not just the counts — replays exactly in the DuckDB
   * oracle. Documents shorter than `gramN` tokens fingerprint their
   * whole token sequence; a document with fewer grams than `window`
   * yields the min over what exists (both engines' bounded window
   * frames agree on this).
   *
   * Shape at scale: ONE codegen'd projection — the fused kernel
   * ([[graft.plans.Native.winnowFps]]) hashes the positional grams and
   * selects each document's distinct window minima in a single pass,
   * so NOTHING shuffles here at all (the previous formulation paid a
   * positional-gram Generate plus a per-document window sort for
   * per-row-local math; [[winnowFingerprintsWindowed]] keeps it as the
   * spec-pinned reference). Linear in total tokens; no pair term, no
   * corpus-wide state.
   */
  def winnowFingerprints(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", gramN: Int = 3,
      window: Int = 4): DataFrame = {
    require(gramN > 0, "gramN must be positive")
    require(window > 0, "window must be positive")
    docs.select(col(idCol), explode(graft.plans.NativeFunctions
      .winnowFps(col(textCol), gramN, window)).as("fp"))
  }

  /** The positional-gram + per-document sliding-window-min Column
    * formulation [[winnowFingerprints]]'s fused kernel replaced —
    * kept as the equivalence reference (DedupSpec pins kernel ≡
    * windowed on every document shape, including sub-gram and empty
    * documents). */
  private[graft] def winnowFingerprintsWindowed(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", gramN: Int = 3,
      window: Int = 4): DataFrame = {
    val hashed = positionalGramRows(docs, idCol, textCol, gramN)
      .select(col(idCol), col("pos"), md5Key(col("__g")).as("__h"))
    val wcnt = Window.partitionBy(col(idCol))
    val wmin = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    hashed
      .withColumn("__n", count(lit(1)).over(wcnt))
      .withColumn("fp", min(col("__h")).over(wmin))
      // one fingerprint per FULL window; short documents (fewer grams
      // than the window) keep their single all-grams minimum at pos 0
      .where(col("pos") <= greatest(col("__n") - window, lit(0)))
      .select(col(idCol), col("fp")).distinct()
  }

  /**
   * Fingerprint-sharing candidate pairs over [[winnowFingerprints]]:
   * `(a, b, n_shared)` for pairs sharing at least `minShared`
   * fingerprints — the sparse alternative to [[exactSubstringPairs]]
   * (≈2/(window+1) of the join input for the same guarantee horizon).
   * Same bucketed 8-byte-key self-join shape.
   */
  def winnowPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", gramN: Int = 3, window: Int = 4,
      minShared: Long = 1L): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, gramN, window)
      .localCheckpoint() // fingerprint rows feed both join sides once
    val l = fps.select(col("fp"), col(idCol).as("a"))
    val r = fps.select(col("fp"), col(idCol).as("b"))
    l.join(r, "fp").where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /**
   * Content-defined chunking (the FastCDC/rsync family over word
   * tokens): one row per chunk `(idCol, chunk_idx, chunk_text,
   * n_chunk_tokens)`. A token closes a chunk when its 60-bit
   * md5-prefix key ≡ 0 mod `boundaryMod` (expected chunk ≈
   * `boundaryMod` tokens); the trailing partial chunk closes at
   * document end; token-less documents contribute no rows.
   *
   * Why CDC and not fixed-stride segments: boundaries depend only on
   * token CONTENT, so an identical token run chunks identically at any
   * offset in any document — a duplicated span ≳2·boundaryMod tokens
   * is guaranteed to contain a full shared chunk no matter how the
   * surrounding text shifts it. Fixed segmentation ([[Corpus]]'
   * `chunkDocs` at stride = chunk) loses every misaligned duplicate.
   *
   * Shape at scale: the chunking itself is a codegen'd projection
   * ([[graft.plans.Native.cdcChunks]]) plus one narrow Generate — no
   * shuffle, no corpus state; the downstream dup report groups by the
   * chunk digest, the same narrow-key aggregate as [[exactByDigest]].
   */
  def cdcChunks(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", boundaryMod: Int = 8): DataFrame =
    docs.select(col(idCol), posexplode(graft.plans.NativeFunctions
        .cdcChunks(col(textCol), boundaryMod)).as(Seq("chunk_idx", "chunk_text")))
      .withColumn("n_chunk_tokens", size(split(col("chunk_text"), " ")))

  /**
   * Cross-document duplicated-chunk report over [[cdcChunks]]: chunks
   * of at least `minTokens` tokens appearing in at least `minDocs`
   * distinct documents, with occurrence counts and the minimum holding
   * id. `minTokens` (default 4) gates out the stopword-sized chunks
   * that are trivially shared — the CDC analogue of a minimum chunk
   * size in FastCDC. The aggregation keys the chunk STRING here so the
   * report carries it; at 100 TB key `xxhash64(chunk_text)` and join
   * the text back for the survivors only.
   */
  def cdcDuplicateChunks(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", boundaryMod: Int = 8, minTokens: Int = 4,
      minDocs: Int = 2): DataFrame =
    cdcChunks(docs, idCol, textCol, boundaryMod)
      .where(col("n_chunk_tokens") >= minTokens)
      .groupBy(col("chunk_text"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col(idCol)).as("min_doc"))
      .where(col("n_docs") >= minDocs)

  /**
   * Chunk-level decontamination via CDC — the storage-dedup take on
   * benchmark leakage ([[graft.ext.Corpus]]'s verbatim windows catch
   * any 8-token overlap; this flags COMPLETE shared chunks, the
   * coarser signal that survives at a fraction of the index size,
   * ≈1/boundaryMod of the window count): a benchmark document is
   * dirty when any of its ≥`minTokens`-token content-defined chunks
   * appears verbatim in the training corpus. Returns per-benchmark-doc
   * `(idCol, n_chunks, n_shared, dirty)`.
   *
   * Shape at scale: both sides chunk in a kernel projection; the train
   * side reduces to DISTINCT chunk keys (at 100 TB: xxhash64 digests),
   * and the flagging is one equi-join + per-doc aggregate — the
   * decontaminate posture with CDC's smaller index.
   */
  def cdcContamination(bench: DataFrame, train: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      boundaryMod: Int = 8, minTokens: Int = 4): DataFrame = {
    // the flagging join keys the 8-byte chunk digest, not the chunk
    // string — the train-side distinct and the equi-join shuffle only
    // hashes (2^-64-collision equivalence class, like every hashed
    // gram join in this file; the oracle joins the strings themselves)
    val bc = cdcChunks(bench, idCol, textCol, boundaryMod)
      .withColumn("__ck", xxhash64(col("chunk_text")))
    val tc = cdcChunks(train, idCol, textCol, boundaryMod)
      .where(col("n_chunk_tokens") >= minTokens)
      .select(xxhash64(col("chunk_text")).as("__ck")).distinct()
    val hit = col("__hit").isNotNull && col("n_chunk_tokens") >= minTokens
    bc.join(tc.withColumn("__hit", lit(1L)), Seq("__ck"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(hit, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dirty", (col("n_shared") > 0).cast("int"))
  }

  /**
   * Duplicated-span scrubbing via CDC — the paragraph/line-dedup shape
   * (CCNet's duplicated-paragraph removal) for corpora without line
   * structure: rebuild each document keeping a chunk occurrence iff
   * its chunk is NOT cross-document duplicated (per
   * [[cdcDuplicateChunks]] at `minTokens`/`minDocs`) OR this document
   * is the minimum id holding it (the canonical copy survives, every
   * other occurrence is boilerplate and drops). Returns `(idCol,
   * n_chunks, n_dropped, clean_text)`; token-less documents have no
   * chunks and are absent, like the LM scorers' under-length rule.
   *
   * Shape at scale: chunk projection (no shuffle) → narrow dup-side
   * aggregate → one equi-join back on the chunk key → per-document
   * rebuild. The rebuild's collect_list is per-document and bounded by
   * document length — the same per-group bound as every windowed
   * rebuild in [[Corpus]].
   */
  def cdcScrub(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", boundaryMod: Int = 8, minTokens: Int = 4,
      minDocs: Int = 2): DataFrame = {
    val chunks = cdcChunks(docs, idCol, textCol, boundaryMod)
      .withColumn("__ck", xxhash64(col("chunk_text")))
      .localCheckpoint() // feeds the dup aggregate and the rebuild once
    // dup resolution keys the 8-byte chunk digest — only hashes and
    // ids cross the aggregate and join shuffles, never chunk strings
    // (the oracle joins the strings; 2^-64-collision equivalence)
    val dups = chunks
      .where(col("n_chunk_tokens") >= minTokens)
      .groupBy(col("__ck"))
      .agg(countDistinct(col(idCol)).as("__nd"), min(col(idCol)).as("__md"))
      .where(col("__nd") >= minDocs)
    val keep = col("__nd").isNull || (col(idCol) === col("__md"))
    chunks.join(dups, Seq("__ck"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(keep, 0L).otherwise(1L)).as("n_dropped"),
        // collect_list skips the nulls the when() leaves on dropped
        // occurrences; sort_array restores chunk order (per-document,
        // bounded by document length)
        array_join(transform(
          sort_array(collect_list(when(keep,
            struct(col("chunk_idx"), col("chunk_text"))))),
          s => s.getField("chunk_text")), " ").as("clean_text"))
  }

  /**
   * The composed near-duplicate pipeline — the 100 TB shape, in the
   * production stage order:
   *
   *   1. EXACT pre-pass: identical texts collapse to their minimum-id
   *      representative (narrow `xxhash64(text)` group — the
   *      [[exactByDigest]] shape). Web-scale corpora are dominated by
   *      byte-identical and empty documents; those are exactly the
   *      inputs that share EVERY band bucket and would otherwise form
   *      O(k²) candidate cells inside the LSH join. After this pass
   *      each distinct text enters LSH exactly once.
   *   2. MinHash-LSH banding over the representatives proposes
   *      candidate pairs (bucketed equi-join, no cross join; residual
   *      mega-cells capped per [[minhashLshPairs]]).
   *   3. Exact n-gram Jaccard verifies ONLY those candidates —
   *      verification cost scales with candidates, not corpus².
   *   4. Cluster resolution over verified pairs PLUS the exact-group
   *      star edges (member → group representative).
   *
   * The result is IDENTICAL to running LSH + verify over the full
   * corpus (DedupSpec proves it on planted duplicate groups): LSH
   * candidacy and Jaccard are functions of the text alone, identical
   * texts always verify (Jaccard 1 ≥ any threshold), so every
   * text-group is a clique whose contraction to its min-id member
   * preserves both the connected components and each component's
   * minimum id — the cluster representative.
   *
   * Returns (doc id → cluster representative) for every doc that has at
   * least one verified near-duplicate.
   */
  def nearDuplicates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minJaccard: Double = 0.7,
      numHashes: Int = 32, bands: Int = 8, shingleN: Int = 3): DataFrame = {
    // Exact pre-pass. The digest group carries 8-byte (digest, id)
    // rows; membership is checkpointed because it feeds the exact
    // star edges AND the representative filter.
    val src = docs.select(col(idCol), col(textCol))
    val membership = src
      .select(col(idCol), xxhash64(col(textCol)).as("__dg"))
      .withColumn("__grp",
        min(col(idCol)).over(Window.partitionBy(col("__dg"))))
      .select(col(idCol), col("__grp"))
      .localCheckpoint()
    val exactEdges = membership.where(col(idCol) =!= col("__grp"))
      .select(col("__grp").as("a"), col(idCol).as("b"))
    // Representatives re-join the text by id — a narrow semi-join
    // against the scan, cheaper than shuffling text through the group.
    val reps = src.join(
      membership.where(col(idCol) === col("__grp")).select(col(idCol)),
      Seq(idCol), "left_semi")
    val cand = minhashLshPairs(reps, idCol, textCol, numHashes, bands, shingleN)
    val grams = reps.select(col(idCol),
        explode(graft.plans.NativeFunctions.hashedShingles(col(textCol), shingleN)).as("g"))
      .localCheckpoint()
    val sizes = grams.groupBy(col(idCol)).agg(count("*").as("n"))
    // intersection counts computed only over candidate pairs
    val ga = grams.select(col(idCol).as("a"), col("g"))
    val gb = grams.select(col(idCol).as("b"), col("g"))
    val verified = cand
      .join(ga, "a").join(gb, Seq("b", "g"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
      // per-doc sizes frame: unbounded with corpus size, never broadcast
      .join(sizes.select(col(idCol).as("a"), col("n").as("n_a")), "a")
      .join(sizes.select(col(idCol).as("b"), col("n").as("n_b")), "b")
      .where(col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")) >= minJaccard)
      .select("a", "b")
    // Verified edges link representatives only; exact edges link each
    // group member to its representative — disjoint by construction,
    // so the union stays producer-deduplicated (the duplicateClusters
    // contract).
    duplicateClusters(verified.unionByName(exactEdges))
  }

  /**
   * Duplicate-cluster resolution: given near-dup pairs (a, b), assign
   * every document its cluster representative (the minimum doc id
   * reachable through pair edges) — the "keep one copy" step of a
   * dedup pipeline. Emits `(id, rep)` for every id that appears in a
   * pair; an id absent from the output had no near-dup and is its own
   * representative (the [[applyDedup]] / split-by-cluster convention).
   * A pair with a null endpoint and a self-pair `(x, x)` name no edge,
   * so they add no row; ids of any orderable type resolve to the
   * minimum id (the min string for string ids).
   *
   * Components come from [[LinkGraph.contractComponents]], the
   * engine's one connected-components loop (shared with
   * [[LinkGraph.hostComponents]]): hash-ordered min contraction,
   * expected O(log n) rounds on any component shape — a 400-id chain
   * in shuffled id order included — over a working edge set that
   * shrinks every round. One window per component root then names the
   * representative. If `maxRounds` is exhausted without convergence
   * this THROWS rather than silently returning wrong representatives
   * (the oracle compares transitive closure).
   */
  def duplicateClusters(pairs: DataFrame, aCol: String = "a",
      bCol: String = "b", maxRounds: Int = 50): DataFrame =
    LinkGraph.contractComponents(
        pairs.select(col(aCol).as("a"), col(bCol).as("b")), maxRounds)
      .select(col("id"),
        min(col("id")).over(Window.partitionBy("root")).as("rep"))

  /**
   * Apply a dedup decision: drop every clustered document except its
   * cluster representative — the final step of the flag → verify →
   * cluster → APPLY pipeline. `clusters` is [[duplicateClusters]]
   * output `(id, rep)`; documents absent from it had no near-dup and
   * pass through untouched. The survivors ARE the deduplicated corpus.
   *
   * Shape at scale: one left-anti join of the corpus against the
   * non-representative id list — narrow 8-byte keys, sized by the
   * duplicate count (≪ corpus for natural dedup ratios), which AQE
   * broadcasts when it fits.
   */
  def applyDedup(docs: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      clusters.where(col("id") =!= col("rep")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /**
   * Build-once persistence of a resolved cluster frame `(id, rep)` —
   * the serving posture for dedup REPORTS: a curation run resolves
   * clusters ONCE ([[duplicateClusters]] output, or [[nearDuplicates]]
   * for the full pipeline), persists them, and every downstream
   * consumer (size histograms, apply steps, audits) probes the
   * persisted table instead of re-running the flag → verify → cluster
   * pipeline per query. `_SUCCESS`-guarded and session-survivable via
   * [[Warehouse.ensureTable]]; fingerprint `name` with the source dir
   * and every pipeline parameter so parameter changes rebuild.
   *
   * `build` is by-name: it runs only when no complete persisted table
   * exists (cluster resolution executes eagerly, so passing the frame
   * directly would defeat the point).
   */
  def ensureClusters(spark: org.apache.spark.sql.SparkSession, name: String)(
      build: => DataFrame): DataFrame = {
    Warehouse.ensureTable(spark, name, "id BIGINT, rep BIGINT")(
      build.select(col("id").cast("long"), col("rep").cast("long")))
    spark.table(name)
  }

  /**
   * Embedding-cosine near-dup: pairs with cosine >= threshold, candidates
   * from hyperplane-LSH buckets (see [[Similarity.hyperplaneBuckets]]),
   * verified with exact cosine.
   */
  def embeddingNearDups(embeddings: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", threshold: Double = 0.95,
      planes: Int = 12, seed: Long = 42L): DataFrame = {
    val bucketed = Similarity.hyperplaneBuckets(embeddings, vecCol, planes, seed)
      .select(col(idCol), col("bucket"), col(vecCol))
      .localCheckpoint() // bucket projections feed both join sides
    val l = bucketed.select(col("bucket"), col(idCol).as("a"), col(vecCol).as("va"))
    val r = bucketed.select(col("bucket"), col(idCol).as("b"), col(vecCol).as("vb"))
    l.join(r, "bucket").where(col("a") < col("b"))
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .where(col("cosine") >= threshold)
      .select("a", "b", "cosine").distinct()
  }
}
