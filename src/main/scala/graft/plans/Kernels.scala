package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.{ColumnBridge, KernelCall}
import org.apache.spark.sql.types._

/** A plan-time constant array of a kernel call. A `Literal` compares any
  * array but `Array[Byte]` by reference, so two builds of one plan would
  * stop canonicalizing equal (no exchange reuse, no common
  * subexpressions); this holder compares and hashes by content, and
  * prints its length only, so a large table stays out of plan strings. */
final class ConstArray[A](val array: Array[A]) extends Serializable {
  @transient private lazy val hash = java.util.Arrays.deepHashCode(Array[AnyRef](array))
  override def hashCode: Int = hash
  override def equals(o: Any): Boolean = o match {
    case c: ConstArray[_] => java.util.Objects.deepEquals(array, c.array)
    case _ => false
  }
  override def toString: String = s"ConstArray[${array.length}]"
}

object ConstArray {
  def apply[A](xs: Seq[A])(implicit t: scala.reflect.ClassTag[A]): ConstArray[A] =
    new ConstArray(xs.toArray)
}

/** The SQL face of a [[Kernel]] row: `name(columns…, ints…)`. Each of the
  * `ints` trailing arguments must be a literal int (the kernel specializes
  * on it); `positive`, when set, names them in the error for a value ≤ 0;
  * `consts` turns them into the call's constants. */
private[plans] final case class Sql(name: String, ints: Int = 0,
    positive: String = "", consts: Seq[Int] => Seq[Any] = (i: Seq[Int]) => i)

/**
 * One row of the kernel table: a [[Native]] method, its result type, the
 * types of its column arguments (Spark casts other inputs to them; a
 * [[Kernel.Vector]] column also takes `array<float>` as given, and the
 * call passes whether it is one), and its null rule as Spark's
 * `StaticInvoke` takes it — `propagateNull` (a null column gives null
 * without a call) and `returnNullable` (the method may return null). A
 * call appends its plan-time constants after those arguments. `usage`
 * documents the row; `_FUNC_` stands for its name.
 */
private[plans] final case class Kernel(method: String, dataType: DataType,
    inputTypes: Seq[DataType], usage: String,
    propagateNull: Boolean = true, returnNullable: Boolean = false,
    sql: Option[Sql] = None) {
  def expr(children: Seq[Expression], consts: Seq[Any],
      resultType: DataType = dataType): Expression =
    KernelCall(Native.getClass, method, resultType, inputTypes, children,
      consts, propagateNull, returnNullable)

  def apply(cols: Column*)(consts: Any*): Column =
    ColumnBridge.column(expr(cols.map(ColumnBridge.expression), consts))
}

/** The kernel table: every [[Native]] kernel the plans call, one row each. */
private[plans] object Kernel {
  /** A vector argument: `array<double>`, or `array<float>` as given;
    * other numeric arrays are cast to `array<double>`. */
  val Vector: DataType = ArrayType(DoubleType)

  private val Text = Seq(StringType)
  private val Bytes = Seq(BinaryType)
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Ints = ArrayType(IntegerType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private def okOr(field: String, t: DataType): StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField(field, t, nullable = true)))

  val SimHash = Kernel("simhash", LongType, Seq(ArrayType(StringType)),
    "_FUNC_(tokens) - 64-bit SimHash of a token array: bit i is the sign " +
      "of the ±1 votes of bit i of xxhash64(token, 42)",
    sql = Some(Sql("graft_simhash")))
  val CharTrigramHashes = Kernel("charTrigramHashes", Longs, Text,
    "_FUNC_(text) - xxhash64 (seed 42) of each positional 3-code-point " +
      "window of the lowercased text; fewer than 3 code points gives []")
  val MattrStats = Kernel("mattrStats",
    struct("n_tokens" -> LongType, "n_windows" -> LongType, "sum_distinct" -> LongType),
    Text, "_FUNC_(text, window) - the MATTR inputs of one sliding pass over " +
      "the tokens; a document shorter than window is one window")
  val ScrubSegments = Kernel("scrubSegments",
    struct("n_segs" -> LongType, "n_dropped" -> LongType, "clean_text" -> StringType),
    Seq(StringType, StringType), "_FUNC_(source, text, sortedKeys, segTokens) - " +
      "the stateless boilerplate scrub: segTokens-token segments whose " +
      "xxhash64(source ∥ U+0001 ∥ segment) is in the sorted flag keys are dropped")
  val GopherGramStats = Kernel("gopherGramStats",
    struct("top2_cnt" -> LongType, "top2_len" -> LongType, "dup5_chars" -> LongType),
    Text, "_FUNC_(text) - the most frequent word bigram's count and length, " +
      "and the characters in repeated 5-grams")
  val CharEntropy9 = Kernel("charEntropy9", LongType, Text,
    "_FUNC_(text) - code-point Shannon entropy on the 1e-9 grid")
  val RollingHash = Kernel("rollingHash", LongType, Text,
    "_FUNC_(str) - rolling document fingerprint: acc·31 + code point, mod 1e9+7",
    sql = Some(Sql("graft_rolling_hash")))
  val QualityCounts = Kernel("qualityCounts",
    struct("n_tokens" -> LongType, "n_bpeish" -> LongType, "n_punct" -> LongType,
      "n_stop" -> LongType),
    Text, "_FUNC_(text) - struct(n_tokens, n_bpeish, n_punct, n_stop), the fused quality counters",
    sql = Some(Sql("graft_quality_counts")))
  val TokensOf = Kernel("tokensOf", Strings, Text,
    "_FUNC_(text) - lowercased whitespace tokens, empties dropped",
    sql = Some(Sql("graft_tokens")))
  val NormalizedRollingHash = Kernel("normalizedRollingHash", LongType, Text,
    "_FUNC_(text) - the rolling hash of the tokens joined by single spaces")
  val WinnowFps = Kernel("winnowFps", Longs, Text,
    "_FUNC_(text, gramN, window) - winnowing fingerprint keys: the distinct " +
      "window minima of the md5-prefix keys of the word gramN-grams",
    sql = Some(Sql("graft_winnow_fps", 2, "gramN and window")))
  val CdcChunks = Kernel("cdcChunks", Strings, Text,
    "_FUNC_(text, boundaryMod) - content-defined chunk strings: a token " +
      "whose md5-prefix key is 0 mod boundaryMod closes a chunk",
    sql = Some(Sql("graft_cdc_chunks", 1, "boundaryMod")))
  val NbPredict = Kernel("nbPredict",
    struct("n_tokens" -> LongType, "best_idx" -> IntegerType, "best_lp9" -> LongType,
      "second_lp9" -> LongType),
    Text, "_FUNC_(text, keys, contribs, miss, prior, hashMod) - Naive Bayes " +
      "argmax over sorted token keys with per-label 1e-9-grid contributions")
  val WorstWindow = Kernel("worstWindow",
    struct("n_tokens" -> LongType, "n_found" -> LongType, "worst_start" -> LongType,
      "worst_roll9" -> LongType),
    Text, "_FUNC_(text, keys, lp9, window) - the lowest-scoring window of " +
      "profiled tokens; the caller nulls the worst fields when n_found < window")
  val HashFeatureStats = Kernel("hashFeatureStats",
    struct("nnz" -> LongType, "norm_sq" -> LongType, "max_count" -> LongType,
      "argmax_dim" -> IntegerType),
    Text, "_FUNC_(text, dims) - struct(nnz, norm_sq, max_count, argmax_dim) " +
      "of the hashing-trick count vector",
    sql = Some(Sql("graft_hash_features", 1, "dims")))
  val HashedShingles = Kernel("hashedShingles", Longs, Text,
    "_FUNC_(text, n) - hashed word n-gram keys, distinct, in document order",
    sql = Some(Sql("graft_hashed_shingles", 1, "n")))
  val MinhashSignature = Kernel("minhashSignature", Longs, Text,
    "_FUNC_(text, numHashes, shingleN) - MinHash signature array from the " +
      "standard affine family",
    sql = Some(Sql("graft_minhash_signature", 2, "numHashes and shingleN",
      i => minhashConsts(Native.minhashCoefs(i(0))) :+ i(1))))
  val SimhashMd5 = Kernel("simhashMd5", LongType, Text,
    "_FUNC_(text) - 60-bit SimHash over the distinct tokens' md5-prefix keys")
  val QuantizeInt8 = Kernel("quantizeInt8", ArrayType(DoubleType, containsNull = false),
    Seq(Vector), "_FUNC_(vec) - symmetric int8 quantization, x·127/max|x| " +
      "rounded half away from zero, as doubles")
  val BpeTokenCount = Kernel("bpeTokenCount", LongType, Text,
    "_FUNC_(text, ma, mb, mab) - token count after the BPE merges (ma(i), mb(i))")
  val BpePieces = Kernel("bpePieces", Strings, Text,
    "_FUNC_(word, ma, mb, mab) - the merges-applied subword pieces of one pre-token")
  val DsirScore = Kernel("dsirScore", struct("n_feats" -> LongType, "s9" -> LongType),
    Text, "_FUNC_(text, lr9) - DSIR hashed uni+bigram score over a dense " +
      "per-bucket 1e-9-grid log-ratio table (its length is the bucket count)")
  val LangIdScore = Kernel("langIdScore", struct("n_trigrams" -> LongType), Text,
    "_FUNC_(text, keys, contribs, miss) - struct(n_trigrams, s_<lang>…), " +
      "the trigram-profile scores, one field per language")
  val Dot = Kernel("dot", DoubleType, Seq(Vector, Vector),
    "_FUNC_(a, b) - dot product of two numeric arrays, a left fold; null " +
      "when the lengths differ, as aggregate(zip_with(...)) gives, so a " +
      "length mismatch is never silently truncated",
    returnNullable = true, sql = Some(Sql("graft_dot")))
  val PqCodes = Kernel("pqCodes", Ints, Seq(Vector),
    "_FUNC_(vec, flat, normSq, m, k, sub) - each PQ subspace's nearest " +
      "sub-centroid code of the L2-normalized vector")
  val NearestCentroids = Kernel("nearestCentroids", Ints, Seq(Vector),
    "_FUNC_(vec, cents, normSq, probes) - the first probes centroid ids by " +
      "squared L2; never null: a null vector gets [0, 1, …]",
    propagateNull = false)
  val DecodeEntities = Kernel("decodeEntities", StringType, Text,
    "_FUNC_(str) - HTML entity decode: named and numeric refs, then &amp;")
  val RemoveDotSegments = Kernel("removeDotSegments", StringType, Text,
    "_FUNC_(path) - RFC 3986 §5.2.4 dot-segment removal of a rooted path")
  val ResolveHref = Kernel("resolveHref", StringType, Seq(StringType, StringType),
    "_FUNC_(base, href) - RFC 3986 §5.2 reference resolution")
  val GzipMember = Kernel("gzipMember", BinaryType, Bytes,
    "_FUNC_(bytes) - one deterministic RFC 1952 gzip member")
  val ZlibMember = Kernel("zlibMember", BinaryType, Bytes,
    "_FUNC_(bytes) - one deterministic RFC 1950 zlib stream")
  val GunzipTry = Kernel("gunzipTry", okOr("data", BinaryType), Bytes,
    "_FUNC_(bytes) - member-walking gzip inflate; corruption gives (false, null)")
  val DecodeCharset = Kernel("decodeCharset", StringType, Seq(BinaryType, StringType),
    "_FUNC_(bytes, label) - multi-byte CJK charset decode; malformed bytes become U+FFFD")
  val DecodeHttpBody = Kernel("decodeHttpBody", okOr("body", StringType),
    Seq(StringType, StringType, StringType),
    "_FUNC_(view, te, ce) - transfer then content codings removed right to " +
      "left; unsupported or corrupt gives (false, null)")
  val DechunkTry = Kernel("dechunkTry", okOr("text", StringType), Text,
    "_FUNC_(view) - HTTP/1.1 chunked framing removed; malformed gives (false, null)")

  val all: Seq[Kernel] = Seq(SimHash, CharTrigramHashes, MattrStats,
    ScrubSegments, GopherGramStats, CharEntropy9, RollingHash, QualityCounts,
    TokensOf, NormalizedRollingHash, WinnowFps, CdcChunks, NbPredict,
    WorstWindow, HashFeatureStats, HashedShingles, MinhashSignature,
    SimhashMd5, QuantizeInt8, BpeTokenCount, BpePieces, DsirScore,
    LangIdScore, Dot, PqCodes, NearestCentroids, DecodeEntities,
    RemoveDotSegments, ResolveHref, GzipMember, ZlibMember, GunzipTry,
    DecodeCharset, DecodeHttpBody, DechunkTry)

  private[plans] def minhashConsts(coefs: (Seq[Long], Seq[Long])): Seq[Any] = {
    val (as, bs) = coefs
    require(as.length == bs.length && as.nonEmpty,
      "coefficient seqs must be same-length and non-empty")
    Seq(ConstArray(as), ConstArray(bs))
  }

  private[plans] def bpeConsts(merges: Seq[(String, String)]): Seq[Any] =
    Seq(ConstArray(merges.map(_._1)), ConstArray(merges.map(_._2)),
      ConstArray(merges.map(p => p._1 + p._2)))

  /** ‖c‖² by the left fold of the Column and oracle formulations. */
  private[plans] def normsSq(cents: Seq[Seq[Double]]): ConstArray[Double] =
    ConstArray(cents.map(c => c.map(x => x * x).sum))
}

/** Column-level entry points: each builds its [[Kernel]] row's call,
  * checking and preparing its constants once per plan. */
object NativeFunctions {
  import Kernel._

  def removeDotSegments(path: Column): Column = RemoveDotSegments(path)()
  def resolveHref(base: Column, href: Column): Column = ResolveHref(base, href)()
  def gzip(bytes: Column): Column = GzipMember(bytes)()
  def zlib(bytes: Column): Column = ZlibMember(bytes)()
  def gunzipTry(bytes: Column): Column = GunzipTry(bytes)()
  def dechunkTry(view: Column): Column = DechunkTry(view)()
  def decodeCharset(bytes: Column, charset: Column): Column =
    DecodeCharset(bytes, charset)()
  def decodeHttpBody(view: Column, te: Column, ce: Column): Column =
    DecodeHttpBody(view, te, ce)()
  def simhash(tokens: Column): Column = SimHash(tokens)()
  def decodeEntities(str: Column): Column = DecodeEntities(str)()
  def rollingHash(str: Column): Column = RollingHash(str)()
  def normalizedRollingHash(str: Column): Column = NormalizedRollingHash(str)()
  def tokensOf(str: Column): Column = TokensOf(str)()
  def qualityCounts(str: Column): Column = QualityCounts(str)()
  def charEntropy9(str: Column): Column = CharEntropy9(str)()
  def hashedShingles(text: Column, n: Int): Column = {
    require(n > 0, "n must be positive")
    HashedShingles(text)(n)
  }
  def dot(a: Column, b: Column): Column = Dot(a, b)()
  def quantizeInt8(v: Column): Column = QuantizeInt8(v)()
  def simhashMd5(text: Column): Column = SimhashMd5(text)()
  def gopherGramStats(text: Column): Column = GopherGramStats(text)()
  def charTrigramHashes(text: Column): Column = CharTrigramHashes(text)()

  def minhashSignature(text: Column, as: Seq[Long], bs: Seq[Long],
      shingleN: Int): Column =
    MinhashSignature(text)(minhashConsts((as, bs)) :+ shingleN: _*)

  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    BpeTokenCount(text)(bpeConsts(merges): _*)

  def bpePieces(word: Column, merges: Seq[(String, String)]): Column =
    BpePieces(word)(bpeConsts(merges): _*)

  def mattrStats(text: Column, window: Int): Column = {
    require(window > 0, "window must be positive")
    MattrStats(text)(window)
  }

  /** The flag keys are sorted and deduplicated here, once per plan,
    * whatever order the caller passed. */
  def scrubSegments(source: Column, text: Column, keys: Seq[Long],
      segTokens: Int): Column = {
    require(segTokens > 0, "segTokens must be positive")
    ScrubSegments(source, text)(ConstArray(keys.distinct.sorted), segTokens)
  }

  def dsirScore(text: Column, lr9: Seq[Long]): Column = {
    require(lr9.nonEmpty, "ratio table must be non-empty")
    DsirScore(text)(ConstArray(lr9))
  }

  def langIdScore(text: Column, langs: Seq[String], keys: Seq[Long],
      contribs: Seq[Long], miss: Seq[Long]): Column = {
    require(langs.nonEmpty, "langs must be non-empty")
    require(miss.length == langs.length, "miss row must have one entry per language")
    require(contribs.length == keys.length * langs.length,
      "contribution table shape mismatch")
    val resultType = StructType(LangIdScore.dataType.asInstanceOf[StructType].fields ++
      langs.map(l => StructField(s"s_$l", LongType, nullable = false)))
    ColumnBridge.column(LangIdScore.expr(Seq(ColumnBridge.expression(text)),
      Seq(ConstArray(keys), ConstArray(contribs), ConstArray(miss)), resultType))
  }

  def nbPredict(text: Column, keys: Seq[Long], contribs: Seq[Long],
      miss: Seq[Long], prior: Seq[Long], hashMod: Int = 0): Column = {
    require(miss.nonEmpty, "miss row must be non-empty")
    require(prior.length == miss.length, "prior row must match label count")
    require(contribs.length == keys.length * miss.length,
      "contribution table shape mismatch")
    NbPredict(text)(ConstArray(keys), ConstArray(contribs), ConstArray(miss),
      ConstArray(prior), hashMod)
  }

  def worstWindow(text: Column, keys: Seq[Long], lp9: Seq[Long],
      window: Int): Column = {
    require(window > 0, "window must be positive")
    require(keys.length == lp9.length, "key/lp9 tables must align")
    WorstWindow(text)(ConstArray(keys), ConstArray(lp9), window)
  }

  def winnowFps(text: Column, n: Int, window: Int): Column = {
    require(n > 0 && window > 0, "n and window must be positive")
    WinnowFps(text)(n, window)
  }

  def cdcChunks(text: Column, boundaryMod: Int): Column = {
    require(boundaryMod > 0, "boundaryMod must be positive")
    CdcChunks(text)(boundaryMod)
  }

  def hashFeatureStats(text: Column, dims: Int): Column = {
    require(dims > 0, "dims must be positive")
    HashFeatureStats(text)(dims)
  }

  /** The codebooks are flattened, and their ‖c‖² taken, once per plan. */
  def pqCodes(vec: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    require(books.nonEmpty && books.forall(_.nonEmpty), "codebooks must be non-empty")
    val sub = books.head.head.length
    require(books.forall(_.forall(_.length == sub)),
      "all sub-centroids must share one subspace dim")
    val k = books.head.length
    require(books.forall(_.length == k), "all codebooks must share one size")
    PqCodes(vec)(ConstArray(books.flatten.flatten), normsSq(books.flatten),
      books.length, k, sub)
  }

  def nearestCentroids(vec: Column, cents: Seq[Seq[Double]], probes: Int): Column = {
    require(cents.nonEmpty, "centroids must be non-empty")
    require(probes >= 0, s"probes must be non-negative, got $probes")
    NearestCentroids(vec)(ConstArray(cents.map(_.toArray)), normsSq(cents), probes)
  }
}
