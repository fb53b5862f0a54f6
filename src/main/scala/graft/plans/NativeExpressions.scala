package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, ElementAt, EvalMode, GenericInternalRow, Literal, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The engine's hottest scalar kernels, as static methods.
 *
 * Spark's higher-order functions (`transform`/`aggregate`/`zip_with`)
 * are interpreted per element — fine for occasional use, but a simhash
 * over token arrays or a 64-dim dot product in a candidate join becomes
 * the per-row inner loop of the whole query. Each kernel is one row of
 * the [[Kernel]] table, whose calls Spark replaces by its own
 * `StaticInvoke` on this object: one static call in generated code,
 * inside whole-stage codegen, with zero per-element boxing/allocation.
 * Plan-time constant tables arrive as [[ConstArray]]s.
 *
 * Semantics are bit-identical to the Column-function formulations they
 * replace (sequential left-fold double accumulation; xxhash64 seed 42),
 * so oracle-checked results do not change.
 */
object Native {

  /** SimHash over a token array: bit i of the signature is the sign of
    * the ±1 votes of bit i across xxhash64(token) values. */
  def simhash(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val s = tokens.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Shannon entropy of the string's code-point distribution on the
    * 1e-9 grid: Σ_c round(−(n_c/L)·ln(n_c/L)·1e9) over distinct code
    * points c (count n_c, total L). Each contribution is a pure
    * function of two longs quantized BEFORE the sum, so the long sum
    * is order-independent and a per-character DuckDB replay lands on
    * the identical integer. Empty string → 0 (no terms). */
  def charEntropy9(s: UTF8String): Long = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, Array[Long]]()
    var i = 0
    var total = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1L)) else slot(0) += 1
      total += 1
      i += Character.charCount(cp)
    }
    var acc = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val n = it.next()(0)
      val p = n.toDouble / total
      acc += Math.round(-p * Math.log(p) * 1e9)
    }
    acc
  }

  /** Polynomial rolling hash over code points:
    * acc = (acc * 31 + codePoint) mod 1e9+7. */
  def rollingHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  /** Lowercased whitespace tokens, empties dropped — the engine's ONE
    * tokenizer ([[graft.ext.TextStats.tokens]] delegates here),
    * bit-identical to `filter(split(lower(text), "\\s+"), len > 0)`:
    * same UTF8String lowering, same Java regex split. The Column
    * formulation pays an INTERPRETED per-element lambda for the
    * empty-string filter — measurable on every tokens-exploding
    * operator — where this is one codegen'd call. */
  def tokensOf(text: UTF8String): ArrayData = {
    val parts = text.toLowerCase.toString.split("\\s+")
    var n = 0
    var i = 0
    while (i < parts.length) { if (parts(i).nonEmpty) n += 1; i += 1 }
    val out = new Array[AnyRef](n)
    var k = 0
    i = 0
    while (i < parts.length) {
      if (parts(i).nonEmpty) { out(k) = UTF8String.fromString(parts(i)); k += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /**
   * scrub_segments(source, text) → (n_segs, n_dropped, clean_text):
   * the stateless boilerplate scrub in ONE pass — tokenize
   * ([[tokensOf]] semantics), cut fixed-width `segTokens` segments,
   * key each as Spark's `xxhash64(source ∥ '\u0001' ∥ segment)`
   * (seed 42 over the concatenated UTF-8 bytes), and keep segments
   * whose key MISSES the sorted flag array — a binary search, O(log F)
   * per segment, where the Column `array_contains(lit(keys), …)`
   * formulation re-scanned the whole literal per segment. Tokenless
   * documents → (0, 0, "").
   */
  def scrubSegments(source: UTF8String, text: UTF8String,
      sortedKeys: ConstArray[Long], segTokens: Int): InternalRow = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    if (n == 0)
      return new GenericInternalRow(
        Array[Any](0L, 0L, UTF8String.fromString("")))
    val srcPrefix = source.toString + "\u0001"
    val nSegs = (n + segTokens - 1) / segTokens
    val kept = new java.lang.StringBuilder
    var dropped = 0L
    var s = 0
    while (s < nSegs) {
      val from = s * segTokens
      val to = math.min(from + segTokens, n)
      val segSb = new java.lang.StringBuilder
      var i = from
      while (i < to) {
        if (i > from) segSb.append(' ')
        segSb.append(toks(i))
        i += 1
      }
      val seg = segSb.toString
      val keyBytes = UTF8String.fromString(srcPrefix + seg)
      val h = XXH64.hashUnsafeBytes(keyBytes.getBaseObject,
        keyBytes.getBaseOffset, keyBytes.numBytes, 42L)
      if (java.util.Arrays.binarySearch(sortedKeys.array, h) >= 0) dropped += 1L
      else {
        if (kept.length > 0) kept.append(' ')
        kept.append(seg)
      }
      s += 1
    }
    new GenericInternalRow(Array[Any](nSegs.toLong, dropped,
      UTF8String.fromString(kept.toString)))
  }

  /**
   * mattr_stats(text, window) → (n_tokens, n_windows, sum_distinct):
   * the MATTR inputs in ONE O(len) pass — a sliding occurrence map
   * gives each window's distinct count incrementally (add the entering
   * token, evict the leaving one, ±1 on the distinct counter), where
   * the Column formulation (`array_distinct(slice(...))` per window)
   * is O(len·window) per document. Tokenization is [[tokensOf]]'s
   * exact semantics. Documents shorter than `window` contribute one
   * whole-document window; empty documents (0, 1, 0).
   */
  def mattrStats(text: UTF8String, window: Int): InternalRow = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    if (n == 0)
      return new GenericInternalRow(Array[Any](0L, 1L, 0L))
    val counts = new java.util.HashMap[String, Array[Int]]()
    var distinct = 0
    var sum = 0L
    var i = 0
    while (i < n) {
      val slot = counts.get(toks(i))
      if (slot == null) { counts.put(toks(i), Array(1)); distinct += 1 }
      else { if (slot(0) == 0) distinct += 1; slot(0) += 1 }
      if (i >= window) {
        val old = counts.get(toks(i - window))
        old(0) -= 1
        if (old(0) == 0) distinct -= 1
      }
      if (i >= window - 1) sum += distinct
      i += 1
    }
    val nw = math.max(n - (window - 1), 1).toLong
    if (n < window) sum = distinct // the single whole-document window
    new GenericInternalRow(Array[Any](n.toLong, nw, sum))
  }

  /** Must equal `graft.ext.TextStats.BpeishPattern` (duplicated so
    * `plans` stays free of `ext` dependencies; pinned by spec). */
  private val QcBpeishRegex = java.util.regex.Pattern
    .compile("[A-Za-z0-9_]+|[^A-Za-z0-9_ \\t\\n\\x0B\\f\\r]")
  private val QcPunctRegex = java.util.regex.Pattern
    .compile("[.,;:!?'\"()\\[\\]{}-]")
  /** Must equal `TextStats.Stopwords` (same duplication rule). */
  private val QcStopwords = Array("the", "a", "and", "of", "to", "in",
    "is", "it", "that", "for")

  /**
   * Fused quality counters — (n_tokens, n_bpeish, n_punct, n_stop) in
   * one pass, bit-identical to the Column formulations they replace:
   * token count over the shared tokenizer; BPE-ish and punctuation
   * counts via the SAME java.util.regex patterns Spark's
   * `regexp_extract_all` compiles (counted, never materialized); and
   * the stopword count via the identical padded length-difference
   * replace trick (non-overlapping left-to-right, code-point lengths —
   * exactly Spark `length`/`replace` semantics). The Column path paid
   * ten full-text replace passes for the stopwords alone.
   */
  def qualityCounts(text: UTF8String): InternalRow = {
    val str = text.toString
    val lowered = text.toLowerCase.toString
    var nTok = 0L
    val parts = lowered.split("\\s+")
    var i = 0
    while (i < parts.length) { if (parts(i).nonEmpty) nTok += 1; i += 1 }
    var nBpe = 0L
    val mb = QcBpeishRegex.matcher(str)
    while (mb.find()) nBpe += 1
    var nPunct = 0L
    val mp = QcPunctRegex.matcher(str)
    while (mp.find()) nPunct += 1
    val padded = " " + lowered + " "
    val paddedCp = padded.codePointCount(0, padded.length).toLong
    var nStop = 0L
    i = 0
    while (i < QcStopwords.length) {
      val needle = " " + QcStopwords(i) + " "
      val replaced = padded.replace(needle, " ")
      nStop += (paddedCp - replaced.codePointCount(0, replaced.length)) /
        (needle.length - 1)
      i += 1
    }
    new GenericInternalRow(Array[Any](nTok, nBpe, nPunct, nStop))
  }

  /** [[rollingHash]] of the whitespace-NORMALIZED lowercase text
    * (tokens re-joined with single spaces) in one pass — bit-identical
    * to `rollingHash(array_join(tokens(text), ' '))`, without the
    * interpreted per-element `filter` lambda that Column-level
    * tokenization pays. */
  def normalizedRollingHash(s: UTF8String): Long = {
    val toks = s.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    var acc = 0L
    var t = 0
    while (t < toks.length) {
      if (t > 0) acc = (acc * 31 + ' '.toInt) % 1000000007L
      val str = toks(t)
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        acc = (acc * 31 + cp) % 1000000007L
        i += Character.charCount(cp)
      }
      t += 1
    }
    acc
  }

  /**
   * Distinct hashed word n-gram shingles in one pass: lowercase,
   * whitespace-tokenize, hash each n-gram by chaining per-word xxhash64
   * values (order-sensitive, so two grams collide iff their word
   * sequences match, modulo 2^-64 hash collisions). Documents shorter
   * than n shingle to their whole token sequence — same contract as
   * [[graft.ext.Dedup.shingles]].
   */
  def hashedShingles(text: UTF8String, n: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val wordHashes = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val b = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      wordHashes(i) = XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      i += 1
    }
    val set = new java.util.LinkedHashSet[java.lang.Long]()
    if (toks.length < n) {
      var h = 42L
      var j = 0
      while (j < toks.length) { h = XXH64.hashLong(wordHashes(j), h); j += 1 }
      set.add(h)
    } else {
      var start = 0
      while (start <= toks.length - n) {
        var h = 42L
        var j = start
        while (j < start + n) { h = XXH64.hashLong(wordHashes(j), h); j += 1 }
        set.add(h)
        start += 1
      }
    }
    val out = new Array[Long](set.size())
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private val Md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Prime modulus of the MinHash affine family — must equal
    * [[graft.ext.Dedup.MinhashPrime]] (2^31-1); duplicated as a literal
    * here so `plans` stays free of `ext` dependencies, pinned by spec. */
  val MinhashPrime: Long = 2147483647L

  /** Seed of the standard affine coefficient family — a plan-time
    * constant shared by batch, streaming, the SQL surface, and the
    * DuckDB oracle ([[graft.ext.Dedup.minhashCoefs]] delegates here). */
  val MinhashCoefSeed: Long = 1234567L

  /** Affine permutation coefficients h_j(x) = (a_j*x + b_j) mod p:
    * a_j in [1, p-1], b_j in [0, p-1] — `nextInt(p)` is exclusive of
    * its bound, so its max draw is p-1, the full residue range mod p. */
  def minhashCoefs(numHashes: Int): (Seq[Long], Seq[Long]) = {
    val r = new scala.util.Random(MinhashCoefSeed)
    val as = Seq.fill(numHashes)(1L + r.nextInt((MinhashPrime - 1).toInt))
    val bs = Seq.fill(numHashes)(r.nextInt(MinhashPrime.toInt).toLong)
    (as, bs)
  }

  /**
   * Fused MinHash signature over word n-gram shingles, bit-identical to
   * the Column-math formulation it replaces (explode word n-grams →
   * `conv(substring(md5(gram),1,15),16,10) % p` → per-permutation
   * `min((a_j*x + b_j) % p)` group-by): lowercase, whitespace-tokenize,
   * build each gram string once, take the md5 prefix as a 60-bit key,
   * and fold all `k` affine mins in one pass — no explode, no shuffle,
   * no per-element interpreted lambdas. Documents shorter than n
   * contribute their whole token sequence as the single gram (matching
   * [[graft.ext.Dedup.gramRows]]'s short branch, including the empty
   * document's "" gram), so every row carries a signature.
   *
   * md5 (not xxhash64) so the value family stays exactly replayable in
   * the DuckDB oracle — the same reason the Column path used it.
   */
  def minhashSignature(text: UTF8String, aConst: ConstArray[Long],
      bConst: ConstArray[Long], n: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val (as, bs) = (aConst.array, bConst.array)
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    val md = Md5Local.get()
    def fold(gram: String): Unit = {
      val dig = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex digits = first 7 bytes + the high nibble of byte 7
      var x = 0L
      var i = 0
      while (i < 7) { x = (x << 8) | (dig(i) & 0xffL); i += 1 }
      x = ((x << 4) | ((dig(7) & 0xffL) >>> 4)) % MinhashPrime
      var j = 0
      while (j < k) {
        val h = (as(j) * x + bs(j)) % MinhashPrime
        if (h < mins(j)) mins(j) = h
        j += 1
      }
    }
    if (toks.length < n) fold(toks.mkString(" "))
    else {
      val sb = new java.lang.StringBuilder
      var start = 0
      while (start <= toks.length - n) {
        sb.setLength(0)
        var j = start
        while (j < start + n) {
          if (j > start) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        fold(sb.toString)
        start += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /**
   * Fused 60-bit md5 SimHash, bit-identical to the Column-math
   * formulation it replaces (explode distinct lowercase whitespace
   * tokens → 60-bit md5-prefix key → 60 per-bit ±1 vote sums → sign
   * bits): tokenize, dedupe, hash and vote in one pass — no explode,
   * no 60-aggregation shuffle. Token-less documents carry signature 0,
   * like the grouped formulation's left-join coalesce. (The xxhash64
   * [[simhash]] above remains the engine-side-only 64-bit variant;
   * this one replays exactly in the DuckDB oracle.)
   */
  def simhashMd5(text: UTF8String): Long = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val seen = new java.util.HashSet[String]()
    val votes = new Array[Int](60)
    val md = Md5Local.get()
    var i = 0
    while (i < toks.length) {
      val tok = toks(i)
      if (seen.add(tok)) {
        val dig = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 15 hex digits = first 7 bytes + high nibble of byte 7
        var x = 0L
        var j = 0
        while (j < 7) { x = (x << 8) | (dig(j) & 0xffL); j += 1 }
        x = (x << 4) | ((dig(7) & 0xffL) >>> 4)
        var b = 0
        while (b < 60) {
          if (((x >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /**
   * Symmetric int8 scalar quantization of a vector: q_i =
   * roundAwayFromZero(x_i · 127 / max|x|) in one pass — the standard
   * 4×-bandwidth-saver for embedding storage/scan at corpus scale.
   * Values are integers in [-127, 127] RETURNED AS DOUBLES so the
   * existing native dot/cosine path applies unchanged (a storage
   * layer would pack them to one byte per dim); per-vector scales
   * cancel in cosine, so similarity over quantized vectors needs no
   * dequantization. All-zero vectors quantize to all zeros. Rounding
   * is floor(y+0.5) / ceil(y−0.5) by sign — plain floor/ceil on
   * doubles, so the DuckDB oracle replays it exactly.
   */
  def quantizeInt8(v: ArrayData, isFloat: Boolean): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val n = v.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val x = math.abs(if (isFloat) v.getFloat(i).toDouble else v.getDouble(i))
      if (x > maxAbs) maxAbs = x
      i += 1
    }
    val out = new Array[Double](n)
    if (maxAbs > 0.0) {
      val scale = 127.0 / maxAbs
      i = 0
      while (i < n) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        val y = x * scale
        out(i) = if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Pre-tokenizer of the BPE counting kernel — the compiled twin of
    * `graft.ext.TextStats.BpeishPattern` (kept textually identical by
    * BpeSpec). */
  private val BpeishRegex =
    java.util.regex.Pattern.compile("[A-Za-z0-9_]+|[^A-Za-z0-9_ \\t\\n\\x0B\\f\\r]")

  /** Per-thread word→count caches, one per merges table (weak-keyed on
    * the merges array identity so dropped plans free their cache).
    * Natural-language corpora repeat words massively; the cache turns
    * the per-word merge loop into a hash probe for all but the first
    * occurrence. Bounded at 2^20 entries per table. */
  private val BpeCaches = new ThreadLocal[
      java.util.WeakHashMap[AnyRef, java.util.HashMap[String, java.lang.Long]]] {
    override def initialValue() = new java.util.WeakHashMap()
  }

  /**
   * Merges-based BPE token count: pre-tokenize with the shared
   * pattern, split each word into code points, apply the merge list
   * sequentially (one left-to-right non-overlapping pass per merge —
   * see `graft.ext.Bpe` for why this equals rank-priority
   * application), count surviving symbols. `mab(k)` is the
   * concatenation `ma(k)+mb(k)`, precomputed so a `contains` probe
   * skips inapplicable merges (symbol adjacency implies substring
   * presence, so the gate is sound).
   */
  def bpeTokenCount(text: UTF8String, maConst: ConstArray[String],
      mbConst: ConstArray[String], mabConst: ConstArray[String]): Long = {
    val (ma, mb, mab) = (maConst.array, mbConst.array, mabConst.array)
    val caches = BpeCaches.get()
    var cache = caches.get(ma)
    if (cache == null) {
      cache = new java.util.HashMap[String, java.lang.Long]()
      caches.put(ma, cache)
    }
    val m = BpeishRegex.matcher(text.toString)
    var total = 0L
    while (m.find()) {
      val w = m.group()
      var c = cache.get(w)
      if (c == null) {
        c = java.lang.Long.valueOf(bpeCountWord(w, ma, mb, mab))
        if (cache.size < (1 << 20)) cache.put(w, c)
      }
      total += c.longValue()
    }
    total
  }

  private def bpeCountWord(w: String, ma: Array[String], mb: Array[String],
      mab: Array[String]): Long =
    bpeSymbolsWord(w, ma, mb, mab).size.toLong

  /** The merges-applied symbol sequence of one pre-token — the count
    * kernel's inner loop factored out so [[bpePieces]] can emit the
    * actual pieces (tokenizer ENCODE output) from the same pass. */
  private def bpeSymbolsWord(w: String, ma: Array[String], mb: Array[String],
      mab: Array[String]): java.util.ArrayList[String] = {
    var i = 0
    var n = 0
    while (i < w.length) { i += Character.charCount(w.codePointAt(i)); n += 1 }
    var syms = new java.util.ArrayList[String](math.max(n, 1))
    if (n <= 1) { syms.add(w); return syms }
    i = 0
    while (i < w.length) {
      val cc = Character.charCount(w.codePointAt(i))
      syms.add(w.substring(i, i + cc))
      i += cc
    }
    var k = 0
    while (k < ma.length && syms.size > 1) {
      if (w.contains(mab(k))) {
        val out = new java.util.ArrayList[String](syms.size)
        var j = 0
        while (j < syms.size) {
          if (j + 1 < syms.size && syms.get(j) == ma(k) && syms.get(j + 1) == mb(k)) {
            out.add(mab(k)); j += 2
          } else { out.add(syms.get(j)); j += 1 }
        }
        syms = out
      }
      k += 1
    }
    syms
  }

  /** Merges-applied subword pieces of a single pre-token (ENCODE
    * output as strings; ids are a dictionary lookup away). Same merge
    * application as the count kernel by construction. */
  def bpePieces(word: UTF8String, ma: ConstArray[String],
      mb: ConstArray[String], mab: ConstArray[String]): ArrayData = {
    val syms = bpeSymbolsWord(word.toString, ma.array, mb.array, mab.array)
    val out = new Array[AnyRef](syms.size)
    var j = 0
    while (j < syms.size) { out(j) = UTF8String.fromString(syms.get(j)); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /**
   * Positional (non-distinct) character-trigram hashes of the
   * lowercased text in one pass — the fused replacement for
   * `langIdTrigram`'s split("")-slice-zip-concat formulation, which
   * allocated a per-character array plus three slice copies per row.
   * Hash family is IDENTICAL to `xxhash64(concat(c0, c1, c2))`: the
   * UTF-8 bytes of the 3-code-point window, seed 42 (spec-pinned
   * equivalence), so profiles, scores, and the oracle argument are
   * unchanged. Fewer than 3 code points → empty array (explode then
   * drops the row — the old `where(size >= 3)` gate).
   */
  def charTrigramHashes(text: UTF8String): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val s = text.toLowerCase.toString
    // code point start offsets (UTF-16 indices)
    val starts = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < s.length) {
      starts.add(i)
      i += Character.charCount(s.codePointAt(i))
    }
    val n = starts.size()
    if (n < 3) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val out = new Array[Long](n - 2)
    var k = 0
    while (k < n - 2) {
      val from: Int = starts.get(k)
      val until: Int = if (k + 3 < n) starts.get(k + 3) else s.length
      val b = s.substring(from, until)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out(k) = XXH64.hashUnsafeBytes(b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /**
   * Per-document Gopher gram statistics in ONE pass — the fused
   * replacement for [[graft.ext.TextStats.gopherRules]]' two
   * explode→group aggregations (per-doc stats need no cross-row state,
   * so the shuffles were pure overhead): lowercase whitespace tokens,
   * count word bigrams and 5-grams in doc-local hash maps, and return
   * `(top2_cnt, top2_len, dup5_chars)` — the most frequent bigram's
   * count and character length (ties toward the binary-smallest gram,
   * matching `min(struct(-c, gram))` and the oracle's
   * `ORDER BY c DESC, gram`; byte-wise UTF-8 comparison, which is
   * code-point order — Java String compareTo would differ on
   * supplementary planes), and Σ count × length over repeated
   * 5-grams. Lengths are code-point counts, matching `length()` in
   * both engines. Fewer than 2 tokens → (0, 0, 0); the zero count
   * replays the old left-join's NULL-coalesce exactly.
   */
  /**
   * Fused DSIR hashed bag-of-n-grams scoring, bit-identical to the
   * DataFrame formulation it replaces (explode unigrams+bigrams →
   * 60-bit md5 prefix % buckets → broadcast-join the per-bucket 1e-9
   * grid log ratios → per-doc long sum): lowercase, whitespace-
   * tokenize, hash every unigram and space-joined bigram, and
   * accumulate `lr9(bucket)` in one pass — no explode, no join, no
   * shuffle, which is what makes the scorer a STATELESS projection
   * usable unchanged on a stream at ingest. `lr9` is the dense
   * per-bucket table ([[graft.ext.Corpus.dsirRatioTable]]); its length
   * is the bucket count. Returns (n_feats, s9); token-less documents
   * return (0, 0).
   *
   * md5 (not xxhash64) so the bucket family replays exactly in the
   * DuckDB oracle — same rationale as [[minhashSignature]].
   */
  def dsirScore(text: UTF8String, lr9Const: ConstArray[Long]): InternalRow = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val lr9 = lr9Const.array
    val buckets = lr9.length
    var n = 0L
    var s9 = 0L
    val md = Md5Local.get()
    def add(gram: String): Unit = {
      val dig = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var x = 0L
      var i = 0
      while (i < 7) { x = (x << 8) | (dig(i) & 0xffL); i += 1 }
      x = ((x << 4) | ((dig(7) & 0xffL) >>> 4)) % buckets
      s9 += lr9(x.toInt)
      n += 1L
    }
    var i = 0
    while (i < toks.length) {
      add(toks(i))
      if (i + 1 < toks.length) add(toks(i) + " " + toks(i + 1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, s9))
  }

  /**
   * Fused language-ID scorer: per-document trigram count and quantized
   * per-language log-probability sums in ONE pass over the text — the
   * serving-side replacement for `scoreLangId`'s explode → broadcast
   * join → 5-column rollup subtree (same shape rationale as
   * [[dsirScore]]: per-doc scores need no cross-row state, so the
   * explode's shuffle is pure overhead). The per-gram contribution of
   * every PROFILED trigram is precomputed (in Spark, from the persisted
   * profile — see `TextStats.scoreLangIdFused`) into a sorted key table
   * + flattened per-language longs; unprofiled grams take the shared
   * `miss` row (the Laplace background term). Trigram hashing is
   * [[charTrigramHashes]] — the identical family the profile was built
   * with.
   */
  def langIdScore(text: UTF8String, keysConst: ConstArray[Long],
      contribsConst: ConstArray[Long], missConst: ConstArray[Long]): InternalRow = {
    val (keys, contribs, miss) = (keysConst.array, contribsConst.array, missConst.array)
    val nLangs = miss.length
    val sums = new Array[Long](nLangs)
    val hashes = charTrigramHashes(text)
    val m = hashes.numElements()
    var i = 0
    while (i < m) {
      val idx = java.util.Arrays.binarySearch(keys, hashes.getLong(i))
      if (idx >= 0) {
        val base = idx * nLangs
        var l = 0
        while (l < nLangs) { sums(l) += contribs(base + l); l += 1 }
      } else {
        var l = 0
        while (l < nLangs) { sums(l) += miss(l); l += 1 }
      }
      i += 1
    }
    val out = new Array[Any](nLangs + 1)
    out(0) = m.toLong
    var l = 0
    while (l < nLangs) { out(l + 1) = sums(l); l += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  def gopherGramStats(text: UTF8String): InternalRow = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    var top2Cnt = 0L
    var top2Gram: String = null
    var dup5 = 0L
    def binaryLt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      x.length < y.length
    }
    def gramCounts(n: Int): java.util.HashMap[String, Long] = {
      val m = new java.util.HashMap[String, Long]()
      var i = 0
      while (i <= toks.length - n) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = i + 1
        while (j < i + n) { sb.append(' ').append(toks(j)); j += 1 }
        val g = sb.toString
        m.put(g, m.getOrDefault(g, 0L) + 1L)
        i += 1
      }
      m
    }
    if (toks.length >= 2) {
      val it = gramCounts(2).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue > top2Cnt ||
            (e.getValue == top2Cnt && top2Gram != null &&
              binaryLt(e.getKey, top2Gram))) {
          top2Cnt = e.getValue
          top2Gram = e.getKey
        }
      }
    }
    if (toks.length >= 5) {
      val it = gramCounts(5).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue > 1L)
          dup5 += e.getValue * UTF8String.fromString(e.getKey).numChars()
      }
    }
    val top2Len =
      if (top2Gram == null) 0L
      else UTF8String.fromString(top2Gram).numChars().toLong
    new GenericInternalRow(Array[Any](top2Cnt, top2Len, dup5))
  }

  /** Sequential-fold dot product; floats widened to double per element
    * (matches `aggregate(zip_with(...))` exactly, bit for bit). Null when
    * the lengths differ, as `zip_with` null-pads the shorter side and
    * poisons the sum: a silently truncated dot product would hide data
    * corruption. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Loads the first `xs.length` elements of `v` into `xs` as doubles —
    * the vector input of [[pqCodes]] and [[LloydPartial]]. With
    * `normalize` each element is divided by the L2 norm of the whole of
    * `v` (the left fold of [[dot]]) and a zero vector loads as zeros;
    * the norm is returned (1.0 unnormalized). A null element loads as
    * 0.0, as [[dot]] reads it, and is flagged in `nulls` when given. A
    * vector shorter than `xs` fails with Spark's `element_at` index
    * error when `strict`; otherwise its missing elements load as nulls,
    * as non-ANSI `element_at` reads them. */
  def loadVector(v: ArrayData, isFloat: Boolean, normalize: Boolean,
      strict: Boolean, xs: Array[Double], nulls: Array[Boolean]): Double = {
    def at(i: Int): Double =
      if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
    val n = v.numElements()
    if (strict && n < xs.length)
      elementAtError(v, if (isFloat) FloatType else DoubleType, n + 1)
    var nrm = 1.0
    if (normalize) {
      var ss = 0.0
      var i = 0
      while (i < n) { val x = at(i); ss += x * x; i += 1 }
      nrm = math.sqrt(ss)
    }
    var i = 0
    while (i < xs.length) {
      val missing = i >= n || v.isNullAt(i)
      if (nulls != null) nulls(i) = missing
      xs(i) =
        if (missing || nrm == 0.0) 0.0
        else if (normalize) at(i) / nrm
        else at(i)
      i += 1
    }
    nrm
  }

  /** Each of the `m` subspaces' nearest sub-centroid code of the loaded
    * vector `xs` into `codes`: squared L2 as `‖c‖² − 2·x·c` over the
    * flattened codebooks `flat` (`m·k` centroids of `sub` doubles),
    * argmin by (distance, code) under java.lang.Double order — exactly
    * the `least(struct(d, cid))` choice. A zero vector (`zero`) has
    * zero dots. */
  def pqArgmin(xs: Array[Double], zero: Boolean, flat: Array[Double],
      normSq: Array[Double], m: Int, k: Int, sub: Int, codes: Array[Int]): Unit = {
    var s = 0
    while (s < m) {
      var bestD = 0.0
      var bestJ = -1
      var j = 0
      while (j < k) {
        var acc = 0.0
        if (!zero) {
          val base = (s * k + j) * sub
          var t = 0
          while (t < sub) { acc += xs(s * sub + t) * flat(base + t); t += 1 }
        }
        val d = normSq(s * k + j) - 2.0 * acc
        if (bestJ < 0 || java.lang.Double.compare(d, bestD) < 0) {
          bestD = d; bestJ = j
        }
        j += 1
      }
      codes(s) = bestJ
      s += 1
    }
  }

  /** All `m` PQ sub-centroid codes of one vector in a single pass —
    * the [[graft.ext.Similarity.pqEncode]] kernel over the flattened
    * codebooks `flat` (`m·k` centroids of `sub` doubles, their ‖c‖² in
    * `normSq`). The input is L2-normalized on the fly
    * (per-element `x/nrm` BEFORE the product, matching the oracle's
    * `vn[i]*cv[i]` fold bit for bit; zero vectors contribute zero
    * dots), then [[pqArgmin]] picks each code. A vector shorter than
    * `m·sub` fails with Spark's index error. */
  def pqCodes(v: ArrayData, isFloat: Boolean, flat: ConstArray[Double],
      normSq: ConstArray[Double], m: Int, k: Int, sub: Int): ArrayData = {
    val xs = new Array[Double](m * sub)
    val nrm = loadVector(v, isFloat, normalize = true, strict = true, xs, null)
    val codes = new Array[Int](m)
    pqArgmin(xs, nrm == 0.0, flat.array, normSq.array, m, k, sub, codes)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  /** The nearest-centroid rule of IVF training, assignment and probing:
    * the first `probes` centroid ids of `v` by squared L2 as
    * `‖c‖² − 2·v·c` (the [[dot]] fold), ascending under java.lang.Double
    * order, ties to the smaller id. A centroid whose length differs from
    * `v`'s has a null distance, as [[dot]] gives, and null
    * sorts first — so a null `v` gets `[0, 1, …]`. A distance is never
    * −0.0 (`‖c‖²` is a `+0.0`-based sum), so this order equals Spark's
    * SQL order of the same `(d, id)` structs. */
  def nearestIds(v: ArrayData, isFloat: Boolean, cents: Array[Array[Double]],
      normSq: Array[Double], probes: Int): Array[Int] = {
    val k = cents.length
    val n = if (v == null) -1 else v.numElements()
    val d = new Array[Double](k)
    val known = new Array[Boolean](k)
    var j = 0
    while (j < k) {
      val c = cents(j)
      if (c.length == n) {
        var acc = 0.0
        var i = 0
        while (i < n) {
          acc += (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) * c(i)
          i += 1
        }
        d(j) = normSq(j) - 2.0 * acc
        known(j) = true
      }
      j += 1
    }
    val out = new Array[Int](math.min(probes, k))
    val taken = new Array[Boolean](k)
    var p = 0
    while (p < out.length) {
      var best = -1
      j = 0
      while (j < k) {
        if (!taken(j) && (best < 0 ||
            (if (!known(j)) known(best)
             else known(best) && java.lang.Double.compare(d(j), d(best)) < 0)))
          best = j
        j += 1
      }
      taken(best) = true
      out(p) = best
      p += 1
    }
    out
  }

  /** [[nearestIds]] as an `array<int>`. */
  def nearestCentroids(v: ArrayData, isFloat: Boolean,
      cents: ConstArray[Array[Double]], normSq: ConstArray[Double],
      probes: Int): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      nearestIds(v, isFloat, cents.array, normSq.array, probes))

  /** `round(x * 1e9)` cast to bigint — the 1e-9 grid of the k-means
    * means, as Spark evaluates it. `Round` rounds HALF_UP on the
    * double's shortest decimal form (`BigDecimal.valueOf`); off an
    * exact .5 tie that form and the binary value round alike, so only a
    * tie takes the BigDecimal path. NaN, ±Infinity and values past the
    * bigint range fail with Spark's cast overflow error under `ansi`,
    * and cast as Spark's non-ANSI cast does otherwise. */
  def gridNanos(x: Double, ansi: Boolean): Long = {
    val y = x * 1e9
    val r =
      if (!java.lang.Double.isFinite(y)) y
      else {
        val f = math.floor(y)
        val frac = y - f
        if (frac < 0.5) f
        else if (frac > 0.5) f + 1.0
        else java.math.BigDecimal.valueOf(y)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
      }
    if (ansi && !(math.floor(r) <= Long.MaxValue.toDouble &&
        math.ceil(r) >= Long.MinValue.toDouble))
      Cast(Literal(r), LongType, None, EvalMode.ANSI).eval()
    r.toLong
  }

  /** Throws what `element_at(v, index)` throws under ANSI. */
  private def elementAtError(v: ArrayData, elementType: DataType, index: Int): Nothing = {
    ElementAt(Literal(v.copy(), ArrayType(elementType)), Literal(index),
      None, failOnError = true).eval()
    throw new IllegalStateException(s"element_at($index) did not fail")
  }

  /**
   * One partition's share of a Lloyd pass of [[graft.ext.Similarity]]'s
   * k-means, fused over the raw vector: `books` holds `m` codebooks of
   * `k` centroids, each over a `sub`-wide slice of the first `m·sub`
   * elements. [[add]] assigns a vector and adds its 1e-9 grid values
   * ([[gridNanos]]) to its cells' long sums.
   *
   *  - `normalize` (PQ): each subspace takes its [[pqArgmin]] code of
   *    the L2-normalized vector, and the normalized values are summed.
   *  - otherwise (IVF, `m = 1`): the cell is [[nearestIds]]'s first id
   *    of the raw vector.
   *
   * A null element adds nothing to its sum, but its row still counts
   * (`n`). A vector shorter than `m·sub` fails with Spark's index error
   * under `ansi`, and reads its missing elements as nulls otherwise.
   */
  final class LloydPartial(books: Array[Array[Array[Double]]], sub: Int,
      isFloat: Boolean, normalize: Boolean, ansi: Boolean) {
    private val m = books.length
    private val k = books.head.length
    private val cents = books.flatten
    private val normSq = cents.map(c => c.map(x => x * x).sum)
    private val flat = if (normalize) cents.flatten else null
    private val xs = new Array[Double](m * sub)
    private val nulls = new Array[Boolean](m * sub)
    private val codes = new Array[Int](m)
    /** Long sums on the 1e-9 grid, by (subspace, cell, element). */
    val sums = new Array[Long](m * k * sub)
    /** Rows per (subspace, cell). */
    val n = new Array[Long](m * k)

    def add(v: ArrayData): Unit = {
      val nrm = loadVector(v, isFloat, normalize, ansi, xs, nulls)
      if (normalize) pqArgmin(xs, nrm == 0.0, flat, normSq, m, k, sub, codes)
      else codes(0) = nearestIds(v, isFloat, cents, normSq, 1)(0)
      var s = 0
      while (s < m) {
        val cell = s * k + codes(s)
        n(cell) += 1L
        var p = 0
        while (p < sub) {
          val i = s * sub + p
          if (!nulls(i)) sums(cell * sub + p) += gridNanos(xs(i), ansi)
          p += 1
        }
        s += 1
      }
    }
  }

  /** 60-bit md5-prefix key of `s` in [0, p) — the [[graft.ext.Dedup.md5Key]]
    * family (`('0x' || substr(md5(s),1,15))::BIGINT % p` in the oracle),
    * shared by every kernel whose selection must replay in DuckDB. */
  private def md5PrefixKey(md: java.security.MessageDigest, s: String): Long = {
    val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var x = 0L
    var i = 0
    while (i < 7) { x = (x << 8) | (dig(i) & 0xffL); i += 1 }
    ((x << 4) | ((dig(7) & 0xffL) >>> 4)) % MinhashPrime
  }

  /**
   * Fused winnowing fingerprint selection (Schleimer et al.'s MOSS
   * scheme), bit-identical to the positional-gram + per-document
   * sliding-window-min Column formulation it replaces
   * ([[graft.ext.Dedup.winnowFingerprintsWindowed]]): lowercase
   * whitespace tokens, word `n`-grams (documents shorter than `n`
   * contribute their whole token sequence — including the empty
   * document's "" gram), 60-bit md5-prefix keys mod p, minimum over
   * each window of `window` consecutive gram hashes, one fingerprint
   * per FULL window (a document with fewer grams than `window` keeps
   * its single all-grams minimum), distinct.
   *
   * The Column formulation paid a positional-gram Generate plus a
   * per-document window sort — a full (id, pos, hash) shuffle for what
   * is per-row-local math. This kernel selects the identical
   * fingerprint set in one codegen'd projection: the only shuffle left
   * in a winnowing query is whatever its CONSUMER does with the
   * fingerprints.
   */
  def winnowFps(text: UTF8String, n: Int, window: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val md = Md5Local.get()
    val m = if (toks.length < n) 1 else toks.length - n + 1
    val hs = new Array[Long](m)
    if (toks.length < n) hs(0) = md5PrefixKey(md, toks.mkString(" "))
    else {
      val sb = new java.lang.StringBuilder
      var start = 0
      while (start < m) {
        sb.setLength(0)
        var j = start
        while (j < start + n) {
          if (j > start) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        hs(start) = md5PrefixKey(md, sb.toString)
        start += 1
      }
    }
    val set = new java.util.LinkedHashSet[java.lang.Long]()
    val last = math.max(m - window, 0)
    var pos = 0
    while (pos <= last) {
      var mn = Long.MaxValue
      var j = pos
      val end = math.min(pos + window, m)
      while (j < end) { if (hs(j) < mn) mn = hs(j); j += 1 }
      set.add(mn)
      pos += 1
    }
    val out = new Array[Long](set.size())
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /**
   * Content-defined chunking (the FastCDC/rsync family, over word
   * tokens): a token CLOSES a chunk when its 60-bit md5-prefix key is
   * ≡ 0 mod `boundaryMod`; the final partial chunk closes at document
   * end. Because boundaries depend only on token content, an identical
   * run of tokens chunks identically at ANY offset in any document —
   * the shift-resistance fixed-stride segmentation lacks, and the
   * reason storage dedup uses CDC. Expected chunk length ≈
   * `boundaryMod` tokens. Token-less documents return no chunks.
   *
   * One pass, no explode until the caller explodes chunk rows; the
   * boundary family is md5 so the chunking replays exactly in DuckDB.
   */
  def cdcChunks(text: UTF8String, boundaryMod: Int): ArrayData = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val md = Md5Local.get()
    val chunks = new java.util.ArrayList[UTF8String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < toks.length) {
      if (sb.length() > 0) sb.append(' ')
      sb.append(toks(i))
      if (md5PrefixKey(md, toks(i)) % boundaryMod == 0L) {
        chunks.add(UTF8String.fromString(sb.toString))
        sb.setLength(0)
      }
      i += 1
    }
    if (sb.length() > 0) chunks.add(UTF8String.fromString(sb.toString))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      chunks.toArray(new Array[AnyRef](chunks.size())))
  }

  /**
   * Fused Naive Bayes prediction — the serving-side twin of
   * [[langIdScore]] over WORD tokens: every profiled token's
   * per-label 1e-9-grid log-likelihood contribution is precomputed
   * (in Spark, from the training counts — see
   * `TextStats.naiveBayesFused`) into a sorted md5-prefix key table +
   * flattened per-label longs; unprofiled tokens take the shared
   * `miss` row (the Laplace unseen-token term). Scores start from the
   * per-label `prior` row, and the argmax resolves INSIDE the kernel:
   * ascending scan with strict `>`, so ties keep the earliest — i.e.
   * lexicographically smallest — label (labels arrive sorted).
   * Returns (n_tokens, best_idx, best_lp9); the caller filters
   * token-less documents (n_tokens = 0), which have no likelihood
   * positions.
   *
   * `hashMod > 0` folds tokens into `hashMod` buckets before lookup —
   * the fastText hashing-trick vocabulary: at web scale the exact
   * vocabulary table is unbounded, the bucketed one is `hashMod ×
   * labels` longs by construction.
   */
  def nbPredict(text: UTF8String, keysConst: ConstArray[Long],
      contribsConst: ConstArray[Long], missConst: ConstArray[Long],
      priorConst: ConstArray[Long], hashMod: Int): InternalRow = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val (keys, contribs, miss) = (keysConst.array, contribsConst.array, missConst.array)
    val nL = miss.length
    val sums = priorConst.array.clone()
    val md = Md5Local.get()
    var i = 0
    while (i < toks.length) {
      val k0 = md5PrefixKey(md, toks(i))
      val k = if (hashMod > 0) k0 % hashMod else k0
      val idx = java.util.Arrays.binarySearch(keys, k)
      if (idx >= 0) {
        val base = idx * nL
        var l = 0
        while (l < nL) { sums(l) += contribs(base + l); l += 1 }
      } else {
        var l = 0
        while (l < nL) { sums(l) += miss(l); l += 1 }
      }
      i += 1
    }
    var best = 0
    var l = 1
    while (l < nL) { if (sums(l) > sums(best)) best = l; l += 1 }
    // runner-up score (the confidence-margin denominator): max over
    // the non-best labels; a single-label model reports its own score
    // (margin 0)
    var second = if (best == 0 && nL > 1) 1 else 0
    l = 0
    while (l < nL) {
      if (l != best && sums(l) > sums(second)) second = l
      l += 1
    }
    new GenericInternalRow(
      Array[Any](toks.length.toLong, best, sums(best), sums(second)))
  }

  /**
   * Fused worst-window scan — the serving-side twin of
   * `TextStats.worstWindowWindowed`'s join + per-document rolling
   * window: every profiled token's 1e-9-grid unigram log-prob is a
   * precomputed sorted key table (built BY Spark expressions from the
   * corpus counts); the kernel walks the document once, keeps the
   * (position, lp9) pairs of FOUND tokens (an unprofiled token is
   * skipped, exactly like the windowed formulation's inner join drops
   * its row), rolls a `window`-row sum over them, and argmins with
   * strict `<` in ascending end order — earliest start wins ties,
   * matching `min(struct(roll9, pos))`. Returns (n_tokens, n_found,
   * worst_start, worst_roll9); the caller nulls the worst fields when
   * n_found < window (the windowed formulation's full-window gate).
   */
  def worstWindow(text: UTF8String, keysConst: ConstArray[Long],
      lp9Const: ConstArray[Long], window: Int): InternalRow = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val (keys, lp9) = (keysConst.array, lp9Const.array)
    val md = Md5Local.get()
    val posArr = new Array[Int](toks.length)
    val lpArr = new Array[Long](toks.length)
    var m = 0
    var i = 0
    while (i < toks.length) {
      val idx = java.util.Arrays.binarySearch(keys, md5PrefixKey(md, toks(i)))
      if (idx >= 0) { posArr(m) = i; lpArr(m) = lp9(idx); m += 1 }
      i += 1
    }
    var bestRoll = Long.MaxValue
    var bestEnd = -1
    if (m >= window) {
      var s = 0L
      var j = 0
      while (j < m) {
        s += lpArr(j)
        if (j >= window) s -= lpArr(j - window)
        if (j >= window - 1 && s < bestRoll) { bestRoll = s; bestEnd = posArr(j) }
        j += 1
      }
    }
    new GenericInternalRow(Array[Any](toks.length.toLong, m.toLong,
      if (bestEnd >= 0) bestEnd.toLong - (window - 1) else -1L,
      if (bestEnd >= 0) bestRoll else 0L))
  }

  /**
   * Feature-hashing (hashing-trick) vectorizer statistics: tokens hash
   * into `dims` buckets via the 60-bit md5-prefix key mod `dims`, and
   * the per-document count vector is summarized in the same pass —
   * (nnz, ‖v‖² as an exact integer, max count, argmax dim with
   * min-dim tie-break). The summary stays all-integer so it replays
   * exactly in the oracle; token-less documents return (0, 0, 0, -1).
   *
   * This is the stateless projection shape of [[dsirScore]]: the full
   * hashed vector never materializes, no explode, no shuffle — the
   * kernel is usable unchanged at ingest on a stream.
   */
  def hashFeatureStats(text: UTF8String, dims: Int): InternalRow = {
    val toks = text.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val md = Md5Local.get()
    val counts = new Array[Long](dims)
    var i = 0
    while (i < toks.length) {
      counts((md5PrefixKey(md, toks(i)) % dims).toInt) += 1L
      i += 1
    }
    var nnz = 0L
    var normSq = 0L
    var maxCount = 0L
    var argmax = -1
    var d = 0
    while (d < dims) {
      val c = counts(d)
      if (c > 0L) {
        nnz += 1L
        normSq += c * c
        if (c > maxCount) { maxCount = c; argmax = d }
      }
      d += 1
    }
    new GenericInternalRow(Array[Any](nnz, normSq, maxCount, argmax))
  }

  /** End index (exclusive, past the `;`) of a numeric character
    * reference starting at `i` (`str(i) == '&'`), or -1 when the
    * shape doesn't match — exactly the
    * `&#([0-9]{1,7}|[xX][0-9a-fA-F]{1,6});` regex: a (cap+1)-th digit
    * before the `;` fails the whole match (greedy backtracking can
    * never succeed on a shorter prefix, the next char is a digit). */
  private def numRefEnd(str: String, i: Int): Int = {
    val n = str.length
    if (i + 1 >= n || str.charAt(i + 1) != '#') return -1
    var j = i + 2
    val hex = j < n && (str.charAt(j) == 'x' || str.charAt(j) == 'X')
    if (hex) j += 1
    val ds = j
    val cap = if (hex) 6 else 7
    while (j < n && (j - ds) <= cap && {
      val c = str.charAt(j)
      if (hex) (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
        (c >= 'A' && c <= 'F')
      else c >= '0' && c <= '9'
    }) j += 1
    val k = j - ds
    if (k < 1 || k > cap || j >= n || str.charAt(j) != ';') -1 else j + 1
  }

  /**
   * decode_entities(string) → string: the full HTML entity decode in
   * ONE native pass per phase — phase A (the named non-amp entities
   * `&lt;` `&gt;` `&quot;`) and phase B (numeric character references,
   * decimal `&#NN;` / hex `&#xNN;`, out-of-range and surrogate
   * codepoints staying literal) fuse into a single scan (their matches
   * are provably disjoint over the raw text and their outputs
   * `<` `>` `"` / decoded codepoints can never create a new A/B
   * match), then phase C (`&amp;` → `&`) scans the materialized A+B
   * OUTPUT — exactly where the Column `regexp_replace` runs, so
   * cross-boundary matches (a decoded `&#38;` followed by literal
   * `amp;`) behave identically. Bit-identical to the retained Column
   * formulation `graft.ext.Html.decodeEntitiesColumn` — pinned by
   * HtmlSpec's equality property. The interpreted-HOF version this
   * replaces (`transform`+`zip_with` per ref) was the engine's one
   * real r17 per-query cost (x_html_text 0.43→1.7 s).
   */
  def decodeEntities(s: UTF8String): UTF8String = {
    val str = s.toString
    val n = str.length
    if (str.indexOf('&') < 0) return s // fast path: nothing to decode
    val ab = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c != '&') { ab.append(c); i += 1 }
      else if (str.startsWith("&lt;", i)) { ab.append('<'); i += 4 }
      else if (str.startsWith("&gt;", i)) { ab.append('>'); i += 4 }
      else if (str.startsWith("&quot;", i)) { ab.append('"'); i += 6 }
      else {
        val end = numRefEnd(str, i)
        if (end < 0) { ab.append('&'); i += 1 }
        else {
          val hex = str.charAt(i + 2) == 'x' || str.charAt(i + 2) == 'X'
          val cp = java.lang.Long.parseLong(
            str.substring(if (hex) i + 3 else i + 2, end - 1),
            if (hex) 16 else 10)
          if (cp > 0L && cp <= 0x10FFFFL && !(cp >= 0xD800L && cp <= 0xDFFFL))
            ab.appendCodePoint(cp.toInt)
          else ab.append(str, i, end) // forbidden range: stays literal
          i = end
        }
      }
    }
    // phase C over the phase-A+B output (non-overlapping left-to-right,
    // continuing AFTER each replacement — regexp_replace semantics)
    val m = ab.length
    val out = new java.lang.StringBuilder(m)
    var j = 0
    while (j < m) {
      if (ab.charAt(j) == '&' && j + 5 <= m && ab.charAt(j + 1) == 'a' &&
          ab.charAt(j + 2) == 'm' && ab.charAt(j + 3) == 'p' &&
          ab.charAt(j + 4) == ';') {
        out.append('&'); j += 5
      } else { out.append(ab.charAt(j)); j += 1 }
    }
    UTF8String.fromString(out.toString)
  }

  /**
   * remove_dot_segments(path) → path: RFC 3986 §5.2.4 over a ROOTED
   * path (`/a/./b/../c`) — split on `/`, a `.` segment drops, a `..`
   * segment pops (never past the root marker, the leading empty
   * segment), a trailing `.`/`..` leaves the directory form (trailing
   * `/`). Bit-identical to the retained Column fold
   * (`graft.ext.Html.removeDotSegmentsColumn`) — pinned by HtmlSpec.
   * One native call keeps [[graft.ext.Html.resolveHref]]'s per-link
   * projection inside whole-stage codegen where the `aggregate` HOF
   * formulation interprets per segment.
   */
  def removeDotSegments(path: UTF8String): UTF8String = {
    val str = path.toString
    val segs = str.split("/", -1)
    val stack = new Array[String](segs.length)
    var top = 0
    var i = 0
    while (i < segs.length) {
      val s = segs(i)
      if (s == ".") ()
      else if (s == "..") { if (top > 1) top -= 1 }
      else { stack(top) = s; top += 1 }
      i += 1
    }
    val sb = new java.lang.StringBuilder(str.length)
    var k = 0
    while (k < top) { if (k > 0) sb.append('/'); sb.append(stack(k)); k += 1 }
    val last = segs(segs.length - 1)
    if (last == "." || last == "..") sb.append('/')
    UTF8String.fromString(sb.toString)
  }

  /** Index of the `:` closing a leading URI scheme
    * (`^[A-Za-z][A-Za-z0-9+.-]*:`), or -1. */
  private def schemeEnd(s: String): Int = {
    if (s.isEmpty) return -1
    val c0 = s.charAt(0)
    if (!((c0 >= 'A' && c0 <= 'Z') || (c0 >= 'a' && c0 <= 'z'))) return -1
    var i = 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ':') return i
      val ok = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
      if (!ok) return -1
      i += 1
    }
    -1
  }

  /** End index of `^scheme://[^/?#]*` (the scheme+authority prefix),
    * or -1 when the string is not hierarchical. */
  private def prefixEnd(s: String): Int = {
    val se = schemeEnd(s)
    if (se < 0 || !s.startsWith("://", se)) return -1
    var i = se + 3
    while (i < s.length && {
      val c = s.charAt(i); c != '/' && c != '?' && c != '#'
    }) i += 1
    i
  }

  /** End index of the path run (`[^?#]*`) starting at `from`. */
  private def pathEnd(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && { val c = s.charAt(i); c != '?' && c != '#' }) i += 1
    i
  }

  /**
   * resolve_href(base, href) → string: the RFC 3986 §5.2 reference
   * merge as ONE native call — scheme'd refs pass through,
   * `//authority` adopts the base scheme, `/rooted` adopts
   * scheme+authority, `?`/`#` refs replace query/fragment, empty is
   * the base, everything else merges onto the base path directory;
   * the resolved hierarchical path then gets [[removeDotSegments]].
   * Bit-identical to the retained Column formulation
   * (`graft.ext.Html.resolveHrefColumn`) — pinned by HtmlSpec over a
   * base×ref matrix. The Column version evaluates the heavy
   * `regexp_extract` subtrees several times per link (the frontier's
   * per-link inner loop); this is one scan-based call inside
   * whole-stage codegen.
   */
  def resolveHref(base: UTF8String, href: UTF8String): UTF8String = {
    val b = base.toString
    val h = href.toString
    val bpe = prefixEnd(b)
    val basePrefix = if (bpe < 0) "" else b.substring(0, bpe)
    val basePath = if (bpe < 0) "" else b.substring(bpe, pathEnd(b, bpe))
    // base minus fragment / minus query+fragment (RFC 3986 §5.3: an
    // empty ref keeps the base query but drops its fragment; a `#`
    // ref replaces only the fragment; a `?` ref replaces both)
    def noFrag(s: String): String = {
      val f = s.indexOf('#'); if (f < 0) s else s.substring(0, f)
    }
    def noQf(s: String): String = {
      val q = s.indexOf('?'); val f = s.indexOf('#')
      val cut = if (q < 0) f else if (f < 0) q else math.min(q, f)
      if (cut < 0) s else s.substring(0, cut)
    }
    val abs: String =
      if (schemeEnd(h) >= 0) h
      else if (h.startsWith("//")) {
        val se = schemeEnd(b)
        (if (se < 0) "" else b.substring(0, se)) + ":" + h
      } else if (h.startsWith("/")) basePrefix + h
      else if (h.isEmpty) noFrag(b)
      else if (h.startsWith("?")) noQf(b) + h
      else if (h.startsWith("#")) noFrag(b) + h
      else {
        val dir =
          if (basePath.isEmpty) "/"
          else basePath.substring(0, basePath.lastIndexOf('/') + 1)
        basePrefix + dir + h
      }
    val ape = prefixEnd(abs)
    if (ape < 0) return UTF8String.fromString(abs) // non-hierarchical
    val apEnd = pathEnd(abs, ape)
    if (apEnd == ape) return UTF8String.fromString(abs) // no path
    val resolved = removeDotSegments(
      UTF8String.fromString(abs.substring(ape, apEnd))).toString
    UTF8String.fromString(
      abs.substring(0, ape) + resolved + abs.substring(apEnd))
  }

  /** One deterministic gzip member (RFC 1952; Java's fixed header —
    * MTIME 0, XFL 0, OS 0) holding exactly `bytes`: the per-record
    * unit of real WARC compression and the `Content-Encoding: gzip`
    * body codec. Same output bytes on every engine/partition/retry
    * (fixed deflate level), so gzip-valued columns stay
    * oracle-constructible. */
  def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes)
    gz.close()
    bos.toByteArray
  }

  /**
   * Inflate a concatenation of gzip members MEMBER BY MEMBER (RFC
   * 1952 framing walked explicitly), validating each member's header,
   * CRC32, and ISIZE and requiring the members to tile the input
   * exactly. Java's `GZIPInputStream` treats an unparseable
   * *subsequent* member header as a clean end-of-stream — corruption
   * after the first member would inflate to silently truncated
   * content; here any leftover bytes, bad magic, truncated deflate
   * stream, or CRC/length mismatch throws `IOException` (callers
   * degrade to a quarantine flag). Shared by the WARC file inflater
   * ([[graft.ext.Warc.inflateGzipFiles]]) and the per-row
   * `gunzip_try` expression.
   */
  /** Output buffer for the inflate paths with its initial-capacity
    * hint (3× the compressed length) clamped against int overflow:
    * `len * 3` goes negative past ~715 MB and ByteArrayOutputStream
    * would throw IllegalArgumentException OUTSIDE the IOException
    * quarantine path the callers rely on. */
  private def cappedOutputBuffer(len: Int): java.io.ByteArrayOutputStream =
    new java.io.ByteArrayOutputStream(
      math.max(64, math.min(len, Int.MaxValue / 3) * 3))

  def gunzipMembers(bytes: Array[Byte]): Array[Byte] = {
    def fail(msg: String): Nothing = throw new java.io.IOException(msg)
    def le32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    if (bytes.isEmpty) fail("empty gzip input")
    val out = cappedOutputBuffer(bytes.length)
    val buf = new Array[Byte](65536)
    var off = 0
    while (off < bytes.length) {
      // member header: magic 1f 8b, CM 8 (deflate), then FLG fields
      if (off + 10 > bytes.length) fail("truncated member header")
      if ((bytes(off) & 0xff) != 0x1f || (bytes(off + 1) & 0xff) != 0x8b ||
          bytes(off + 2) != 8) fail("bad member magic/method")
      val flg = bytes(off + 3) & 0xff
      var p = off + 10
      if ((flg & 4) != 0) { // FEXTRA: 2-byte little-endian length
        if (p + 2 > bytes.length) fail("truncated FEXTRA")
        p += 2 + ((bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8))
      }
      if ((flg & 8) != 0) { // FNAME: zero-terminated
        while (p < bytes.length && bytes(p) != 0) p += 1
        p += 1
      }
      if ((flg & 16) != 0) { // FCOMMENT: zero-terminated
        while (p < bytes.length && bytes(p) != 0) p += 1
        p += 1
      }
      if ((flg & 2) != 0) p += 2 // FHCRC
      if (p > bytes.length) fail("truncated member header fields")
      val inf = new java.util.zip.Inflater(true)
      try {
        inf.setInput(bytes, p, bytes.length - p)
        val crc = new java.util.zip.CRC32()
        var isize = 0L
        while (!inf.finished()) {
          val n =
            try inf.inflate(buf)
            catch {
              case e: java.util.zip.DataFormatException =>
                fail("corrupt deflate data: " + e.getMessage)
            }
          if (n == 0 && !inf.finished()) fail("truncated deflate stream")
          out.write(buf, 0, n); crc.update(buf, 0, n); isize += n
        }
        // trailer sits right after the compressed bytes this member
        // actually consumed
        val tp = p + (bytes.length - p - inf.getRemaining)
        if (tp + 8 > bytes.length) fail("truncated member trailer")
        if (le32(tp) != crc.getValue) fail("member CRC mismatch")
        if (le32(tp + 4) != (isize & 0xffffffffL)) fail("member ISIZE mismatch")
        off = tp + 8
      } finally inf.end()
    }
    out.toByteArray
  }

  /** gunzip_try(binary) → struct(ok, data): [[gunzipMembers]] with
    * corruption degraded to `(false, null)` — the per-row
    * `Content-Encoding: gzip` body decode, where a bad body is a row
    * to flag, not a task failure. */
  def gunzipTry(bytes: Array[Byte]): InternalRow =
    try new GenericInternalRow(Array[Any](true, gunzipMembers(bytes)))
    catch {
      case _: java.io.IOException =>
        new GenericInternalRow(Array[Any](false, null))
    }

  /** Bounded multi-byte (CJK) charset table — WHATWG encoding labels
    * → JDK charsets (the WHATWG `gb2312` label decodes as GBK, per the
    * encoding standard). The Column charset dispatch guards on
    * [[cjkLabels]], so [[decodeCharset]] only ever sees these; unknown
    * labels defensively fall back to UTF-8 (the WET convention). */
  private val CjkCharsets: java.util.Map[String, java.nio.charset.Charset] = {
    val m = new java.util.HashMap[String, java.nio.charset.Charset]()
    def put(label: String, name: String): Unit =
      m.put(label, java.nio.charset.Charset.forName(name))
    put("shift_jis", "Shift_JIS"); put("shift-jis", "Shift_JIS")
    put("sjis", "Shift_JIS")
    put("euc-jp", "EUC-JP"); put("euc_jp", "EUC-JP")
    put("gb18030", "GB18030"); put("gbk", "GBK"); put("gb2312", "GBK")
    put("euc-kr", "EUC-KR"); put("big5", "Big5")
    m
  }

  /** The labels [[decodeCharset]] handles, for the Column-side guard. */
  def cjkLabels: Seq[String] = {
    val it = CjkCharsets.keySet().iterator()
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result().sorted
  }

  /**
   * decode_charset(bytes, label) → string: per-row MULTI-BYTE charset
   * decode for the bounded CJK table — Spark's `decode` takes only a
   * CONSTANT charset, and the cp1252 translate trick cannot extend to
   * multi-byte codecs, so per-row dispatch over crawl-declared CJK
   * charsets needs a kernel. Malformed sequences and unmappable
   * characters decode to U+FFFD (CodingErrorAction.REPLACE — what
   * browsers do on real web bytes), never an error; deterministic for
   * fixed input bytes.
   */
  def decodeCharset(bytes: Array[Byte], charset: UTF8String): UTF8String = {
    val cs = CjkCharsets.get(charset.toString)
    val c = if (cs == null) java.nio.charset.StandardCharsets.UTF_8 else cs
    val dec = c.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    UTF8String.fromString(
      dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString)
  }

  /**
   * dechunk_try(view) → struct(ok, text): remove HTTP/1.1
   * `Transfer-Encoding: chunked` framing (RFC 9112 §7.1) from the
   * latin-1 BYTE-VIEW string of a message body — hex chunk-size line
   * (chunk extensions after `;` ignored), CRLF, exactly-size data,
   * CRLF, repeating until the 0-size last chunk, then any trailer
   * lines and the final CRLF. char ≡ byte in the view, so character
   * arithmetic IS the byte framing. Malformed framing (bad size line,
   * missing CRLF, short data, trailing garbage past the terminator)
   * degrades to `(false, null)`.
   */
  def dechunkTry(view: UTF8String): InternalRow = {
    val t = dechunkCore(view.toString)
    if (t == null) new GenericInternalRow(Array[Any](false, null))
    else new GenericInternalRow(Array[Any](true, UTF8String.fromString(t)))
  }

  /** The [[dechunkTry]] walk itself: de-framed body, or null on any
    * malformed shape. */
  private def dechunkCore(s: String): String = {
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    while (true) {
      // chunk-size: 1+ hex digits, then optional extensions to CRLF
      val start = i
      var size = 0L
      var c = ' '
      while (i < n && {
        c = s.charAt(i)
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
          (c >= 'A' && c <= 'F')
      }) {
        size = size * 16 +
          (if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10)
        if (size > n) return null // can't fit in what's left anyway
        i += 1
      }
      if (i == start) return null // no hex digits where a size is due
      // RFC 9112 §7.1.1: anything after the size must be a chunk-ext,
      // and chunk-ext MUST begin with ';' — '3XYZ' is malformed, not
      // "size 3 with junk". Accept only ';'-led extensions or CR here.
      if (i < n && s.charAt(i) != '\r' && s.charAt(i) != ';') return null
      while (i < n && s.charAt(i) != '\r') i += 1 // ;ext=... ignored
      if (i + 1 >= n || s.charAt(i + 1) != '\n') return null
      i += 2
      if (size == 0L) {
        // trailer section: zero or more non-empty lines, then CRLF
        while (true) {
          if (i + 1 < n && s.charAt(i) == '\r' && s.charAt(i + 1) == '\n') {
            i += 2
            return if (i == n) out.toString
            else null // trailing garbage past the terminator
          }
          val ls = i
          while (i < n && s.charAt(i) != '\r') i += 1
          if (i == ls || i + 1 >= n || s.charAt(i + 1) != '\n') return null
          i += 2
        }
      }
      if (i + size > n) return null // short data
      out.append(s, i, i + size.toInt)
      i += size.toInt
      if (i + 1 >= n || s.charAt(i) != '\r' || s.charAt(i + 1) != '\n')
        return null
      i += 2
    }
    null // unreachable
  }

  /** One deterministic zlib stream (RFC 1950: 2-byte header, deflate
    * body, Adler-32 trailer) holding exactly `bytes` — the
    * `Content-Encoding: deflate` body codec as the spec means it.
    * Fixed deflate level, so zlib-valued columns stay
    * oracle-constructible (the [[gzipMember]] determinism contract).
    */
  def zlibMember(bytes: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(bytes)
      d.finish()
      val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 32)
      val buf = new Array[Byte](65536)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Inflate ONE deflate-coded body (`Content-Encoding: deflate`):
    * zlib-wrapped (RFC 1950 — what the spec means; sniffed by its
    * 2-byte header: CM 8, CINFO ≤ 7, (CMF·256+FLG) % 31 == 0, the
    * browser heuristic) with RAW deflate (RFC 1951 — the classic
    * server misconfiguration) as the fallback when the header doesn't
    * sniff zlib OR the zlib parse fails. Strict on either path: the
    * stream must finish AND consume the input exactly (zlib's
    * Adler-32 included); leftover bytes, truncation, or corrupt data
    * throw `IOException` (callers degrade to the quarantine flag).
    */
  def inflateDeflate(bytes: Array[Byte]): Array[Byte] = {
    def one(raw: Boolean): Array[Byte] = {
      def fail(msg: String): Nothing = throw new java.io.IOException(msg)
      if (bytes.isEmpty) fail("empty deflate input")
      val inf = new java.util.zip.Inflater(raw)
      try {
        inf.setInput(bytes)
        val out = cappedOutputBuffer(bytes.length)
        val buf = new Array[Byte](65536)
        while (!inf.finished()) {
          val n =
            try inf.inflate(buf)
            catch {
              case e: java.util.zip.DataFormatException =>
                fail("corrupt deflate data: " + e.getMessage)
            }
          if (n == 0 && !inf.finished()) fail("truncated deflate stream")
          out.write(buf, 0, n)
        }
        if (inf.getRemaining != 0) fail("trailing garbage after deflate")
        out.toByteArray
      } finally inf.end()
    }
    val zlibShaped = bytes.length >= 2 && (bytes(0) & 0x0f) == 8 &&
      ((bytes(0) & 0xf0) >>> 4) <= 7 &&
      ((bytes(0) & 0xff) * 256 + (bytes(1) & 0xff)) % 31 == 0
    if (zlibShaped)
      try one(raw = false)
      catch { case _: java.io.IOException => one(raw = true) }
    else one(raw = true)
  }

  /**
   * decode_http_body(view, te, ce) → struct(ok, body): the FUSED HTTP
   * wire-coding decode — remove every transfer coding, then every
   * content coding, in ONE imperative pass over the latin-1 byte-view
   * body. `te`/`ce` are the lowercased header values with null
   * pre-coalesced to `""` (≡ absent ≡ `identity`); each may be a
   * COMMA-SEPARATED CODING LIST (RFC 7230 §3.3.1 / RFC 9110 §8.4:
   * the sender applied codings left-to-right, so the receiver removes
   * them right-to-left — `Transfer-Encoding: gzip, chunked` is
   * "gzipped, then chunked": unframe the chunks, then inflate).
   * Supported codings: `chunked` (framing walk), `gzip`/`x-gzip`
   * (member-walking inflate), `deflate` (zlib-sniffed with raw
   * fallback), `identity`/empty (no-op). Any other coding, malformed
   * framing, or corrupt compressed data yields `(false, null)` —
   * quarantine, never garbage passed through as text. Exists because
   * the two-kernel Column composition re-evaluated the chain per
   * OUTPUT COLUMN (every `gunzip_try` reference re-ran the dechunk
   * feeding it — measured ~3× the parse cost); this is one call whose
   * result fields the projection shares. Bit-identical to the
   * composed `dechunk_try`/`gunzip_try` path on single codings
   * (WarcSpec pins the composition on the same body classes).
   */
  def decodeHttpBody(view: UTF8String, te: UTF8String,
      ce: UTF8String): InternalRow = {
    def fail = new GenericInternalRow(Array[Any](false, null))
    def viewBytes(v: String): Array[Byte] = {
      val bytes = new Array[Byte](v.length)
      var i = 0
      while (i < v.length) { bytes(i) = v.charAt(i).toByte; i += 1 }
      bytes
    }
    def bytesView(out: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(out.length)
      var j = 0
      while (j < out.length) { sb.append((out(j) & 0xff).toChar); j += 1 }
      sb.toString
    }
    // right-to-left walk over one coding list; null = malformed/unsupported
    def removeCodings(v0: String, list: String): String = {
      var v = v0
      val toks = list.split(",", -1)
      var t = toks.length - 1
      while (t >= 0) {
        val tok = toks(t).trim
        tok match {
          case "" | "identity" => // no-op (also covers the absent case)
          case "chunked" =>
            v = dechunkCore(v)
            if (v == null) return null
          case "gzip" | "x-gzip" =>
            val out =
              try gunzipMembers(viewBytes(v))
              catch { case _: java.io.IOException => null }
            if (out == null) return null
            v = bytesView(out)
          case "deflate" =>
            val out =
              try inflateDeflate(viewBytes(v))
              catch { case _: java.io.IOException => null }
            if (out == null) return null
            v = bytesView(out)
          case _ => return null // br, zstd, compress, … → quarantine
        }
        t -= 1
      }
      v
    }
    var v: String = view.toString
    v = removeCodings(v, te.toString) // transfer codings first
    if (v == null) return fail
    v = removeCodings(v, ce.toString) // then content codings
    if (v == null) return fail
    new GenericInternalRow(Array[Any](true, UTF8String.fromString(v)))
  }
}
