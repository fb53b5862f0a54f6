package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ext.{Dedup, TextStats}
import graft.plans.NativeFunctions

/**
 * Randomized equivalence sweep for the fused native kernels: every
 * kernel is compared against its Column-math reference (or a
 * brute-force Scala model) on a seeded ScalaCheck-generated corpus
 * that mixes unicode, punctuation soup, odd whitespace (tabs,
 * newlines, vertical tab — the `\s` class corner), stopword stutters,
 * and empty/blank documents. Deterministic: fixed generator seed, so
 * a failure is reproducible, and the corpus intentionally stresses
 * the edges hand-written vectors tend to miss.
 */
class KernelPropertySpec extends SparkSpec {
  import spark.implicits._

  private val wordGen: Gen[String] = Gen.frequency(
    (6, Gen.oneOf("the", "a", "of", "to", "in", "fox", "Fox", "ÄBC", "héllo",
      "x", "spark", "table", "scan")),
    (2, Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))),
    (2, Gen.oneOf(".", ",", "a.b,c", "(x)", "[y]", "{z}", "it!", "why?",
      "'q'", "\"w\"", "end-")))

  private val sepGen: Gen[String] =
    Gen.frequency((8, Gen.const(" ")), (1, Gen.const("  ")),
      (1, Gen.oneOf("\t", "\n", "", "\f", "\r", " \t ")))

  private val docGen: Gen[String] = Gen.frequency(
    (1, Gen.const("")),
    (1, Gen.oneOf(" ", "   ", "\t\n")),
    (18, for {
      n <- Gen.choose(1, 40)
      ws <- Gen.listOfN(n, wordGen)
      seps <- Gen.listOfN(n, sepGen)
    } yield ws.zip(seps).map { case (w, s) => w + s }.mkString.trim))

  /** 200 seeded documents — the same corpus for every property. */
  private lazy val corpus: Seq[(Long, String)] = {
    val gen = Gen.listOfN(200, docGen)
    val docs = gen.apply(Gen.Parameters.default, Seed(42L)).get
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  private lazy val df = corpus.toDF("doc_id", "text")

  test("random corpus: gunzip_try ∘ gzip is the identity; random chunk splits dechunk back") {
    // gzip roundtrip over the seeded corpus (unicode, empties, soup)
    val gz = df.select($"doc_id", $"text",
        NativeFunctions.gunzipTry(
          NativeFunctions.gzip(encode($"text", "UTF-8"))).as("r"))
      .select($"text", $"r.ok", $"r.data").collect()
    gz.foreach { r =>
      r.getBoolean(1) shouldBe true
      new String(r.getAs[Array[Byte]](2), "UTF-8") shouldBe r.getString(0)
    }
    // chunked framing: split each doc's latin-1 view at a seeded
    // pseudo-random set of points, frame it, dechunk — identity.
    // (Chunk construction is a Scala model here, NOT the engine's
    // Column builder: an independent framing of the same contract.)
    val rnd = new scala.util.Random(42)
    val framed = corpus.map { case (id, text) =>
      val view = new String(text.getBytes("UTF-8"),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val sb = new StringBuilder
      var i = 0
      while (i < view.length) {
        val n = math.min(1 + rnd.nextInt(7), view.length - i)
        sb.append(n.toHexString).append("\r\n")
          .append(view.substring(i, i + n)).append("\r\n")
        i += n
      }
      sb.append("0\r\n\r\n")
      (id, view, sb.toString)
    }
    val got = framed.toDF("doc_id", "view", "chunked")
      .select($"view", NativeFunctions.dechunkTry($"chunked").as("r"))
      .select($"view", $"r.ok", $"r.text").collect()
    got.foreach { r =>
      r.getBoolean(1) shouldBe true
      r.getString(2) shouldBe r.getString(0)
    }
  }

  test("random corpus: deflate roundtrips (zlib + raw), random coding stacks decode right-to-left, garbage never crashes") {
    // zlib → inflate identity over the seeded corpus
    val zl = df.select($"text",
        NativeFunctions.decodeHttpBody(
          decode(NativeFunctions.zlib(encode($"text", "UTF-8")),
            "ISO-8859-1"),
          lit(""), lit("deflate")).as("r"))
      .select($"text", $"r.ok", $"r.body").collect()
    zl.foreach { r =>
      r.getBoolean(1) shouldBe true
      new String(r.getString(2).toCharArray.map(_.toByte),
        "UTF-8") shouldBe r.getString(0)
    }
    // random 1–3-deep coding stacks: apply codings left-to-right with
    // an independent Scala model, decode with the kernel via the
    // header list — identity on every doc
    val rnd = new scala.util.Random(7)
    def viewOf(b: Array[Byte]): String =
      new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
    def bytesOf(v: String): Array[Byte] = v.toCharArray.map(_.toByte)
    def applyOne(v: String, tok: String): String = tok match {
      case "gzip" => viewOf(graft.plans.Native.gzipMember(bytesOf(v)))
      case "deflate" => viewOf(graft.plans.Native.zlibMember(bytesOf(v)))
      case "chunked" =>
        if (v.isEmpty) "0\r\n\r\n"
        else v.length.toHexString + "\r\n" + v + "\r\n0\r\n\r\n"
      case _ => v // identity
    }
    val toks = Array("gzip", "deflate", "chunked", "identity")
    val stacked = corpus.map { case (id, text) =>
      val view = viewOf(text.getBytes("UTF-8"))
      val stack = Seq.fill(1 + rnd.nextInt(3))(toks(rnd.nextInt(toks.length)))
      (id, view, stack.foldLeft(view)(applyOne), stack.mkString(", "))
    }
    val got = stacked.toDF("doc_id", "view", "body", "ce")
      .select($"view",
        NativeFunctions.decodeHttpBody($"body", lit(""), $"ce").as("r"))
      .select($"view", $"r.ok", $"r.body").collect()
    got.foreach { r =>
      r.getBoolean(1) shouldBe true
      r.getString(2) shouldBe r.getString(0)
    }
    // random garbage under every declared coding: degrades to
    // (false, null) or decodes clean — NEVER throws (the quarantine
    // contract); raw-deflate sniff must not crash on any 2-byte prefix
    val junk = corpus.take(50).map { case (id, text) =>
      (id, viewOf(text.getBytes("UTF-8")).reverse, toks(rnd.nextInt(3)))
    }
    val jr = junk.toDF("doc_id", "body", "ce")
      .select(NativeFunctions.decodeHttpBody($"body", lit(""), $"ce").as("r"))
      .select($"r.ok", $"r.body").collect()
    jr.foreach { r => if (!r.getBoolean(0)) r.isNullAt(1) shouldBe true }
  }

  test("random corpus: decode_charset ≡ Java decoder on every CJK charset (random CJK text)") {
    val cjkChar: Gen[Char] = Gen.frequency(
      (4, Gen.choose(0x3041, 0x3096).map(_.toChar)), // hiragana
      (4, Gen.choose(0x30A1, 0x30FA).map(_.toChar)), // katakana
      (6, Gen.choose(0x4E00, 0x9FA5).map(_.toChar)), // CJK unified
      (2, Gen.choose(0xAC00, 0xD7A3).map(_.toChar)), // hangul
      (3, Gen.alphaNumChar), (1, Gen.const(' ')))
    val cjkDoc: Gen[String] =
      Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, cjkChar).map(_.mkString))
    val docs = Gen.listOfN(120, cjkDoc)
      .apply(Gen.Parameters.default, Seed(7L)).get
    val labels = Seq("shift_jis" -> "Shift_JIS", "euc-jp" -> "EUC-JP",
      "gb18030" -> "GB18030", "gbk" -> "GBK", "euc-kr" -> "EUC-KR",
      "big5" -> "Big5")
    val rows = for (d <- docs; (label, jdk) <- labels) yield {
      val cs = java.nio.charset.Charset.forName(jdk)
      // encode with REPLACE (chars outside the charset's repertoire
      // become '?'), then the expected decode via the same Java
      // decoder the kernel wraps
      val enc = cs.newEncoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
      val bytes = {
        val bb = enc.encode(java.nio.CharBuffer.wrap(d))
        val a = new Array[Byte](bb.remaining()); bb.get(a); a
      }
      val dec = cs.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
      (bytes, label, dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString)
    }
    val got = rows.toDF("bytes", "label", "expected")
      .select($"expected",
        NativeFunctions.decodeCharset($"bytes", $"label").as("got"))
      .collect()
    got.foreach(r => r.getString(1) shouldBe r.getString(0))
  }

  test("random corpus: fused tokenizer ≡ Column formulation") {
    df.select(TextStats.tokens($"text").as("a"),
        TextStats.tokensColumnar($"text").as("b"))
      .collect().foreach(r => r.getSeq[String](0) shouldBe r.getSeq[String](1))
  }

  test("random corpus: winnow kernel ≡ windowed formulation") {
    val kern = Dedup.winnowFingerprints(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wind = Dedup.winnowFingerprintsWindowed(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    kern shouldBe wind
  }

  test("random corpus: quality counters ≡ the four Column formulations") {
    df.select(NativeFunctions.qualityCounts($"text").as("qc"),
        TextStats.tokenCount($"text").cast("long"),
        TextStats.bpeishTokenCount($"text").cast("long"),
        TextStats.punctCount($"text").cast("long"),
        TextStats.stopwordCount($"text"))
      .collect().foreach { r =>
        val qc = r.getStruct(0)
        (qc.getLong(0), qc.getLong(1), qc.getLong(2), qc.getLong(3)) shouldBe
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      }
  }

  test("random corpus: fingerprint fused ≡ composed; cdc chunks rebuild the text") {
    df.select(TextStats.fingerprint($"text"),
        NativeFunctions.rollingHash(
          array_join(TextStats.tokensColumnar($"text"), " ")))
      .collect().foreach(r => r.getLong(0) shouldBe r.getLong(1))
    // CDC losslessness: chunks in order == normalized tokens, any input
    df.select(array_join(TextStats.tokens($"text"), " "),
        array_join(NativeFunctions.cdcChunks($"text", 8), " "))
      .collect().foreach(r => r.getString(1) shouldBe r.getString(0))
  }

  test("random corpus: hash-feature summary matches a brute-force model") {
    val out = df.select($"doc_id",
        NativeFunctions.hashFeatureStats($"text", 16).as("hf"))
      .collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    def md5Key(s: String): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var x = 0L
      for (i <- 0 until 7) x = (x << 8) | (dig(i) & 0xffL)
      ((x << 4) | ((dig(7) & 0xffL) >>> 4)) % 2147483647L
    }
    corpus.foreach { case (id, text) =>
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val v = new Array[Long](16)
      toks.foreach(t => v((md5Key(t) % 16).toInt) += 1)
      val qc = out(id)
      qc.getLong(0) shouldBe v.count(_ > 0).toLong
      qc.getLong(1) shouldBe v.map(c => c * c).sum
      qc.getLong(2) shouldBe v.max
      qc.getInt(3) shouldBe (if (v.max == 0L) -1 else v.indexOf(v.max))
    }
  }

  test("random corpus: exactKeepBest ≡ brute-force argmax model under heavy score ties") {
    // few score levels + the generator's duplicate texts (empty/blank
    // docs repeat) ⇒ both the score tie-break and multi-copy groups
    // are exercised for real
    val rng = new scala.util.Random(7)
    val rows = corpus.map { case (id, t) => (id, t, rng.nextInt(4).toLong) }
    val out = graft.ext.Dedup.exactKeepBest(
        rows.toDF("doc_id", "text", "q").repartition(11), col("q"))
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("keep_score"),
        r.getAs[Long]("n_copies"))).toSet
    val model = rows.groupBy(_._2).values.map { g =>
      val w = g.minBy { case (id, _, q) => (-q, id) }
      (w._1, w._3, g.size.toLong)
    }.toSet
    out shouldBe model
  }

  test("random corpus: snapshotDiff statuses partition both id sets correctly") {
    val oldRows = corpus.filter(_._1 % 3 != 0)
    val newRows = corpus.filter(_._1 % 4 != 0)
      .map { case (id, t) => (id, if (id % 7 == 0) t + " EDIT" else t) }
    val out = graft.ext.Corpus.snapshotDiff(
        oldRows.toDF("doc_id", "text"), newRows.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status"))
      .toMap
    val oldM = oldRows.toMap
    val newM = newRows.toMap
    out.keySet shouldBe (oldM.keySet ++ newM.keySet)
    out.foreach { case (id, st) =>
      val expect =
        if (!oldM.contains(id)) "added"
        else if (!newM.contains(id)) "removed"
        else if (oldM(id) == newM(id)) "unchanged"
        else "changed"
      withClue(s"doc $id") { st shouldBe expect }
    }
  }

  test("random corpus: Bloom decontamination ≡ exact verbatim-window check across filter sizes") {
    // split the seeded corpus into train/benchmark halves; the Bloom
    // prefilter must be answer-invariant at ANY (bits, probes) —
    // including a saturated 64-bit filter whose false-positive rate
    // approaches 1 — because the verify join erases false positives
    val docs = df.where($"doc_id" % 2 === 0)
    val bench = df.where($"doc_id" % 2 === 1)
    val exact = graft.ext.Corpus.decontaminateSubstring(docs, bench, windowTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    for ((bits, probes) <- Seq((64, 2), (512, 3), (1 << 16, 3))) {
      val bloom = graft.ext.Corpus.decontaminateBloom(docs, bench,
          windowTokens = 3, bits = bits, numProbes = probes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      withClue(s"bits=$bits probes=$probes") { bloom shouldBe exact }
    }
  }

  test("random vectors: dimStats matches a brute-force model; inertia non-negative and zero on centroid-coincident cells") {
    val rng = new scala.util.Random(42)
    val vecs = (0L until 100L).map(i =>
      (i, Array.fill(4)((rng.nextInt(2001) - 1000) / 1000.0f)))
    val vdf = vecs.toDF("vec_id", "embedding")
    val out = graft.ext.Similarity.dimStats(vdf).collect()
      .map(r => r.getInt(0) -> r).toMap
    out.keySet shouldBe (0 until 4).toSet
    for (d <- 0 until 4) {
      val xs = vecs.map(_._2(d).toDouble)
      val s9 = xs.map(x => math.round(x * 1e9)).sum
      val q12 = xs.map(x => math.round(x * x * 1e12)).sum
      val r = out(d)
      r.getAs[Long]("n") shouldBe 100L
      r.getAs[Double]("mean") shouldBe (s9.toDouble / (100.0 * 1e9))
      val mean = s9.toDouble / (100.0 * 1e9)
      r.getAs[Double]("variance") shouldBe
        (q12.toDouble / (100.0 * 1e12) - mean * mean)
      r.getAs[Double]("min_v") shouldBe xs.min
      r.getAs[Double]("max_v") shouldBe xs.max
    }
    // two point-masses: every vector IS its centroid after Lloyd ⇒
    // per-cell inertia collapses to (numerically) zero
    val pm = (0L until 20L).map(i =>
      (i, if (i % 2 == 0) Array(1.0f, 0f, 0f, 0f) else Array(0f, 0f, 0f, 1.0f)))
    val inert = graft.ext.Similarity.clusterInertia(
        pm.toDF("vec_id", "embedding"), nCentroids = 2)
      .collect().map(r => r.getAs[Double]("inertia"))
    inert.foreach(v => math.abs(v) should be <= 1e-6)
  }

  test("pqCodes kernel ≡ independent Column formulation; ties to the smaller code; zero vector defined") {
    import org.apache.spark.sql.Column
    import graft.ext.Similarity
    val dims = 16; val m = 4; val sub = 4; val k = 5
    val rnd = new scala.util.Random(42)
    val base: Array[Array[Seq[Double]]] = Array.fill(m)(
      Array.fill(k)(Seq.fill(sub)(rnd.nextDouble() * 2 - 1)))
    // duplicate a centroid inside book 2: distances to codes 1 and 3
    // are BIT-identical, so the tie must always break to 1
    val books = base.updated(2, base(2).updated(3, base(2)(1)))
    val vecs = (0 until 100).map { i =>
      val arr =
        if (i == 0) Array.fill(dims)(0.0f)
        else Array.fill(dims)(rnd.nextFloat() * 2 - 1)
      (i.toLong, arr)
    }
    val df = vecs.toDF("vec_id", "embedding")
    // reference path: unrolled element_at normalize + least(struct) —
    // a fully independent Column expression tree evaluated by codegen
    val nrm = Similarity.norm(col("embedding"))
    def normSlice(off: Int): Column = array((off until off + sub).map { i =>
      when(nrm === lit(0.0), lit(0.0))
        .otherwise(element_at(col("embedding"), i + 1).cast("double") / nrm)
    }: _*)
    def codeCol(s: Int): Column = {
      val scored = books(s).zipWithIndex.map { case (cent, j) =>
        struct((lit(cent.map(x => x * x).sum) - lit(2.0) *
          Similarity.dot(normSlice(s * sub), array(cent.map(lit): _*))).as("d"),
          lit(j).as("cid"))
      }
      least(scored: _*).getField("cid")
    }
    def collectCodes(c: Column): Map[Long, Seq[Int]] =
      df.select(col("vec_id"), c.as("codes")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val ref = collectCodes(array((0 until m).map(codeCol): _*))
    val native = collectCodes(
      NativeFunctions.pqCodes(col("embedding"), books.map(_.toSeq).toSeq))
    native shouldBe ref
    // the duplicated centroid's larger code can never win a tie
    native.values.map(_(2)) should not contain 3
    // zero vector: all dots vanish, argmin is the smallest-norm²
    // centroid (ties by code) — defined, never NaN
    val zeroBook2 = books(2).map(c => c.map(x => x * x).sum).zipWithIndex
      .min._2
    native(0L)(2) shouldBe zeroBook2
  }

  test("random corpus: mattrStats kernel ≡ brute-force sliding model at several windows") {
    def model(text: String, w: Int): (Long, Long, Long) = {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) (0L, 1L, 0L)
      else {
        val nw = math.max(toks.length - (w - 1), 1)
        val sum = (0 until nw).map(i =>
          toks.slice(i, i + w).distinct.length.toLong).sum
        (toks.length.toLong, nw.toLong, sum)
      }
    }
    for (w <- Seq(1, 3, 7, 50)) {
      val got = df.select($"doc_id",
          NativeFunctions.mattrStats($"text", w).as("m"))
        .collect().map(r => r.getLong(0) -> {
          val m = r.getStruct(1); (m.getLong(0), m.getLong(1), m.getLong(2))
        }).toMap
      corpus.foreach { case (id, text) => got(id) shouldBe model(text, w) }
    }
  }

  test("random hashes: BottomKAggregator ≡ sorted-distinct-take-k under any partitioning") {
    import graft.ext.Sketches
    // values with heavy duplication so dedup semantics are exercised
    val vals = corpus.flatMap { case (id, t) =>
      t.split("\\s+").filter(_.nonEmpty).map(w => (id % 7, (w.hashCode.toLong % 50) + 100)) }
    val expected = vals.groupBy(_._1).view.mapValues(
      _.map(_._2).distinct.sorted.take(13).toSeq).toMap
    for (parts <- Seq(1, 5, 32)) {
      val agg = new Sketches.BottomKAggregator(13).toColumn.name("sig")
      val got = vals.toDF("g", "v").repartition(parts)
        .as[(Long, Long)].groupByKey(_._1).mapValues(_._2).agg(agg)
        .collect().map { case (g, sig) => g -> sig }.toMap
      got.view.mapValues(_.toSeq).toMap shouldBe expected
    }
  }

  test("random corpus: selfRepeatRuns longest ≡ brute-force longest repeated substring (token level)") {
    val w = 3
    def bruteLongest(text: String): Option[Long] = {
      val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      var best = 0
      for (i <- t.indices; j <- (i + 1) until t.length) {
        var m = 0
        while (j + m < t.length && t(i + m) == t(j + m)) m += 1
        if (m > best) best = m
      }
      if (best >= w) Some(best.toLong) else None
    }
    val got = Dedup.selfRepeatRuns(df, windowTokens = w).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    corpus.foreach { case (id, text) =>
      got.get(id) shouldBe bruteLongest(text)
    }
  }

  test("random corpus: scrubSegments kernel ≡ the Column formulation it replaced") {
    import org.apache.spark.sql.{Column, DataFrame}
    import graft.ext.Corpus
    val srcDf = corpus.map { case (id, t) => (id, t, s"s${id % 5}") }
      .toDF("doc_id", "text", "source")
    // flag a third of the REAL (source-scoped) segment keys plus junk
    // keys that must hit nothing
    val realKeys = Corpus.segmentRows(srcDf, 3, "text")
      .select(xxhash64(concat($"source", lit("\u0001"), $"__seg")))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    val flagged = realKeys.zipWithIndex.collect {
      case (k, i) if i % 3 == 0 => k
    } ++ Seq(1L, -99L, Long.MaxValue)
    // the pre-round-16 array_contains formulation, verbatim
    def columnar(df: DataFrame, keys: Seq[Long], segTokens: Int): DataFrame = {
      import org.apache.spark.sql.functions.{size => asize}
      val tk = TextStats.tokens(col("text"))
      val nSegs = ceil(asize(tk).cast("double") / segTokens).cast("long")
      val segs = transform(sequence(lit(0L), nSegs - 1),
        i => array_join(slice(tk, (i * segTokens).cast("int") + 1,
          lit(segTokens)), " "))
      val keyOf = (c: Column) =>
        xxhash64(concat(col("source"), lit("\u0001"), c))
      val kept = filter(segs,
        c => !array_contains(lit(keys.toArray), keyOf(c)))
      df.withColumn("__segs", when(asize(tk) > 0, segs).otherwise(array()))
        .withColumn("__kept", when(asize(tk) > 0, kept).otherwise(array()))
        .select(col("doc_id"),
          asize(col("__segs")).cast("long").as("n_segs"),
          (asize(col("__segs")) - asize(col("__kept"))).cast("long")
            .as("n_dropped"),
          array_join(col("__kept"), " ").as("clean_text"))
    }
    for (segTokens <- Seq(1, 3, 4, 7);
         keys <- Seq(flagged, Seq.empty[Long])) {
      val kern = Corpus.scrubRowStateless(srcDf, keys, segTokens)
        .select("doc_id", "n_segs", "n_dropped", "clean_text").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      val ref = columnar(srcDf, keys, segTokens).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      withClue(s"segTokens=$segTokens keys=${keys.size}: ") {
        kern shouldBe ref
      }
    }
  }

  test("URL normalization: invariant under the dressing lattice, idempotent, order-safe") {
    val hosts = Seq("example.com" -> "example.com",
      "Sub.Example.ORG" -> "sub.example.org")
    val combos = for {
      scheme <- Seq("", "http://", "https://", "HTTPS://")
      www <- Seq("", "www.", "WWW.")
      (host, canonHost) <- hosts
      port <- Seq("", ":80", ":443")
      path <- Seq("", "/A/b")
      slash <- Seq("", "/", "///")
      tail <- Seq("", "?q=1", "#f", "?q=1#f")
    } yield (scheme + www + host + port + path + slash + tail,
      canonHost + path.toLowerCase)
    val out = combos.toDF("url", "want")
      .select($"url", $"want",
        graft.ext.Dedup.normalizeUrl($"url").as("got"),
        graft.ext.Dedup.normalizeUrl(
          graft.ext.Dedup.normalizeUrl($"url")).as("got2"))
      .collect()
    out.foreach { r =>
      withClue(r.getString(0) + ": ") {
        r.getString(2) shouldBe r.getString(1) // canonical
        r.getString(3) shouldBe r.getString(2) // idempotent
      }
    }
  }

  test("random corpus: WET render∘parse is an identity on marker-free payloads") {
    import graft.ext.Warc
    // The generator corpus has no 'WARC/1.0\r\n' marker, so every
    // record must round-trip exactly — payload, id, declared length,
    // intact — across arbitrary unicode, punctuation, and the \s
    // corner separators (which sit INSIDE the Content-Length framing).
    val framed = df
      .withColumn("url", concat(lit("https://ex.com/"), $"doc_id"))
      .withColumn("shard", pmod($"doc_id", lit(7)))
    val parsed = Warc.parseRecords(Warc.renderFiles(framed))
      .select($"rec_id", $"payload", $"intact", $"content_length")
      .collect()
    parsed.length shouldBe corpus.length
    val byId = corpus.toMap
    parsed.foreach { r =>
      val id = r.getLong(0)
      withClue(s"doc $id: ") {
        r.getString(1) shouldBe byId(id)
        r.getBoolean(2) shouldBe true
        r.getLong(3) shouldBe byId(id).length.toLong
      }
    }
  }

  test("random corpus: htmlToText of a wrapped doc ≡ whitespace-collapsed doc") {
    import graft.ext.Html
    // Tag-wrap each ampersand/angle-free doc: extraction must return
    // exactly the whitespace-collapsed original (the Column reference
    // for the collapse is the same \s+ regex the kernel ends with).
    val clean = df.where(!$"text".contains("<") && !$"text".contains("&") &&
      !$"text".contains(">"))
    val out = clean
      .select($"text",
        Html.htmlToText(concat(lit("<div id=\"d\"><p>"), $"text",
          lit("</p><!-- c --><style>p{}</style></div>"))).as("ex"),
        trim(regexp_replace($"text", "\\s+", " ")).as("ref"))
      .collect()
    out.length should be > 100 // the filter keeps most of the corpus
    out.foreach { r =>
      withClue(r.getString(0).take(60) + ": ") {
        r.getString(1) shouldBe r.getString(2)
      }
    }
  }

  // ===== the fused Lloyd pass against its Column formulation =========

  /** The Column formulation the fused Lloyd pass replaced, kept as the
    * reference: the codes expression plus one generated
    * `round(element_at(v, i) * 1e9)` column per element, long sums per
    * cell (collected; the fixtures are small), the same init and mean. */
  private def refLloyd(base: org.apache.spark.sql.DataFrame, m: Int, k: Int,
      iters: Int, seed: Long, vecCol: String)(
      codes: Array[Array[Seq[Double]]] => org.apache.spark.sql.Column)
      : Array[Array[Seq[Double]]] = {
    val live = base.where(col(vecCol).isNotNull)
    val init = live
      .orderBy(graft.functions.Rng.uniform(seed, "ivf/init", col("vec_id")), col("vec_id"))
      .limit(k).select(col(vecCol)).collect()
      .map(_.getSeq[Any](0).map(x => x.asInstanceOf[Number].doubleValue()))
    val dims = if (init.isEmpty) 0 else init.map(_.length).max
    val sub = dims / m
    val kk = init.length
    var books = Array.tabulate(m)(s => init.map(_.slice(s * sub, (s + 1) * sub)))
    for (_ <- 0 until iters if dims > 0) {
      val rows = live.select((codes(books).as("__codes") +:
        (0 until dims).map(i =>
          round(element_at(col(vecCol), i + 1).cast("double") * lit(1e9))
            .cast("long").as(s"__l$i"))): _*).collect()
      val sums = Array.ofDim[Long](m, kk, sub)
      val counts = Array.ofDim[Long](m, kk)
      rows.foreach { r =>
        val cs = r.getSeq[Int](0)
        for (si <- 0 until m) {
          counts(si)(cs(si)) += 1L
          for (p <- 0 until sub; c = 1 + si * sub + p if !r.isNullAt(c))
            sums(si)(cs(si))(p) += r.getLong(c)
        }
      }
      books = Array.tabulate(m, kk) { (si, j) =>
        if (counts(si)(j) == 0L) books(si)(j)
        else (0 until sub).map(p =>
          sums(si)(j)(p).toDouble / (counts(si)(j).toDouble * 1e9))
      }
    }
    books
  }

  /** The IVF nearest-centroid rule as Column expressions: `(d, cid)`
    * structs sorted by `array_sort`, ids read by `transform`. */
  private def refNearest(v: org.apache.spark.sql.Column,
      cents: Seq[Seq[Double]], probes: Int): org.apache.spark.sql.Column = {
    val scored = cents.zipWithIndex.map { case (cent, i) =>
      struct((lit(cent.map(x => x * x).sum) - lit(2.0) *
        graft.ext.Similarity.dot(v, array(cent.map(lit): _*))).as("d"), lit(i).as("cid"))
    }
    slice(transform(array_sort(array(scored: _*)), s => s.getField("cid")), 1, probes)
  }

  private def refIvf(df: org.apache.spark.sql.DataFrame, k: Int, iters: Int,
      seed: Long): Array[Seq[Double]] = {
    val base = df.select(col("vec_id"), col("embedding")).localCheckpoint()
    refLloyd(base, 1, k, iters, seed, "embedding")(bs =>
      refNearest(col("embedding"), bs.head.toSeq, 1)).head
  }

  /** PQ as it trained before the fused pass: the unrolled `x / nrm`
    * normalized slice checkpointed once, codes by `least(struct(d, cid))`
    * over `aggregate(zip_with(...))` dots (a null element reads 0.0). */
  private def refPq(df: org.apache.spark.sql.DataFrame, m: Int, k: Int,
      iters: Int, seed: Long, dims: Int): Array[Array[Seq[Double]]] = {
    val v = col("embedding")
    val nrm = graft.ext.Similarity.norm(v)
    val vn = array((0 until dims).map { i =>
      when(nrm === lit(0.0), lit(0.0))
        .otherwise(element_at(v, i + 1).cast("double") / nrm)
    }: _*)
    val base = df.select(col("vec_id"), when(v.isNotNull, vn).as("__vn"))
      .localCheckpoint()
    val sub = dims / m
    refLloyd(base, m, k, iters, seed, "__vn")(books => array(books.indices.map { s =>
      val scored = books(s).toSeq.zipWithIndex.map { case (cent, j) =>
        val dot = aggregate(
          zip_with(slice(col("__vn"), s * sub + 1, sub), array(cent.map(lit): _*),
            (x, y) => coalesce(x, lit(0.0)) * y),
          lit(0.0), (acc, z) => acc + z)
        struct((lit(cent.map(x => x * x).sum) - lit(2.0) * dot).as("d"), lit(j).as("cid"))
      }
      least(scored: _*).getField("cid")
    }: _*))
  }

  private def bits(books: Seq[Seq[Double]]): Seq[Seq[Long]] =
    books.map(_.map(java.lang.Double.doubleToRawLongBits))

  /** `a / 1024` for odd `a`: `x * 1e9` is exactly `a·5⁹/2`, a .5 tie of the
    * 1e-9 grid, in float and in double. */
  private def tie(a: Int): Double = a / 1024.0

  /** Seeded k-means fixture, `dims` = 8, as float or double arrays: ten
    * noisy clusters whose elements are often exact grid ties (either
    * sign), a zero vector, `-0.0` elements, a null vector, a null
    * element in a non-init row, and the first two init rows equal, so
    * two centroids sit at equal distance from every vector in the
    * first pass. The double fixture adds unit-norm vectors whose
    * normalized elements are exact ties (PQ); no float pair has an
    * exact unit norm. */
  private def kmeansFixture(floats: Boolean, k: Int, seed: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dims = 8
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(10)(Array.fill(dims)(rnd.nextGaussian()))
    val vecs: Array[Array[Double]] = Array.tabulate(160) { i =>
      Array.tabulate(dims) { p =>
        if (rnd.nextInt(4) == 0) tie((rnd.nextInt(1024) * 2 + 1) * (if (rnd.nextBoolean()) 1 else -1))
        else centers(i % 10)(p) + rnd.nextGaussian() * 0.3
      }
    }
    vecs(5) = Array.fill(dims)(0.0)
    vecs(6) = Array(-0.0, 1.5, -0.0, tie(-3), 0.0, -0.0, tie(7), -2.0)
    // |v| == 1.0 exactly, so x / nrm keeps the tie of x
    val unit = if (floats) Nil else (1 to 800 by 2).iterator.flatMap { a =>
      val t = tie(a)
      val c0 = math.sqrt(1.0 - t * t)
      Seq(c0, math.nextUp(c0), math.nextDown(c0))
        .find(c => math.sqrt(0.0 + t * t + c * c) == 1.0).map(c => (t, c))
    }.take(4).toSeq
    unit.size shouldBe (if (floats) 0 else 4)
    unit.zipWithIndex.foreach { case ((t, c), j) =>
      val v = Array.fill(dims)(0.0)
      v(j % 2 * 4) = if (j < 2) t else -t
      v(j % 2 * 4 + 2) = c
      vecs(10 + j) = v
    }
    val rank = spark.range(vecs.length)
      .select(col("id"), graft.functions.Rng.uniform(seed, "ivf/init", col("id")).as("u"))
      .orderBy("u", "id").collect().map(_.getLong(0).toInt)
    vecs(rank(1)) = vecs(rank(0)).clone()
    val nullElem = rank.drop(k).find(_ > 20).get
    val nullVec = rank.drop(k).find(i => i > 20 && i != nullElem).get
    val elem: DataType = if (floats) FloatType else DoubleType
    val rows = vecs.indices.map { i =>
      val v: Seq[Any] =
        if (i == nullVec) null
        else vecs(i).toSeq.zipWithIndex.map { case (x, p) =>
          if (i == nullElem && p == 3) null
          else if (floats) x.toFloat else x
        }
      Row(i.toLong, v)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(elem)))))
  }

  for (floats <- Seq(true, false))
    test(s"fused Lloyd pass ≡ the Column formulation bit for bit: IVF and PQ on ${if (floats) "float" else "double"} arrays, grid ties, -0.0, zero and null rows, equal-distance centroids") {
      import graft.ext.Similarity
      val (k, iters, seed) = (6, 3, 11L)
      val df = kmeansFixture(floats, k, seed).cache()
      // the fixture holds exact .5 ties of the grid, raw and normalized
      def isTie(x: Double) = { val y = x * 1e9; y - math.floor(y) == 0.5 }
      val raw = df.collect().flatMap(r => Option(r.getSeq[Any](1)))
        .map(_.map(x => if (x == null) 0.0 else x.asInstanceOf[Number].doubleValue()))
      raw.exists(_.exists(isTie)) shouldBe true
      raw.exists { v =>
        val nrm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
        nrm > 0.0 && v.exists(x => isTie(x / nrm))
      } shouldBe !floats
      val ivf = Similarity.trainIvfCentroids(df, nCentroids = k, iters = iters, seed = seed)
      val ivfRef = refIvf(df, k, iters, seed)
      ivf.length shouldBe k
      bits(ivf.toSeq) shouldBe bits(ivfRef.toSeq)
      // the first two init centroids are equal: every row's first-pass
      // distances to them tie
      val init = Similarity.trainIvfCentroids(df, nCentroids = k, iters = 0, seed = seed)
      init(0) shouldBe init(1)
      val pq = Similarity.pqTrain(df, m = 2, k = k, iters = iters, seed = seed, dims = 8)
      val pqRef = refPq(df, 2, k, iters, seed, 8)
      pq.map(b => bits(b.toSeq)).toSeq shouldBe pqRef.map(b => bits(b.toSeq)).toSeq
      // assignment and probing: the native rule is the sorted-struct rule,
      // null vector and a longer-than-centroid vector included
      val longer = df.union(Seq((999L, Array.fill(9)(0.25f))).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(df.schema("embedding").dataType)))
      for (probes <- Seq(1, 3, k + 2)) {
        val got = longer.select(col("vec_id"),
          NativeFunctions.nearestCentroids(col("embedding"), ivf.toSeq, probes),
          refNearest(col("embedding"), ivf.toSeq, probes)).collect()
        got.foreach(r => r.getSeq[Int](1) shouldBe r.getSeq[Int](2))
        got.find(_.getLong(0) == 999L).get.getSeq[Int](1) shouldBe (0 until math.min(probes, k))
      }
      val cells = Similarity.assignCells(df, nCentroids = k, iters = iters, seed = seed)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val refCells = df.select(col("vec_id"),
          element_at(refNearest(col("embedding"), ivfRef.toSeq, 1), 1)).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      cells shouldBe refCells
      df.unpersist()
    }

  test("fused Lloyd pass: a null element of an init row reads as 0.0 (the Column formulation threw an NPE)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = Seq(Row(0L, Seq[Any](1.0, null)), Row(1L, Seq[Any](3.0, 4.0)))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType)))))
    graft.ext.Similarity.trainIvfCentroids(df, nCentroids = 2, iters = 0)
      .map(_.toSet).toSet shouldBe Set(Set(1.0, 0.0), Set(3.0, 4.0))
    graft.ext.Similarity.pqTrain(df, m = 1, k = 2, iters = 0, dims = 2)
      .head.map(_.toSeq).toSet shouldBe Set(Seq(1.0, 0.0), Seq(0.6, 0.8))
    an[NullPointerException] should be thrownBy refIvf(df, 2, 0, 42L)
  }

  test("grid rounding: Native.gridNanos ≡ Spark's round(x * 1e9).cast(\"long\") on 10^5 seeded doubles and the .5 ties") {
    val rnd = new scala.util.Random(2024)
    val scales = Seq(1e-12, 1e-9, 1e-6, 1e-3, 1.0, 1e3, 1e6, 1e8)
    val ties = (1 to 4001 by 2).flatMap(a => Seq(tie(a), -tie(a)))
    val near = ties.take(200).flatMap(t => Seq(math.nextUp(t), math.nextDown(t)))
    val grid = (0 until 2000).map(j => (j - 1000 + 0.5) / 1e9)
    val xs = Seq.fill(100000)(rnd.nextGaussian() * scales(rnd.nextInt(scales.size))) ++
      ties ++ near ++ grid ++ Seq(0.0, -0.0, 1e-10, -1e-10, 4.999999999e-10, -5e-10)
    // the fixture really hits exact ties, on both sides of zero
    xs.count(x => { val y = x * 1e9; y - math.floor(y) == 0.5 && y > 0 }) should be > 100
    xs.count(x => { val y = x * 1e9; y - math.floor(y) == 0.5 && y < 0 }) should be > 100
    val got = xs.toDF("x").select(col("x"), round(col("x") * lit(1e9)).cast("long"))
      .collect()
    got.length shouldBe xs.length
    got.foreach { r =>
      val x = r.getDouble(0)
      withClue(s"x = $x: ") { graft.plans.Native.gridNanos(x, ansi = true) shouldBe r.getLong(1) }
    }
  }

  test("fused Lloyd pass: NaN, ±Infinity and out-of-range values fail with Spark's cast overflow, as the Column formulation did; a short vector fails pqEncode with the index error") {
    import graft.ext.Similarity
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    def failsWith(code: String)(train: => Any): Unit = {
      val chain = causes(intercept[Exception](train))
      chain.exists(_.isInstanceOf[NullPointerException]) shouldBe false
      withClue(chain.map(_.getMessage).mkString(" | ")) {
        chain.exists(c => String.valueOf(c.getMessage).contains(code)) shouldBe true
      }
    }
    val ok = Seq((0L, Array(1.0, 2.0)), (1L, Array(3.0, -1.0)), (2L, Array(0.5, 0.5)))
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e10)) {
      val df = (ok :+ ((3L, Array(bad, 1.0)))).toDF("vec_id", "embedding")
      failsWith("CAST_OVERFLOW")(Similarity.trainIvfCentroids(df, nCentroids = 2, iters = 1))
      failsWith("CAST_OVERFLOW")(refIvf(df, 2, 1, 42L))
      if (bad.isNaN || bad.isInfinite) {
        failsWith("CAST_OVERFLOW")(Similarity.pqTrain(df, m = 1, k = 2, iters = 1, dims = 2))
        failsWith("CAST_OVERFLOW")(refPq(df, 1, 2, 1, 42L, 2))
      }
    }
    an[ArithmeticException] should be thrownBy graft.plans.Native.gridNanos(Double.NaN, ansi = true)
    val short = Seq((0L, Array(1.0f, 2.0f, 3.0f, 4.0f)), (1L, Array(1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val books = Array.fill(2)(Array(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    failsWith("INVALID_ARRAY_INDEX")(Similarity.pqEncode(short, books).collect())
  }

  test("fused Lloyd pass with ANSI off ≡ the Column formulation: a short vector reads as nulls, a NaN casts to 0") {
    import graft.ext.Similarity
    val (k, iters, seed) = (6, 2, 11L)
    val lenient = spark.newSession()
    lenient.conf.set("spark.sql.ansi.enabled", "false")
    val fixture = kmeansFixture(floats = false, k, seed)
    val df0 = lenient.createDataFrame(fixture.rdd, fixture.schema)
    // the two odd rows sit outside the init sample: the reference reads
    // init rows through Number.doubleValue, which a missing element fails
    val rank = df0.select(col("vec_id"))
      .orderBy(graft.functions.Rng.uniform(seed, "ivf/init", col("vec_id")), col("vec_id"))
      .collect().map(_.getLong(0))
    val Seq(shortId, nanId) = rank.drop(k).filter(_ > 20).take(2).toSeq
    val df = df0.select(col("vec_id"),
      when(col("vec_id") === shortId, slice(col("embedding"), 1, 5))
        .when(col("vec_id") === nanId,
          array_insert(slice(col("embedding"), 2, 7), lit(1), lit(Double.NaN)))
        .otherwise(col("embedding")).as("embedding"))
    bits(Similarity.trainIvfCentroids(df, nCentroids = k, iters = iters, seed = seed).toSeq) shouldBe
      bits(refIvf(df, k, iters, seed).toSeq)
    Similarity.pqTrain(df, m = 2, k = k, iters = iters, seed = seed, dims = 8)
      .map(b => bits(b.toSeq)).toSeq shouldBe
      refPq(df, 2, k, iters, seed, 8).map(b => bits(b.toSeq)).toSeq
  }
}
