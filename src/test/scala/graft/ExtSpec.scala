package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal, Similarity, TextStats}

/** Extension operators (SURVEY §2.7): dedup, similarity, text stats,
  * multimodal plumbing — small constructed corpora with known answers. */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 0
    (2L, "the quick brown fox jumps over a lazy cat"),    // near dup
    (3L, "completely different words entirely here now"),
    (4L, "der hund ist nicht der beste und nicht schnell")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs).collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).sortBy(_._1)
    out.length shouldBe 4
    out.head shouldBe (0L, 2L) // docs 0 and 1 collapse
    val byDigest = Dedup.exactByDigest(docs)
    byDigest.count() shouldBe 4
    byDigest.where($"n_copies" === 2).select("keep_id").head().getLong(0) shouldBe 0L
  }

  test("exactKeepBest: highest score wins, ties break to smallest id, partition-stable") {
    // group A: ids 0,1 identical text — scores 3 vs 7 ⇒ 1 wins on score;
    // group B: ids 10,11 identical text, EQUAL scores ⇒ 10 wins the tie;
    // singleton: id 20.
    val d = Seq(
      (0L, "same text a", 3L), (1L, "same text a", 7L),
      (10L, "same text b", 5L), (11L, "same text b", 5L),
      (20L, "alone", 9L)
    ).toDF("doc_id", "text", "q")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.exactKeepBest(df, col("q")).collect()
        .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("keep_score"),
          r.getAs[Long]("n_copies"))).toSet
    val out = run(d)
    out shouldBe Set((1L, 7L, 2L), (10L, 5L, 2L), (20L, 9L, 1L))
    // argmax decided inside the aggregate ⇒ identical under any partitioning
    run(d.repartition(7)) shouldBe out
  }

  test("budgetMix: exact desired shares, thinning rate, shortfall branch") {
    // strata tokens: a=8 ("w"*8 docs), b=2; weights a:1 b:1 ⇒ each owes
    // budget/2. budget=8 ⇒ a owes 4 of 8 (rate .5), b owes 4 of 2
    // (shortfall 2, rate 1); stratum c present in corpus but unweighted
    // ⇒ dropped from the report.
    val d = Seq(
      (0L, "w w w w w", "a"), (1L, "w w w", "a"),
      (2L, "w w", "b"), (3L, "x", "c")
    ).toDF("doc_id", "text", "lang")
    val out = graft.ext.Corpus.budgetMix(d, "lang",
        Map("a" -> 1.0, "b" -> 1.0), 8L,
        TextStats.tokenCount(col("text")).cast("long"))
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("avail_tokens"),
        r.getAs[Long]("desired_tokens"), r.getAs[Long]("kept_tokens"),
        r.getAs[Double]("rate"), r.getAs[Long]("shortfall"))).sortBy(_._1)
    out shouldBe Array(
      ("a", 8L, 4L, 4L, 0.5, 0L),
      ("b", 2L, 4L, 2L, 1.0, 2L))
  }

  test("curriculumOrder: dense bucket-major permutation, partition-stable") {
    val d = (0L until 40L).map(i => (i, (i % 3).toInt)).toDF("doc_id", "b")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Corpus.curriculumOrder(df, col("b"), nShards = 4, seed = 7L)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("bucket_rank"),
          r.getAs[Int]("shard"), r.getAs[Long]("pos"), r.getAs[Long]("global_pos")))
    val rows = run(d)
    // global_pos is a dense 0..N-1 permutation
    rows.map(_._5).sorted shouldBe (0L until 40L).toArray
    // bucket-major: every bucket-0 position precedes every bucket-1, etc.
    val sorted = rows.sortBy(_._5)
    sorted.map(_._2) shouldBe sorted.map(_._2).sorted
    // within a (bucket, shard), global_pos is contiguous ascending in pos
    rows.groupBy(r => (r._2, r._3)).values.foreach { g =>
      val byPos = g.sortBy(_._4)
      byPos.map(_._5) shouldBe (byPos.head._5 until byPos.head._5 + g.length)
    }
    run(d.repartition(9)).sortBy(_._1) shouldBe rows.sortBy(_._1)
  }

  test("schemaCheck: each invariant catches exactly its planted violation") {
    val dirty = Seq(
      (Some(1L), "good row", "en", 8L),       // clean
      (None, "null id", "en", 7L),            // null_id
      (Some(3L), "dup a", "en", 5L),          // dup_id pair...
      (Some(3L), "dup b", "en", 5L),          // ...both count as rows, one dup
      (Some(4L), "bad lang", "xx", 8L),       // bad_lang
      (Some(5L), "bad count", "en", 99L),     // bad_n_chars
      (Some(6L), "neg", "en", -3L)            // neg_chars + bad_n_chars
    ).toDF("doc_id", "text", "lang", "n_chars")
    val r = graft.ext.Corpus.schemaCheck(dirty, Seq("en")).head()
    r.getAs[Long]("n_rows") shouldBe 7L
    r.getAs[Long]("null_id") shouldBe 1L
    // count(*) − countDistinct(id): the dup pair contributes 1 and the
    // null id (excluded from DISTINCT) the other — null ids surface in
    // BOTH null_id and the dup diff, deterministically
    r.getAs[Long]("dup_id") shouldBe 2L
    r.getAs[Long]("bad_lang") shouldBe 1L
    r.getAs[Long]("bad_n_chars") shouldBe 2L
    r.getAs[Long]("neg_chars") shouldBe 1L
  }

  test("snapshotDiff: all four statuses classified; filePlan: exact ceil arithmetic") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val nw = Seq((2L, "b"), (3L, "c CHANGED"), (4L, "d")).toDF("doc_id", "text")
    val diff = graft.ext.Corpus.snapshotDiff(old, nw)
      .select("doc_id", "status").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    diff shouldBe Set((1L, "removed"), (2L, "unchanged"),
      (3L, "changed"), (4L, "added"))

    // stratum a: 3 docs, 10 bytes ⇒ ceil(10/4)=3 files, 1 doc/file;
    // stratum b: 2 docs, 9 bytes ⇒ ceil(9/4)=3 clamped to n_docs=2, 1 doc/file;
    // stratum c: 1 doc, 1 byte ⇒ max(1, ceil(1/4))=1 file, 1 doc/file
    val f = graft.ext.Corpus.filePlan(
      Seq(("a", 4L), ("a", 4L), ("a", 2L), ("b", 5L), ("b", 4L), ("c", 1L))
        .toDF("src", "nb"), "src", col("nb"), targetBytes = 4L)
      .collect().map(r => (r.getAs[String]("src"), r.getAs[Long]("n_files"),
        r.getAs[Long]("docs_per_file"))).sortBy(_._1)
    f shouldBe Array(("a", 3L, 1L), ("b", 2L, 1L), ("c", 1L, 1L))
  }

  test("minhash: identical docs share signatures; near-dups pair up") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 16)
    val rows = sig.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    rows(0L) shouldBe rows(1L)   // identical text ⇒ identical signature
    val pairs = Dedup.minhashLshPairs(docs, numHashes = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((0L, 1L))
  }

  test("fused native minhash kernel ≡ md5 Column-math formulation") {
    // edge rows: empty text (one "" gram), whitespace-only, shorter than
    // n (whole-sequence gram), unicode uppercase (UTF8String lowering)
    val edge = docs.union(Seq(
      (5L, ""), (6L, "   "), (7L, " one two "), (8L, "ÄBC Def GHI jkl MNO pqr")
    ).toDF("doc_id", "text"))
    val k = 8
    val (as, bs) = Dedup.minhashCoefs(k)
    val native = Dedup.minhashSignatures(edge, "doc_id", "text", numHashes = k)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    // the pre-round-9 formulation: explode word 3-grams, md5 prefix key,
    // k affine min-aggregations — the oracle's reading of the semantics
    val aggs = (0 until k).map(j =>
      min((lit(as(j)) * $"x" + lit(bs(j))) % lit(Dedup.MinhashPrime)).as(s"h$j"))
    val colMath = edge
      .select($"doc_id", explode(Dedup.shingles($"text", 3)).as("g"))
      .select($"doc_id", Dedup.md5Key($"g").as("x"))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    native shouldBe colMath
    // the plans-side prime literal can't drift from the ext-side one
    graft.plans.Native.MinhashPrime shouldBe Dedup.MinhashPrime
  }

  test("fused native md5 simhash ≡ grouped vote Column-math formulation") {
    val edge = docs.union(Seq(
      (5L, ""), (6L, "   "), (7L, "dup dup dup one"), (8L, "ÄBC abc ÄBC")
    ).toDF("doc_id", "text"))
    val native = Dedup.simhashSignatures(edge).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the pre-round-9 formulation: explode distinct tokens, 60 per-bit
    // vote sums, sign bits — the oracle's reading of the semantics
    val toks = TextStats.tokens($"text")
    val hashed = edge
      .select($"doc_id", explode(array_distinct(toks)).as("tok"))
      .select($"doc_id",
        conv(substring(md5($"tok"), 1, 15), 16, 10).cast("long").as("h"))
    val voteAggs = (0 until Dedup.SimhashBits).map(b =>
      sum(shiftright($"h", b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"v$b"))
    val sigExpr = (0 until Dedup.SimhashBits)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    val grouped = hashed.groupBy($"doc_id").agg(voteAggs.head, voteAggs.tail: _*)
      .select($"doc_id", sigExpr.as("sig"))
    val colMath = edge.select($"doc_id").join(grouped, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"sig", lit(0L)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    native shouldBe colMath
    native(5L) shouldBe 0L // token-less doc carries the all-zero signature
  }

  test("simhash: identical docs at distance 0; unrelated docs far apart") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    pairs.map(p => (p._1, p._2)) should contain((0L, 1L))
    pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 shouldBe 0L
    val sigs = Dedup.simhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    java.lang.Long.bitCount(sigs(0L) ^ sigs(3L)) should be > 3
  }

  test("n-gram jaccard: identical = 1.0; near-dup in (0,1); ordered pairs") {
    val out = Dedup.ngramJaccardPairs(docs, minJaccard = 0.1).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    out((0L, 1L)) shouldBe 1.0
    out((0L, 2L)) should (be > 0.1 and be < 1.0)
    out.keys.foreach { case (a, b) => a should be < b }
  }

  test("exact substring pairs: verbatim 8-token quote pairs docs, short docs excluded") {
    val quote = "one two three four five six seven eight"
    val d = Seq(
      (0L, s"alpha beta $quote gamma delta"),
      (1L, s"zeta $quote omega"),
      (2L, "totally different words with nothing shared at all in here friend"),
      (3L, quote.split(" ").take(7).mkString(" ")) // 7 tokens: too short
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstringPairs(d, windowTokens = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // only the quote-sharing pair, with exactly the one shared window
    out shouldBe Map((0L, 1L) -> 1L)
    // minShared gates the count
    Dedup.exactSubstringPairs(d, windowTokens = 8, minShared = 2)
      .count() shouldBe 0L
    // whole docs duplicated verbatim share every window
    val dup = Seq((0L, s"alpha beta $quote gamma delta"),
      (1L, s"alpha beta $quote gamma delta")).toDF("doc_id", "text")
    Dedup.exactSubstringPairs(dup, windowTokens = 8)
      .head().getLong(2) shouldBe 5L // 12 tokens -> 5 distinct windows
    // the hot-window cap drops flood cells: 50 copies of one text share
    // every window above cap 5 → no pairs at all from the flood
    val flood = (0L until 50L).map(i => (i, s"zeta $quote omega")).toDF("doc_id", "text")
    Dedup.exactSubstringPairs(flood, windowTokens = 8, maxBucketSize = 5)
      .count() shouldBe 0L
  }

  test("embedding near-dup finds the planted duplicate vector") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.05f, 0.0f, 0.0f)), // near-dup of 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(vecs, threshold = 0.95, planes = 2, seed = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((0L, 1L))
    pairs should have size 1
  }

  test("native dot: length mismatch yields null (zip_with parity), match yields value") {
    val df = Seq(
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f, 5.0f))
    ).toDF("a", "b").select(Similarity.dot($"a", $"b").as("d"))
    val rows = df.collect()
    rows(0).getDouble(0) shouldBe 11.0
    rows(1).isNullAt(0) shouldBe true
    // vonMises wraps into [0, 2π) like CPython
    val r = new java.util.Random(5)
    val draws = Seq.fill(500)(graft.functions.Samplers.vonMises(r, 0.0, 2.0))
    all(draws) should (be >= 0.0 and be < 2.0 * math.Pi)
  }

  test("int8 quantization: symmetric grid, half-up ties, zero vector") {
    val df = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df).orderBy("vec_id").collect()
      .map(_.getSeq[Double](2))
    // 0.5·127 = 63.5 ties away from zero to 64; max|x| maps to ±127
    q(0) shouldBe Seq(64.0, -127.0, 32.0, 0.0)
    // the all-zero vector stays zero instead of dividing by zero
    q(1) shouldBe Seq(0.0, 0.0, 0.0, 0.0)
    // double input takes the same path as float
    val d = Seq((0L, Array(0.5, -1.0))).toDF("vec_id", "embedding")
    Similarity.quantizeInt8(d).head().getSeq[Double](2) shouldBe Seq(64.0, -127.0)
  }

  test("brute-force cosine top-k: exact ranking on known vectors") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.8f, 0.6f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val queries = Seq((100L, Array(1.0f, 0.0f))).toDF("query_id", "embedding")
    val out = Similarity.bruteForceTopK(corpus, queries, k = 3)
      .orderBy("rank").collect()
    out.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(0L, 1L, 2L)
    out.head.getAs[Double]("score") shouldBe 1.0 +- 1e-12
  }

  test("LSH top-k recalls the exact top match (self-similarity)") {
    val vecs = (0L until 50L).map { i =>
      val r = new java.util.Random(i)
      (i, Array.fill(8)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    val out = Similarity.lshTopK(vecs, queries, k = 1, planes = 4, tables = 8,
      dims = 8)
    // every query's top-1 must be itself (cosine 1.0) — LSH always
    // collides a vector with itself in every table
    val top = out.where($"rank" === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
    top.foreach { case (q, n) => n shouldBe q }
  }

  test("text stats: token/punct/stopword counts and quality buckets") {
    val df = Seq(
      (0L, "The quick brown fox, it jumps over the lazy dog. And that is for sure a good long sentence with many small words in it."),
      (1L, "short text here"),
      (2L, "!!! ??? ,,, ...")
    ).toDF("doc_id", "text")
    val out = TextStats.qualityFacets(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_punct"),
          r.getAs[Long]("n_stop"), r.getAs[String]("quality_bucket"))).toMap
    out(0L)._1 shouldBe 25       // whitespace tokens
    out(0L)._3 should be >= 5L   // the/a/and/of/... occurrences
    out(0L)._4 shouldBe "good"
    out(1L)._4 shouldBe "poor"
    out(2L)._4 shouldBe "poor"
    out(2L)._2 shouldBe 12       // every char of "!!! ??? ,,, ..." is punct
    // packing-grade counters: bpeish counts punctuation a whitespace
    // count misses ("fox," = 2 subword pieces, 1 whitespace token);
    // the byte proxy is ceil(bytes/4)
    val counts = df.select($"doc_id",
        TextStats.tokenCount($"text").as("ws"),
        TextStats.bpeishTokenCount($"text").as("bp"),
        TextStats.byteProxyTokenCount($"text").as("by")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    counts(0L)._2 shouldBe 28          // 25 words + comma + 2 periods
    counts(1L)._2 shouldBe 3           // no punctuation: equals whitespace
    counts(2L)._2 shouldBe 12          // punctuation-only: 12 pieces, 4 ws tokens
    counts(2L)._1 shouldBe 4
    counts(1L)._3 shouldBe 4L          // ceil(15 bytes / 4)
  }

  test("ngramNovelty: shared windows counted corpus-wide, short docs excluded") {
    val q = "one two three four five six seven eight"  // one 8-token window
    val docs = Seq(
      (0L, q + " tail0 tail1"), // 3 windows, the first shared with doc 1
      (1L, "prefix " + q),      // 2 windows, one shared
      (2L, "a b c d e f g h"),  // 1 window, unique
      (3L, "short doc")         // < 8 tokens: excluded
    ).toDF("doc_id", "text")
    val out = Dedup.ngramNovelty(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_windows"), r.getAs[Long]("n_shared"),
          r.getAs[Double]("novelty"))).toMap
    out should have size 3
    out(0L) shouldBe ((3L, 1L, 2.0 / 3))
    out(1L) shouldBe ((2L, 1L, 0.5))
    out(2L) shouldBe ((1L, 0L, 1.0))
  }

  test("pplBuckets: LM-fit ordering drives head/middle/tail within a stratum") {
    val docs = Seq(
      (0L, "s", "a b a b a b"),  // all bigrams trained
      (1L, "s", "a b a b"),
      (2L, "s", "a b z q"),      // one trained + two backoff bigrams
      (3L, "s", "a z b q"),      // all backoff
      (4L, "s", "z q z q"),      // all backoff on unseen-unigram words
      (5L, "s", "q z q z")
    ).toDF("doc_id", "source", "text")
    val out = TextStats.pplBuckets(docs, docs.where($"doc_id" < 2))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    out shouldBe Map(0L -> "head", 1L -> "head", 2L -> "middle",
      3L -> "middle", 4L -> "tail", 5L -> "tail")
  }

  test("semDedup: within-cluster near-dups drop keep-first, pair join is equi") {
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.999, 0.01, 0.0, 0.0)),  // ~dup of 0 (cos ≈ 0.99995)
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.01, 0.999, 0.0, 0.0)),  // ~dup of 2
      (4L, Seq(0.0, 0.0, 1.0, 0.0))      // lone direction
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, threshold = 0.95, nCentroids = 2,
      iters = 2)
    // the cell self-join must be an equi-join on cid, never a cross
    out.queryExecution.executedPlan.toString should not include "Cartesian"
    val kept = out.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    kept should have size 5
    // keep-first by id: the smaller id of each near-dup pair survives
    kept(0L) shouldBe true
    kept(2L) shouldBe true
    kept(4L) shouldBe true
    // a near-dup with a smaller-id neighbor in its cell is dropped —
    // 0/1 (and 2/3) are near-identical, so every centroid assignment
    // puts each pair in one cell
    kept(1L) shouldBe false
    kept(3L) shouldBe false
  }

  test("gopher rules: fused gram kernel ≡ explode-group reference on corpus + edges") {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val edges = Seq((9001L, ""), (9002L, "one"), (9003L, "a a a a a a"),
      (9004L, "x y x y x y x y x y")).toDF("doc_id", "text")
    val docs = base.union(edges)
    val fused = TextStats.gopherRules(docs)
      .select("doc_id", "top_bigram_frac", "dup_5gram_frac")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // the pre-fusion explode→group formulation, rebuilt from gramRows
    // (ScalaTest Matchers shadows the length function — alias it)
    val strLen = (c: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.functions.length(c)
    val chars = docs.select($"doc_id",
      strLen(concat_ws(" ", TextStats.tokens($"text"))).cast("long").as("chars"))
    val top2 = TextStats.gramRows(docs, "doc_id", "text", 2)
      .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(min(struct((-$"c").as("nc"), $"gram".as("g"))).as("m"))
      .select($"doc_id", (-$"m.nc").as("t2c"),
        strLen($"m.g").cast("long").as("t2l"))
    val dup5 = TextStats.gramRows(docs, "doc_id", "text", 5)
      .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("c"))
      .where($"c" > 1)
      .groupBy($"doc_id").agg(sum($"c" * strLen($"gram")).as("d5"))
    val ref = chars
      .join(top2, Seq("doc_id"), "left").join(dup5, Seq("doc_id"), "left")
      .select($"doc_id",
        when($"chars" > 0, coalesce($"t2c" * $"t2l", lit(0L)).cast("double") /
          $"chars".cast("double")).otherwise(lit(0.0)),
        when($"chars" > 0, coalesce($"d5", lit(0L)).cast("double") /
          $"chars".cast("double")).otherwise(lit(0.0)))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    fused shouldBe ref
  }

  test("gopher rules: hand-computed facets and composite verdict") {
    val longDoc = "the and " + (0 until 60).map(i => s"word$i").mkString(" ")
    val df = Seq(
      (0L, "the cat sat on the mat with a dog and the cat sat"),
      (1L, "spam spam spam spam spam spam"),
      (2L, longDoc),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = TextStats.gopherRules(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    // doc 0: 13 words, 37 word chars (norm 49 incl 12 spaces); top
    // bigram is count-2 tie ("cat sat" vs "the cat") broken toward the
    // lexicographically smaller gram: "cat sat" (7 chars) * 2 = 14/49.
    out(0L).getAs[Long]("n_words") shouldBe 13L
    out(0L).getAs[Double]("mean_word_len") shouldBe 37.0 / 13
    out(0L).getAs[Double]("top_bigram_frac") shouldBe 14.0 / 49
    out(0L).getAs[Double]("dup_5gram_frac") shouldBe 0.0
    out(0L).getAs[Long]("n_stop_kinds") shouldBe 3L  // the, with, and
    out(0L).getAs[Boolean]("passes") shouldBe false  // < 50 words

    // doc 1: degenerate repetition — the 5-gram "spam spam spam spam
    // spam" occurs twice (overlapping), each occurrence charged:
    // 2 * 24 / 29 > 1 (the documented deviation from interval union).
    out(1L).getAs[Double]("top_bigram_frac") shouldBe 5 * 9.0 / 29
    out(1L).getAs[Double]("dup_5gram_frac") shouldBe 2 * 24.0 / 29
    out(1L).getAs[Boolean]("passes") shouldBe false

    // doc 2: 62 distinct-ish words, two stopword kinds, no repetition —
    // the one that passes every published rule.
    out(2L).getAs[Long]("n_words") shouldBe 62L
    out(2L).getAs[Boolean]("passes") shouldBe true

    // doc 3: empty — all facets defined (zero), verdict false.
    out(3L).getAs[Long]("n_words") shouldBe 0L
    out(3L).getAs[Double]("mean_word_len") shouldBe 0.0
    out(3L).getAs[Double]("top_bigram_frac") shouldBe 0.0
    out(3L).getAs[Boolean]("passes") shouldBe false
  }

  test("bm25: independent scalar math reproduces scores; termless docs absent") {
    val corpus = Seq(
      (0L, "hash join hash"), (1L, "hash scan"), (2L, "nothing here at all"))
      .toDF("doc_id", "text")
    val out = TextStats.bm25TopK(corpus, Seq("hash"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 2 never mentions the term: no row, not a zero score
    out.keySet shouldBe Set(0L, 1L)
    // replay the formula with plain scalar doubles (independent of the
    // Column expression tree) — grid-snapped contributions must agree
    // exactly
    val (n, avgdl, df) = (3L, (3L + 2L + 4L).toDouble / 3L, 2L)
    def u9(tf: Long, dl: Long): Long = {
      val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
      val denom = tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)
      math.round(idf * (tf * (1.2 + 1.0)) / denom * 1e9)
    }
    out(0L) shouldBe u9(2L, 3L)
    out(1L) shouldBe u9(1L, 2L)
    // higher tf at comparable length ranks first
    out(0L) should be > out(1L)
  }

  test("bigram LM: seen grams use conditional counts, unseen back off smoothly") {
    val train = Seq((0L, "a b a c")).toDF("doc_id", "text")
    val score = Seq((1L, "a b z"), (2L, "q")).toDF("doc_id", "text")
    val out = TextStats.bigramLogProb(score, train).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    out.keySet shouldBe Set(1L) // a 1-token doc has no bigram positions
    out(1L)._1 shouldBe 2L
    // train: bigrams (a,b),(b,a),(a,c) once each; unigrams a:2 b:1 c:1,
    // T=4, V=3. Scored: (a,b) seen -> 1/2; (b,z) unseen -> 0.4·(0+1)/7
    val expected = (math.round(math.log(1.0 / 2) * 1e9) +
      math.round(math.log(0.4 * 1L / (4L + 3L)) * 1e9)) / (2L * 1e9)
    out(1L)._2 shouldBe expected
    // every score finite: no -Infinity leaks through the backoff
    out.values.foreach(v => (v._2.isNaN || v._2.isInfinite) shouldBe false)
  }

  test("oovRate: positions under the corpus count floor, per doc") {
    val d = Seq((0L, "a a b"), (1L, "a c")).toDF("doc_id", "text")
    val out = TextStats.oovRate(d, minCount = 2L).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // counts: a:3 b:1 c:1 — b and c are below the floor of 2
    out.toSeq shouldBe Seq((0L, 3L, 1L, 1.0 / 3), (1L, 2L, 1L, 0.5))
  }

  test("benchOverlap: per-item dirtiness fraction, clean items kept at zero") {
    val corpus = Seq((10L, "one two three four extra words here"))
      .toDF("doc_id", "text")
    val bench = Seq(
      (0L, "one two three nine ten eleven"), // 4 grams, 1 in corpus
      (1L, "wholly fresh unseen content")    // 2 grams, 0 hits
    ).toDF("doc_id", "text")
    val out = graft.ext.Corpus.benchOverlap(bench, corpus).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.toSeq shouldBe Seq((0L, 4L, 1L, 0.25), (1L, 2L, 0L, 0.0))
  }

  test("sourceOverlap: pairwise shingle-set Jaccard; disjoint pairs absent") {
    val d = Seq(
      (0L, "a b c d", "A"), (1L, "a b c e", "B"), (2L, "x y z w", "C"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // A = {abc, bcd}, B = {abc, bce}: 1 common of 3 distinct
    out(("A", "B")) shouldBe ((1L, 1.0 / 3))
    // C shares nothing: the sparse output simply has no row
    out.keySet shouldBe Set(("A", "B"))
  }

  test("cellSample: generous budget keeps every vector, tight budget thins") {
    val vecs = (0L until 40L).map { i =>
      val r = new java.util.Random(i)
      (i, Array.fill(4)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val all = Similarity.cellSample(vecs, perCell = 1000L, nCentroids = 4)
      .collect()
    all.length shouldBe 40 // rate 1.0 everywhere
    val thin = Similarity.cellSample(vecs, perCell = 2L, nCentroids = 4)
      .collect().map(_.getLong(0)).toSet
    thin.size should be < 40
    // deterministic: the same call selects the same ids
    Similarity.cellSample(vecs, perCell = 2L, nCentroids = 4)
      .collect().map(_.getLong(0)).toSet shouldBe thin
  }

  test("sourceKl: off-mixture source scores high, corpus-average source near zero") {
    val d = Seq((0L, "a a b", "A"), (1L, "b", "B"))
      .toDF("doc_id", "text", "source")
    val out = TextStats.sourceKl(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // corpus: a:2 b:2, T=4. A holds a:2 b:1 (Ts=3), B holds b:1 (Ts=1)
    def q9(p: Double, q: Double) = math.round(p * math.log(p / q) * 1e9)
    out("A") shouldBe ((3L, 2L,
      (q9(2.0 / 3, 0.5) + q9(1.0 / 3, 0.5)) / 1e9))
    out("B") shouldBe ((1L, 1L, q9(1.0, 0.5) / 1e9))
    // B is pure-tail (all mass on one token): strictly larger drift
    out("B")._3 should be > out("A")._3
  }

  test("zipfSlope: OLS over (rank, count) reproduces the hand fit") {
    // one group, counts 4/2/1 -> ranks 1/2/3
    val d = Seq((0L, "t t t t u u v", "en")).toDF("doc_id", "text", "lang")
    val row = TextStats.zipfSlope(d, topN = 500).collect().head
    row.getString(0) shouldBe "en"
    row.getLong(1) shouldBe 3L
    val pairs = Seq((1L, 4L), (2L, 2L), (3L, 1L))
    def g9(v: Double) = math.round(v * 1e9)
    val (n, sx, sy, sxy, sxx) = (pairs.size.toDouble,
      pairs.map(p => g9(math.log(p._1.toDouble))).sum.toDouble,
      pairs.map(p => g9(math.log(p._2.toDouble))).sum.toDouble,
      pairs.map(p => g9(math.log(p._1.toDouble) * math.log(p._2.toDouble))).sum.toDouble,
      pairs.map(p => g9(math.log(p._1.toDouble) * math.log(p._1.toDouble))).sum.toDouble)
    val slope = (n * sxy / 1e9 - sx * sy / 1e18) / (n * sxx / 1e9 - sx * sx / 1e18)
    row.getDouble(2) shouldBe slope
    row.getDouble(3) shouldBe (sy / 1e9 - slope * (sx / 1e9)) / n
    // counts 4/2/1 over ranks 1/2/3: negative, in the Zipf-ish range
    slope should be < -1.0
  }

  test("charEntropy9: grid-summed code-point entropy; degenerate strings zero") {
    import org.apache.spark.unsafe.types.UTF8String
    def e(s: String) = graft.plans.Native.charEntropy9(UTF8String.fromString(s))
    e("") shouldBe 0L
    e("aaaa") shouldBe 0L // single symbol: -1·ln(1) = 0
    val expected = math.round(-(2.0 / 3) * math.log(2.0 / 3) * 1e9) +
      math.round(-(1.0 / 3) * math.log(1.0 / 3) * 1e9)
    e("aab") shouldBe expected
    // permutation-invariant (distribution, not sequence)
    e("aba") shouldBe expected
    // codegen path agrees with the direct call
    val viaCol = Seq("aab").toDF("text")
      .select(graft.plans.NativeFunctions.charEntropy9($"text")).head.getLong(0)
    viaCol shouldBe expected
  }

  test("pmiBigrams: collocation scores match the closed form, ties break on grams") {
    val d = Seq((0L, "x y"), (1L, "x y"), (2L, "x z")).toDF("doc_id", "text")
    val out = TextStats.pmiBigrams(d, minCount = 1L, k = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // bigrams (x,y):2 (x,z):1 of B=3; unigrams x:3 y:2 z:1 of T=6
    // PMI(x,y) = ln((2/3)/((3/6)(2/6))) = ln 4 = PMI(x,z) — a tie, so
    // the gram tie-break orders (x,y) first
    val ln4 = math.round(math.log(4.0) * 1e9) / 1e9
    out.toSeq shouldBe Seq(("x", "y", 2L, ln4), ("x", "z", 1L, ln4))
  }

  test("trigram LM: interpolation mixes seen ML terms, floors on add-one unigram") {
    val train = Seq((0L, "a b a c")).toDF("doc_id", "text")
    val score = Seq((1L, "a b a z"), (2L, "x y")).toDF("doc_id", "text")
    val out = TextStats.trigramLogProb(score, train).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    out.keySet shouldBe Set(1L) // a 2-token doc has no trigram positions
    out(1L)._1 shouldBe 2L
    // train: trigrams (a,b,a),(b,a,c); bigrams (a,b),(b,a),(a,c); unigrams
    // a:2 b:1 c:1, T=4, V=3. Scored positions of "a b a z":
    //   (a,b,a): p3 = 1/1, p2 = c(b,a)/c(b) = 1/1, p1 = (2+1)/7
    //   (b,a,z): trigram+bigram(a,z) unseen -> 0; p1 = (0+1)/7
    val p1 = 0.5 * 1.0 + 0.3 * 1.0 + 0.2 * 3.0 / 7
    val p2 = 0.2 * 1.0 / 7
    val expected = (math.round(math.log(p1) * 1e9) +
      math.round(math.log(p2) * 1e9)) / (2L * 1e9)
    out(1L)._2 shouldBe expected
    out.values.foreach(v => (v._2.isNaN || v._2.isInfinite) shouldBe false)
  }

  test("worstWindow: argmin over rolling spans, earliest tie wins, short docs NULL") {
    val d = Seq((0L, "a a b a a"), (1L, "z")).toDF("doc_id", "text")
    val out = TextStats.worstWindow(d, window = 2).orderBy("doc_id").collect()
    // self-corpus counts: a:4 b:1 z:1, total 6
    val lpA = math.round(math.log(4.0 / 6) * 1e9)
    val lpB = math.round(math.log(1.0 / 6) * 1e9)
    out(0).getLong(1) shouldBe 5L
    // windows ending at pos 1..4 sum (a,a),(a,b),(b,a),(a,a); the two
    // (a,b)-mix spans tie for worst -> earliest start (pos 1) wins
    out(0).getLong(2) shouldBe 1L
    out(0).getDouble(3) shouldBe (lpA + lpB) / (2 * 1e9)
    // 1-token doc: no full window -> NULL start and score, count kept
    out(1).getLong(1) shouldBe 1L
    out(1).isNullAt(2) shouldBe true
    out(1).isNullAt(3) shouldBe true
    // the fused kernel path (now the default) matches the windowed
    // Column formulation row-for-row on a larger mixed corpus, NULLs,
    // ties, and all — including the real test table
    val big = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).sortBy(_._1).toSeq
    canon(TextStats.worstWindow(big, window = 10)) shouldBe
      canon(TextStats.worstWindowWindowed(big, window = 10))
    canon(TextStats.worstWindow(d, window = 2)) shouldBe
      canon(TextStats.worstWindowWindowed(d, window = 2))
  }

  test("chunkDocs: overlapping windows cover every token; empty docs vanish") {
    import graft.ext.Corpus
    val d = Seq((0L, "a b c d e"), (1L, ""), (2L, "x")).toDF("doc_id", "text")
    val rows = Corpus.chunkDocs(d, chunkTokens = 3, strideTokens = 2)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getString(5)))
    rows.toSeq shouldBe Seq(
      (0L, 0, 0L, 3L, "a b c"),
      (0L, 1, 2L, 5L, "c d e"),
      (0L, 2, 4L, 5L, "e"),
      (2L, 0, 0L, 1L, "x"))
    // stride == chunk: disjoint exact cover
    val flat = Corpus.chunkDocs(d, chunkTokens = 2, strideTokens = 2)
      .where($"doc_id" === 0L).orderBy("chunk_idx").collect()
      .map(r => (r.getLong(2), r.getLong(3))).toSeq
    flat shouldBe Seq((0L, 2L), (2L, 4L), (4L, 5L))
  }

  test("windowed decontamination flags verbatim runs, not incidental n-grams") {
    import graft.ext.Corpus
    val quote = "one two three four five six seven eight"
    val corpus = Seq(
      (1L, s"prefix words then $quote and a tail"),   // verbatim leak
      (2L, "one two three and seven eight are digits spelled out here"), // shares 3-grams only
      (3L, "wholly unrelated content sentence with enough tokens")
    ).toDF("doc_id", "text")
    val bench = Seq((0L, s"benchmark question contains $quote exactly"))
      .toDF("doc_id", "text")
    val windowed = Corpus.decontaminateSubstring(corpus, bench, windowTokens = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    windowed.keySet shouldBe Set(1L) // only the verbatim leak
    // the 3-gram check also flags doc 2 — the over-flagging this
    // variant exists to avoid
    val gram3 = Corpus.decontaminate(corpus, bench)
      .collect().map(_.getLong(0)).toSet
    gram3 should contain allOf (1L, 2L)
  }

  test("applyDedup keeps representatives and untouched docs only") {
    import spark.implicits._
    val corpus = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "rep")
    Dedup.applyDedup(corpus, clusters).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 4L, 5L)
  }

  test("language id picks the dominant marker language") {
    val df = Seq(
      (0L, "the cat and the dog of the house is big"),
      (1L, "der hund und die katze ist nicht hier"),
      (2L, "le chat et les chiens est la"),
      (3L, "xyzzy plugh qwerty")
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id", TextStats.langId($"text").as("l")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out(0L) shouldBe "en"
    out(1L) shouldBe "de"
    out(2L) shouldBe "fr"
    out(3L) shouldBe "und"
  }

  test("fingerprint: matches the rolling-hash definition; whitespace-insensitive") {
    val df = Seq((0L, "Hello  World"), (1L, "hello world"), (2L, "hello world!"))
      .toDF("doc_id", "text")
    val out = df.select($"doc_id", TextStats.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var acc = 0L
    "hello world".foreach(c => acc = (acc * 31 + c.toLong) % 1000000007L)
    out(0L) shouldBe acc          // case/extra-space normalized
    out(1L) shouldBe acc
    out(2L) should not be acc
    // the fused kernel ≡ the rollingHash(array_join(tokens)) composition
    // it replaced, on edge shapes (empty, whitespace-only, unicode)
    val edge = Seq((0L, ""), (1L, "   "), (2L, "ÄBC  Def"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val fused = edge.select($"doc_id", TextStats.fingerprint($"text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val composed = edge.select($"doc_id", graft.plans.NativeFunctions
        .rollingHash(array_join(TextStats.tokens($"text"), " ")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    fused shouldBe composed
  }

  test("composed near-dup pipeline: LSH candidates -> exact verify -> clusters") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the red barn"),
      (1L, "the quick brown fox jumps over the lazy dog near the red barn"),   // exact dup
      (2L, "the quick brown fox jumps over the lazy dog near the red fence"),  // near dup
      (3L, "completely unrelated text about spark query engines and columnar formats"),
      (4L, "another unrelated document mentioning streams and watermarks only")
    ).toDF("doc_id", "text")
    val clusters = Dedup.nearDuplicates(corpus, minJaccard = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    clusters(0L) shouldBe 0L
    clusters(1L) shouldBe 0L   // exact dup joins doc 0's cluster
    clusters(2L) shouldBe 0L   // near dup verified and clustered
    clusters.contains(3L) shouldBe false // unrelated docs emit nothing
    clusters.contains(4L) shouldBe false
  }

  test("exact pre-pass preserves the full-corpus near-dup clusters") {
    // planted shape: two multi-copy identical groups, a near-dup link
    // BETWEEN groups (via each group's text), a singleton near-dup, and
    // unrelated docs — exercises inter-group edges surviving rep
    // contraction, star edges, and singleton-vs-group pairing
    val base = "the quick brown fox jumps over the lazy dog near the red"
    val corpus = Seq(
      (0L, s"$base barn"), (1L, s"$base barn"), (2L, s"$base barn"),  // group A ×3
      (3L, s"$base fence"), (4L, s"$base fence"),                     // group B ×2 (near-dup of A)
      (5L, s"$base gate"),                                            // singleton near-dup of A/B
      (6L, "completely unrelated text about spark query engines and columnar formats"),
      (7L, "another unrelated document mentioning streams and watermarks only"),
      (8L, ""), (9L, "")                                              // empty-doc group
    ).toDF("doc_id", "text")
    // the pre-round-11 direct formulation: LSH + verify over EVERY doc
    val cand = Dedup.minhashLshPairs(corpus, maxBucketSize = Int.MaxValue)
    val grams = corpus.select($"doc_id",
      explode(graft.plans.NativeFunctions.hashedShingles($"text", 3)).as("g"))
    val sizes = grams.groupBy("doc_id").agg(count("*").as("n"))
    val direct = Dedup.duplicateClusters(cand
      .join(grams.select($"doc_id".as("a"), $"g"), "a")
      .join(grams.select($"doc_id".as("b"), $"g"), Seq("b", "g"))
      .groupBy("a", "b").agg(count(lit(1)).as("nc"))
      .join(sizes.select($"doc_id".as("a"), $"n".as("na")), "a")
      .join(sizes.select($"doc_id".as("b"), $"n".as("nb")), "b")
      .where($"nc".cast("double") / ($"na" + $"nb" - $"nc") >= 0.5)
      .select("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prePass = Dedup.nearDuplicates(corpus, minJaccard = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    prePass shouldBe direct
    // sanity on the planted shape itself
    prePass(1L) shouldBe 0L
    prePass(4L) shouldBe prePass(3L)
    prePass(8L) shouldBe 8L; prePass(9L) shouldBe 8L
  }

  test("identical-doc flood: representatives, not members, reach the LSH join") {
    // 1000 byte-identical docs — the input shape that made the
    // pre-cap pipeline quadratic (one k²/2-pair cell in EVERY band)
    val flood = (0L until 1000L).map(i =>
      (i, "boilerplate cookie banner text repeated verbatim across the whole crawl"))
    val distinctTail = Seq(
      (2000L, "the quick brown fox jumps over the lazy dog near the red barn"),
      (2001L, "the quick brown fox jumps over the lazy dog near the red fence"))
    val corpus = (flood ++ distinctTail).toDF("doc_id", "text")
    val clusters = Dedup.nearDuplicates(corpus, minJaccard = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // all 1000 collapse to the min id; the near-dup tail pairs normally
    (0L until 1000L).foreach(i => clusters(i) shouldBe 0L)
    clusters(2001L) shouldBe 2000L
    // the LSH stage saw 3 distinct texts — its candidate set is the
    // tail pair plus nothing from the flood (1 representative cannot
    // self-pair); the uncapped full-corpus banding would have produced
    // 1000·999/2 flood pairs
    val reps = corpus.where($"doc_id".isin(0L, 2000L, 2001L))
    Dedup.minhashLshPairs(reps).count() should be <= 1L
  }

  test("bucket cap drops only overflowing cells; overflow diagnostic reports them") {
    val flood = (0L until 10L).map(i => (i, "identical boilerplate banner text row"))
    val pair = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the red barn"),
      (101L, "the quick brown fox jumps over the lazy dog near the red barn"))
    val corpus = (flood ++ pair).toDF("doc_id", "text")
    // cap below the flood size: the 10-doc cells vanish from pair
    // generation, the 2-doc cells survive
    val capped = Dedup.minhashLshPairs(corpus, maxBucketSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    capped shouldBe Set((100L, 101L))
    // diagnostic names the dropped cells: the flood fills one bucket in
    // each of the 8 bands
    val over = Dedup.minhashBucketOverflow(corpus, maxBucketSize = 5)
      .collect().map(r => r.getAs[Long]("n"))
    over.length shouldBe 8
    all(over) shouldBe 10L
    // same guard on the simhash side (4 chunk cells of 10)
    Dedup.simhashPairs(corpus, maxBucketSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((100L, 101L))
    val simOver = Dedup.simhashBucketOverflow(corpus, maxBucketSize = 5)
      .collect().map(r => r.getAs[Long]("n"))
    simOver.length shouldBe 4
    all(simOver) shouldBe 10L
    // cap disabled reproduces the uncapped pair set (flood clique included)
    Dedup.minhashLshPairs(corpus, maxBucketSize = Int.MaxValue)
      .count() shouldBe (10L * 9L / 2L + 1L)
  }

  test("squeezeRepeats drops consecutive duplicate tokens, case-sensitively, idempotently") {
    import graft.ext.TextStats
    val docs = Seq(
      (0L, "a a b b b c a"),
      (1L, "The the THE the"),          // case-sensitive: only exact repeats drop
      (2L, "no repeats here at all"),
      (3L, "x")
    ).toDF("doc_id", "text")
    val out = TextStats.squeezeRepeats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    out(0L) shouldBe (("a b c a", 4L, 3L))
    out(1L) shouldBe (("The the THE the", 4L, 0L))
    out(2L) shouldBe (("no repeats here at all", 5L, 0L))
    out(3L) shouldBe (("x", 1L, 0L))
    // idempotent: squeezing the cleaned text drops nothing further
    val again = TextStats.squeezeRepeats(
      TextStats.squeezeRepeats(docs).select($"doc_id", $"text_clean".as("text")))
    again.agg(sum("n_dropped")).head().getLong(0) shouldBe 0L
  }

  test("winnowing: shared 6-token run guarantees a shared fingerprint; short docs fingerprint once") {
    import graft.ext.Dedup
    // gramN=3, window=4 ⇒ any shared run of 3+4-1 = 6 tokens must
    // contribute at least one shared fingerprint (the winnowing
    // guarantee); plant one such run inside otherwise-different docs
    val run = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, s"one two three $run four five six"),
      (1L, s"seven eight nine ten $run eleven"),
      (2L, "completely different words entirely here now with nothing shared"),
      (3L, "tiny doc") // < gramN tokens: whole-sequence gram, one fingerprint
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (byDoc(0L) intersect byDoc(1L)) should not be empty
    (byDoc(0L) intersect byDoc(2L)) shouldBe empty
    byDoc(3L).size shouldBe 1
    // density: winnowing keeps a strict subset of the full window set
    byDoc(0L).size should be < 13 // doc 0 has 15 tokens → 13 grams
    // the pair finder surfaces exactly the planted pair at minShared=1
    Dedup.winnowPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((0L, 1L))
  }

  test("cellOutliers: bottom-k per cell, farthest first, within-cell ranks complete") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.cellOutliers(emb, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    // per cell: ranks are exactly 1..min(k, |cell|), cosine ascending
    out.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._3)
      sorted.map(_._3).toSeq shouldBe (1 to sorted.length)
      sorted.map(_._4).toSeq shouldBe sorted.map(_._4).sorted.toSeq
    }
    // rank 1 really is the cell's minimum centroid cosine: check one
    // cell against the full assignment
    val cells = Similarity.assignCells(emb)
    val cid0 = out.head._2
    val idsInCell = cells.where($"cid" === cid0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val worst = out.filter(o => o._2 == cid0 && o._3 == 1).head
    idsInCell should contain(worst._1)
  }

  test("duplicate clusters: min-label propagation resolves chains and cliques") {
    // components: {1,2,3} (chain), {10,11} (pair), {20,21,22,23} (chain of 4)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L))
      .toDF("a", "b")
    val out = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(1L) shouldBe 1L
    out(2L) shouldBe 1L
    out(3L) shouldBe 1L
    out(10L) shouldBe 10L
    out(11L) shouldBe 10L
    Seq(20L, 21L, 22L, 23L).map(out) shouldBe Seq(20L, 20L, 20L, 20L)
  }

  test("duplicate clusters: 100- and 400-id paths in shuffled id order converge at the default bound") {
    // a path whose ids are a seeded shuffle: consecutive path steps
    // jump around the id order, the shape that defeats raw-id label
    // propagation; contraction orders vertices by hash and must land
    // every id on the path's min id well inside the default bound
    val rnd = new scala.util.Random(11)
    Seq(100, 400).foreach { n =>
      val ids = rnd.shuffle((0 until n).map(i => 1000L + 7L * i))
      val path = ids.zip(ids.tail)
      val out = Dedup.duplicateClusters(path.toDF("a", "b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"n=$n: ") {
        out shouldBe refComponents(path).map { case (id, (rep, _)) => id -> rep }
        out.values.toSet shouldBe Set(1000L)
      }
    }
  }

  test("duplicate clusters: degenerate pairs — nulls dropped, self-pairs add no id, strings resolve to the min string") {
    def clusters(df: org.apache.spark.sql.DataFrame) =
      Dedup.duplicateClusters(df).collect()
        .map(r => r.get(0) -> r.get(1)).toMap
    // a null endpoint names no edge: id 3 (only ever paired with null)
    // gets no row, and no (null, _) row appears
    val withNull = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (null, 3L), (4L, null), (2L, 4L)).toDF("a", "b")
    clusters(withNull) shouldBe
      Map(1L -> 1L, 2L -> 1L, 4L -> 1L)
    // a self-pair adds no vertex (absent ids are their own rep)
    clusters(Seq((5L, 5L), (6L, 7L)).toDF("a", "b")) shouldBe
      Map(6L -> 6L, 7L -> 6L)
    // string ids: representative is the min string of the component
    val strPairs = Seq("m" -> "c", "c" -> "x", "q" -> "b", "z" -> "z")
    clusters(strPairs.toDF("a", "b")) shouldBe
      refComponents(strPairs).map { case (id, (rep, _)) => id -> rep }
    // duplicate pairs (either direction) change nothing; empty input
    // yields an empty frame
    val dup = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L))
    clusters(dup.toDF("a", "b")) shouldBe
      refComponents(dup).map { case (id, (rep, _)) => id -> rep }
    Dedup.duplicateClusters(Seq.empty[(Long, Long)].toDF("a", "b"))
      .count() shouldBe 0L
  }

  test("batch decode (mapPartitions): typed output, deterministic, matches payload size") {
    val media = Multimodal.asMediaFrame(docs)
    val out = Multimodal.decodeBatched(media).collect().sortBy(_.media_id)
    out.length shouldBe 5
    out.foreach { d =>
      d.width should (be >= 1 and be <= 1920)
      d.height should (be >= 1 and be <= 1080)
      d.duration_s should (be >= 1 and be <= 600)
    }
    // identical payloads (docs 0,1) decode identically
    out(0).width shouldBe out(1).width
    out(0).n_bytes shouldBe out(1).n_bytes
    val again = Multimodal.decodeBatched(media).collect().sortBy(_.media_id)
    again.map(_.width).toSeq shouldBe out.map(_.width).toSeq
  }

  test("multimodal: meta/resize/frames plumbing has the right shapes") {
    val media = Multimodal.withMeta(Multimodal.asMediaFrame(docs))
    media.count() shouldBe 5
    val m = media.head()
    m.getAs[org.apache.spark.sql.Row]("meta").getAs[Int]("width") should be >= 1
    val resized = Multimodal.resize(media, 64)
    val rm = resized.collect().map(_.getAs[org.apache.spark.sql.Row]("meta"))
    all(rm.map(_.getAs[Int]("width")).toSeq) should be <= 64
    all(rm.map(_.getAs[Int]("height")).toSeq) should be <= 64
    val frames = Multimodal.sampleFrames(media, 60)
    frames.columns.toSeq shouldBe Seq("media_id", "frame_ts", "frame_payload")
    val feats = Multimodal.features(Multimodal.asMediaFrame(docs))
    feats.head().getAs[Seq[Double]]("feature").length shouldBe 8
  }

  // hand-built WAV container: canonical 44-byte PCM header, optionally
  // with a LIST chunk wedged between fmt and data (non-canonical layout)
  private def wavBytes(sampleRate: Int, channels: Int, bits: Int,
      dataLen: Int, extraChunk: Boolean = false): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val extra = if (extraChunk) 8 + 10 else 0
    val bb = ByteBuffer.allocate(44 + extra + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    val byteRate = sampleRate * channels * bits / 8
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + extra + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate).putInt(byteRate)
      .putShort((channels * bits / 8).toShort).putShort(bits.toShort)
    if (extraChunk)
      bb.put("LIST".getBytes("US-ASCII")).putInt(10).put(Array.fill[Byte](10)(0x7f))
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      .put(Array.tabulate[Byte](dataLen)(i => (i % 251).toByte))
    bb.array()
  }

  test("MediaCodecs.parseWav: canonical + chunk-walk layouts; malformed -> None") {
    val w = graft.ext.MediaCodecs.parseWav(wavBytes(8000, 2, 16, 64000)).get
    w.sampleRate shouldBe 8000
    w.channels shouldBe 2
    w.bitsPerSample shouldBe 16
    w.byteRate shouldBe 32000
    w.dataBytes shouldBe 64000L
    w.durationS shouldBe 2 // ceil(64000 / 32000)
    // ceil rounding: one extra byte of data bumps the duration
    graft.ext.MediaCodecs.parseWav(wavBytes(8000, 2, 16, 64001)).get.durationS shouldBe 3
    // non-canonical: LIST chunk before data — the chunk walk finds both
    val nc = graft.ext.MediaCodecs.parseWav(
      wavBytes(44100, 1, 8, 44100, extraChunk = true)).get
    nc.sampleRate shouldBe 44100
    nc.durationS shouldBe 1
    // malformed: wrong magic, truncated header
    graft.ext.MediaCodecs.parseWav("RIFFxxxxDATA".getBytes) shouldBe None
    graft.ext.MediaCodecs.parseWav(wavBytes(8000, 2, 16, 64000).take(30)) shouldBe None
  }

  // minimal BMP: 14-byte file header + 40-byte BITMAPINFOHEADER, no pixels
  private def bmpBytes(width: Int, height: Int, bpp: Int = 24): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val bb = ByteBuffer.allocate(54).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54).putShort(0).putShort(0).putInt(54)
    bb.putInt(40).putInt(width).putInt(height).putShort(1).putShort(bpp.toShort)
      .putInt(0).putInt(0).putInt(2835).putInt(2835).putInt(0).putInt(0)
    bb.array()
  }

  test("media parsers: round-trip random headers; never throw on fuzzed bytes") {
    import graft.ext.MediaCodecs
    val r = new scala.util.Random(20260813L)
    // round-trip: builder params survive the parse exactly
    for (_ <- 1 to 200) {
      val (rate, ch, bits) = (1 + r.nextInt(192000), 1 + r.nextInt(8),
        Seq(8, 16, 24, 32)(r.nextInt(4)))
      val dataLen = r.nextInt(100000)
      val w = MediaCodecs.parseWav(
        wavBytes(rate, ch, bits, dataLen, extraChunk = r.nextBoolean())).get
      w.sampleRate shouldBe rate
      w.channels shouldBe ch
      w.bitsPerSample shouldBe bits
      w.dataBytes shouldBe dataLen.toLong
      val bw = 1 + r.nextInt(10000)
      val bh = (if (r.nextBoolean()) 1 else -1) * (1 + r.nextInt(10000))
      val b = MediaCodecs.parseBmp(bmpBytes(bw, bh)).get
      b.width shouldBe bw
      b.height shouldBe math.abs(bh)
      val (jw, jh) = (1 + r.nextInt(65535), 1 + r.nextInt(65535))
      val j = MediaCodecs.parseJpeg(jpegBytes(jw, jh)).get
      j.width shouldBe jw
      j.height shouldBe jh
      val (pw, ph) = (1 + r.nextInt(1000000), 1 + r.nextInt(1000000))
      val p = MediaCodecs.parsePng(pngBytes(pw, ph)).get
      p.width shouldBe pw
      p.height shouldBe ph
      val (gw, gh) = (1 + r.nextInt(65535), 1 + r.nextInt(65535))
      val g = MediaCodecs.parseGif(gifBytes(gw, gh,
        if (r.nextBoolean()) "89a" else "87a")).get
      g.width shouldBe gw
      g.height shouldBe gh
      val (ts, du) = (1 + r.nextInt(100000), r.nextInt(1 << 30).toLong)
      val (mw, mh, nt) = (1 + r.nextInt(4096), 1 + r.nextInt(4096), 1 + r.nextInt(5))
      val m = MediaCodecs.parseMp4(mp4Bytes(du, ts, nt, mw, mh,
        v1 = r.nextBoolean(), largesizeMoov = r.nextBoolean())).get
      m.durationS shouldBe ((du + ts - 1) / ts).toInt
      m.trackCount shouldBe nt
      m.width shouldBe mw
      m.height shouldBe mh
    }
    // fuzz: random bytes, random truncations of valid headers, and
    // magic-prefixed garbage must return None/Some — never throw
    for (i <- 1 to 2000) {
      val len = r.nextInt(200)
      val junk = Array.fill[Byte](len)(r.nextInt(256).toByte)
      MediaCodecs.parseWav(junk)
      MediaCodecs.parseBmp(junk)
      MediaCodecs.parseJpeg(junk)
      MediaCodecs.parsePng(junk)
      MediaCodecs.parseGif(junk)
      MediaCodecs.parseMp4(junk)
      val valid = i % 6 match {
        case 0 => wavBytes(8000, 2, 16, 1000, extraChunk = true)
        case 1 => bmpBytes(64, 64)
        case 2 => jpegBytes(64, 64)
        case 3 => pngBytes(64, 64)
        case 4 => mp4Bytes(600L, 100, 2, 64, 64)
        case _ => gifBytes(64, 64)
      }
      val cut = valid.take(r.nextInt(valid.length + 1))
      MediaCodecs.parseWav(cut); MediaCodecs.parseBmp(cut); MediaCodecs.parseJpeg(cut)
      MediaCodecs.parsePng(cut); MediaCodecs.parseGif(cut); MediaCodecs.parseMp4(cut)
      // ftyp-prefixed garbage exercises the box walk's overrun guards
      MediaCodecs.parseMp4(
        Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes("US-ASCII") ++ junk)
      val prefixed = ("RIFF" + "BM" + "ÿØ" + "PNG" + "GIF8")
        .getBytes("ISO-8859-1") ++ junk
      MediaCodecs.parseWav(prefixed); MediaCodecs.parseBmp(prefixed)
      MediaCodecs.parseJpeg(prefixed); MediaCodecs.parsePng(prefixed)
      MediaCodecs.parseGif(prefixed); MediaCodecs.parseMp4(prefixed)
    }
  }

  test("MediaCodecs.parseBmp: dimensions, top-down height, text rejection") {
    val b = graft.ext.MediaCodecs.parseBmp(bmpBytes(640, 480)).get
    b.width shouldBe 640
    b.height shouldBe 480
    b.bitsPerPixel shouldBe 24
    // negative stored height = top-down row order; reported as absolute
    graft.ext.MediaCodecs.parseBmp(bmpBytes(320, -200)).get.height shouldBe 200
    // a text payload starting "BM" fails the planes/bpp structural guard
    val text = ("BM" + "x" * 60).getBytes("US-ASCII")
    graft.ext.MediaCodecs.parseBmp(text) shouldBe None
    // illegal depth rejected
    graft.ext.MediaCodecs.parseBmp(bmpBytes(10, 10, bpp = 7)) shouldBe None
  }

  // minimal PNG: 8-byte signature + IHDR chunk (length, type, 13-byte
  // body, dummy crc); big-endian throughout
  private def pngBytes(width: Int, height: Int, depth: Int = 8,
      colorType: Int = 6): Array[Byte] = {
    import java.nio.ByteBuffer
    val bb = ByteBuffer.allocate(8 + 4 + 4 + 13 + 4) // big-endian by default
    bb.put(graft.ext.MediaCodecs.PngMagic)
    bb.putInt(13).put("IHDR".getBytes("US-ASCII"))
      .putInt(width).putInt(height)
      .put(depth.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte) // compression/filter/interlace
    bb.putInt(0) // crc (unchecked)
    bb.array()
  }

  // minimal GIF: magic + version, little-endian u16 canvas dims, packed
  // byte, background index, aspect ratio
  private def gifBytes(width: Int, height: Int,
      version: String = "89a"): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val bb = ByteBuffer.allocate(13).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(("GIF" + version).getBytes("US-ASCII"))
      .putShort(width.toShort).putShort(height.toShort)
      .put(0x70.toByte).put(0.toByte).put(0.toByte)
    bb.array()
  }

  // minimal JPEG: SOI, APP0 shell, SOF0 frame header, EOI
  private def jpegBytes(width: Int, height: Int,
      progressive: Boolean = false): Array[Byte] = {
    import java.nio.ByteBuffer
    val bb = ByteBuffer.allocate(2 + 18 + 19 + 2) // big-endian by default
    bb.putShort(0xffd8.toShort)
    bb.putShort(0xffe0.toShort).putShort(16).put(Array.fill[Byte](14)(0x4a))
    bb.putShort((if (progressive) 0xffc2 else 0xffc0).toShort).putShort(17)
      .put(8.toByte).putShort(height.toShort).putShort(width.toShort)
      .put(3.toByte).put(Array.fill[Byte](9)(0x11))
    bb.putShort(0xffd9.toShort)
    bb.array()
  }

  // minimal MP4/ISO-BMFF: ftyp, then moov{mvhd, trak{tkhd}...}, then a
  // trailing free box; big-endian throughout. First track carries the
  // video dimensions (16.16 fixed point); the rest are 0x0 audio-style.
  private def mp4Bytes(durationUnits: Long, timescale: Int, nTracks: Int,
      vWidth: Int = 0, vHeight: Int = 0, v1: Boolean = false,
      largesizeMoov: Boolean = false): Array[Byte] = {
    import java.nio.ByteBuffer
    def box(tp: String, body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length).put(tp.getBytes("US-ASCII")).put(body)
      bb.array()
    }
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 2, 0) ++
        "isomiso2".getBytes("US-ASCII"))
    val mvhd = if (!v1) {
      val bb = ByteBuffer.allocate(100)
      bb.putInt(0)                 // version 0 + flags
        .putInt(0).putInt(0)       // creation, modification
        .putInt(timescale).putInt(durationUnits.toInt)
      box("mvhd", bb.array())      // rest zeros (rate..next_track)
    } else {
      val bb = ByteBuffer.allocate(112)
      bb.putInt(0x01000000)        // version 1 + flags
        .putLong(0).putLong(0)
        .putInt(timescale).putLong(durationUnits)
      box("mvhd", bb.array())
    }
    def trak(w: Int, h: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(84) // v0 tkhd body
      bb.position(76)
      bb.putInt(w << 16).putInt(h << 16)
      box("trak", box("tkhd", bb.array()))
    }
    val traks = (0 until nTracks).toArray.flatMap(i =>
      if (i == 0) trak(vWidth, vHeight) else trak(0, 0))
    val moovBody = mvhd ++ traks
    val moov =
      if (!largesizeMoov) box("moov", moovBody)
      else {
        val bb = ByteBuffer.allocate(16 + moovBody.length)
        bb.putInt(1).put("moov".getBytes("US-ASCII"))
          .putLong(16L + moovBody.length).put(moovBody)
        bb.array()
      }
    ftyp ++ moov ++ box("free", Array.fill[Byte](7)(0))
  }

  test("MediaCodecs.parseMp4: mvhd duration, trak count, video tkhd dims") {
    import graft.ext.MediaCodecs
    // 90000 units at timescale 30000 = 3 s exactly; ceil bumps partials
    val m = MediaCodecs.parseMp4(mp4Bytes(90000L, 30000, 2, 640, 360)).get
    m.durationS shouldBe 3
    m.trackCount shouldBe 2
    m.width shouldBe 640
    m.height shouldBe 360
    m.brand shouldBe "isom"
    MediaCodecs.parseMp4(mp4Bytes(90001L, 30000, 1)).get.durationS shouldBe 4
    // version-1 mvhd (64-bit duration) and a largesize moov box
    val v1 = MediaCodecs.parseMp4(
      mp4Bytes(5000000000L, 1000, 3, 1920, 1080, v1 = true,
        largesizeMoov = true)).get
    v1.durationS shouldBe 5000000
    v1.trackCount shouldBe 3
    v1.width shouldBe 1920
    // audio-only: zero-dim tracks leave width/height 0
    val audio = MediaCodecs.parseMp4(mp4Bytes(44100L, 44100, 1)).get
    audio.width shouldBe 0
    audio.durationS shouldBe 1
    // structural guards: no ftyp magic, moov-less file, truncation
    MediaCodecs.parseMp4("this is just text long enough to scan".getBytes) shouldBe None
    MediaCodecs.parseMp4(mp4Bytes(1L, 1, 1).take(24)) shouldBe None
    // kernel path surfaces the parsed facts (track count via channels)
    val media = Seq((1L, "video", mp4Bytes(600L, 100, 2, 320, 240)))
      .toDF("media_id", "kind", "payload")
    val d = Multimodal.decodeBatched(media).collect().head
    d.width shouldBe 320
    d.height shouldBe 240
    d.duration_s shouldBe 6
    d.channels shouldBe 2
  }

  test("MediaCodecs.parseJpeg: SOF dimensions after marker walk; malformed -> None") {
    val j = graft.ext.MediaCodecs.parseJpeg(jpegBytes(800, 600)).get
    j.width shouldBe 800
    j.height shouldBe 600
    j.components shouldBe 3
    j.progressive shouldBe false
    graft.ext.MediaCodecs.parseJpeg(jpegBytes(64, 48, progressive = true))
      .get.progressive shouldBe true
    // kernel path surfaces the real dimensions
    val media = Seq((1L, "image", jpegBytes(320, 240)))
      .toDF("media_id", "kind", "payload")
    val d = Multimodal.decodeBatched(media).collect().head
    d.width shouldBe 320
    d.height shouldBe 240
    // not a JPEG / no SOF before EOI
    graft.ext.MediaCodecs.parseJpeg("plain text".getBytes) shouldBe None
    graft.ext.MediaCodecs.parseJpeg(
      Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)) shouldBe None
  }

  test("MediaCodecs.parsePng/parseGif: header facts; structural guards reject near-misses") {
    import graft.ext.MediaCodecs
    val p = MediaCodecs.parsePng(pngBytes(800, 600)).get
    p.width shouldBe 800
    p.height shouldBe 600
    p.bitDepth shouldBe 8
    p.colorType shouldBe 6
    // illegal bit depth / color type rejected
    MediaCodecs.parsePng(pngBytes(10, 10, depth = 3)) shouldBe None
    MediaCodecs.parsePng(pngBytes(10, 10, colorType = 5)) shouldBe None
    // zero dimensions rejected; truncation rejected
    MediaCodecs.parsePng(pngBytes(0, 10)) shouldBe None
    MediaCodecs.parsePng(pngBytes(800, 600).take(20)) shouldBe None
    val g = MediaCodecs.parseGif(gifBytes(320, 200, "87a")).get
    g.width shouldBe 320
    g.height shouldBe 200
    g.version shouldBe "87a"
    MediaCodecs.parseGif(gifBytes(1, 1)).get.version shouldBe "89a"
    // wrong version bytes / zero dims / text payloads rejected
    MediaCodecs.parseGif("GIF90a_not_a_gif!".getBytes) shouldBe None
    MediaCodecs.parseGif(gifBytes(0, 10)) shouldBe None
    MediaCodecs.parseGif("GIFt text starting with those bytes".getBytes) shouldBe None
  }

  test("decodeMeta/decodeBatched: png + gif parse on both paths, identical facts") {
    val media = Seq(
        (1L, "image", pngBytes(1920, 1080)),
        (2L, "image", gifBytes(640, 350)),
        (3L, "image", "just some text".getBytes))
      .toDF("media_id", "kind", "payload")
    val metas = Multimodal.withMeta(media).select("media_id", "meta")
      .collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    metas(1L).getAs[String]("format") shouldBe "png"
    metas(1L).getAs[Int]("width") shouldBe 1920
    metas(1L).getAs[Int]("height") shouldBe 1080
    metas(2L).getAs[String]("format") shouldBe "gif"
    metas(2L).getAs[Int]("width") shouldBe 640
    metas(2L).getAs[Int]("height") shouldBe 350
    metas(3L).getAs[String]("format") shouldBe "image" // stub path
    val dec = Multimodal.decodeBatched(media).collect()
      .map(d => d.media_id -> d).toMap
    for (id <- Seq(1L, 2L, 3L)) {
      dec(id).width shouldBe metas(id).getAs[Int]("width")
      dec(id).height shouldBe metas(id).getAs[Int]("height")
    }
  }

  test("parseWav clamps a truncated data chunk to the bytes present, both paths") {
    // declared 64000 data bytes but the container is cut 100 bytes in:
    // dataBytes degrades to the real count instead of the header claim
    val full = wavBytes(8000, 2, 16, 64000)
    val cut = full.take(44 + 100)
    val w = graft.ext.MediaCodecs.parseWav(cut).get
    w.dataBytes shouldBe 100L
    w.durationS shouldBe 1 // ceil(100 / 32000)
    // Column path clamps identically
    val media = Seq((1L, "audio", cut)).toDF("media_id", "kind", "payload")
    val m = Multimodal.withMeta(media).select("meta").head().getStruct(0)
    m.getAs[String]("format") shouldBe "wav"
    m.getAs[Int]("duration_s") shouldBe w.durationS
  }

  test("decodeMeta/decodeBatched: real bmp parse, column and kernel paths agree") {
    val media = Seq((1L, "image", bmpBytes(1280, 720)),
        (2L, "image", ("BM" + "y" * 80).getBytes("US-ASCII")))
      .toDF("media_id", "kind", "payload")
    val metas = Multimodal.withMeta(media).select("media_id", "meta")
      .collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    metas(1L).getAs[String]("format") shouldBe "bmp"
    metas(1L).getAs[Int]("width") shouldBe 1280
    metas(1L).getAs[Int]("height") shouldBe 720
    metas(1L).getAs[Int]("duration_s") shouldBe 0
    // BM-prefixed text stays on the stub path in BOTH engines
    metas(2L).getAs[String]("format") shouldBe "image"
    val dec = Multimodal.decodeBatched(media).collect()
      .map(d => d.media_id -> d).toMap
    dec(1L).width shouldBe 1280
    dec(1L).height shouldBe 720
    dec(2L).width shouldBe metas(2L).getAs[Int]("width")
  }

  test("decodeMeta/decodeBatched: real wav parse with stub fallback, paths agree") {
    val wav = wavBytes(16000, 1, 16, 48000) // byteRate 32000 -> 2 s
    val media = Seq((1L, "audio", wav), (2L, "audio", "not a wav at all".getBytes))
      .toDF("media_id", "kind", "payload")
    val metas = Multimodal.withMeta(media).select("media_id", "meta")
      .collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    val wm = metas(1L)
    wm.getAs[String]("format") shouldBe "wav"
    wm.getAs[Int]("sample_rate") shouldBe 16000
    wm.getAs[Int]("channels") shouldBe 1
    wm.getAs[Int]("duration_s") shouldBe 2
    wm.getAs[Int]("width") shouldBe 0
    // non-wav payload falls back to the md5 stub (format = kind, rate 0)
    metas(2L).getAs[String]("format") shouldBe "audio"
    metas(2L).getAs[Int]("sample_rate") shouldBe 0
    metas(2L).getAs[Int]("width") should be >= 1
    // kernel path agrees with the Column path on the canonical layout
    val dec = Multimodal.decodeBatched(media).collect()
      .map(d => d.media_id -> d).toMap
    dec(1L).sample_rate shouldBe 16000
    dec(1L).channels shouldBe 1
    dec(1L).duration_s shouldBe 2
    dec(2L).sample_rate shouldBe 0
    dec(2L).width shouldBe metas(2L).getAs[Int]("width")
  }

  test("splitAssign: total, deterministic, and stable under corpus growth") {
    import graft.ext.Corpus
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val small = (0L until 100L).toDF("doc_id")
    val big = (0L until 1000L).toDF("doc_id")
    val a = Corpus.splitAssign(small, fr, seed = 7L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // every row gets exactly one label from the fraction list
    a.values.toSet.subsetOf(Set("train", "val", "test")) shouldBe true
    a.size shouldBe 100
    // growing the corpus never reassigns an existing document
    val b = Corpus.splitAssign(big, fr, seed = 7L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    a.foreach { case (id, label) => b(id) shouldBe label }
    // proportions land near the weights at n=1000
    val counts = b.values.groupBy(identity).view.mapValues(_.size).toMap
    counts("train").toDouble should (be > 700.0 and be < 900.0)
    counts("val").toDouble should (be > 40.0 and be < 180.0)
    // a different seed is a different (but equally total) assignment
    val c = Corpus.splitAssign(small, fr, seed = 8L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    c should not equal a
  }

  test("stratifiedSample: quota per stratum, deterministic, subset-stable") {
    import graft.ext.Corpus
    val df = (0L until 1000L).toDF("doc_id")
      .withColumn("lang", when($"doc_id" % 2 === 0, "en").otherwise("rare"))
    val rates = Map("en" -> 0.2)
    val out = Corpus.stratifiedSample(df, "lang", rates,
      defaultRate = 1.0, seed = 7L).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // rate-1.0 stratum is kept whole; sampled stratum lands near 20%
    out.count(_._2 == "rare") shouldBe 500
    out.count(_._2 == "en").toDouble should (be > 50.0 and be < 150.0)
    // deterministic and subset-stable: the same doc_ids survive when
    // sampled from a larger corpus
    val again = Corpus.stratifiedSample(df, "lang", rates, 1.0, 7L).collect()
      .map(r => r.getLong(0)).toSet
    again shouldBe out.map(_._1).toSet
    val half = Corpus.stratifiedSample(df.where($"doc_id" < 500), "lang",
      rates, 1.0, 7L).collect().map(r => r.getLong(0)).toSet
    half shouldBe again.filter(_ < 500L)
  }

  test("decontaminate: flags only docs sharing an n-gram with the benchmark") {
    import graft.ext.Corpus
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a sly quick brown fox ran off"), // shares "quick brown fox"
      (2L, "entirely unrelated words here today"),
      (3L, "the quick brown fox jumps again and the quick brown fox naps"))
      .toDF("doc_id", "text")
    val out = Corpus.decontaminate(docs, bench).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.keySet shouldBe Set(1L, 3L)
    out(1L) shouldBe 1L // one overlapping distinct 3-gram
    // doc 3 shares: "the quick brown", "quick brown fox", "brown fox jumps"
    // (distinct grams — the repeat of "quick brown fox" counts once)
    out(3L) shouldBe 3L
  }

  test("weightedSample: per-row acceptance probability, deterministic") {
    import graft.ext.Corpus
    val df = (0L until 1000L).toDF("doc_id")
      .withColumn("w", when($"doc_id" % 2 === 0, 1.0).otherwise(0.0))
    val kept = Corpus.weightedSample(df, $"w", 7L).collect()
      .map(_.getAs[Long]("doc_id"))
    // weight 1 always survives, weight 0 never
    kept.length shouldBe 500
    all(kept.map(_ % 2)) shouldBe 0L
    // fractional weights: deterministic and near the expected rate
    val half = Corpus.weightedSample(df.withColumn("w", lit(0.3)), $"w", 7L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    half.size.toDouble should (be > 230.0 and be < 370.0)
    Corpus.weightedSample(df.withColumn("w", lit(0.3)), $"w", 7L)
      .collect().map(_.getAs[Long]("doc_id")).toSet shouldBe half
  }

  test("unigramLogProb: hand-checked averages; rare-token docs score lower") {
    import graft.ext.TextStats
    // corpus counts: a:2 b:2 c:1, total 5
    val docs = Seq((0L, "a a b"), (1L, "b c")).toDF("doc_id", "text")
    val out = TextStats.unigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    out(0L)._1 shouldBe 3L
    out(0L)._2 shouldBe math.log(0.4) +- 1e-9 // all tokens have p = 2/5
    out(1L)._2 shouldBe (math.log(0.4) + math.log(0.2)) / 2 +- 1e-9
    out(1L)._2 should be < out(0L)._2 // the rare-token doc scores lower
  }

  test("kmvDistinct: exact below k, close above k, partition-independent") {
    import graft.ext.Sketches
    val small = (0L until 40L).map(i => ("a", s"tok$i")).toDF("g", "v")
    Sketches.kmvDistinct(small, "g", "v", k = 64, seed = 7L)
      .head().getDouble(1) shouldBe 40.0 // below k: the sketch is exact
    // 2000 distinct values (each duplicated) estimated with k=64:
    // standard error ≈ 1/√62 ≈ 13%; assert a generous 3σ band
    val big = (0L until 4000L).map(i => ("b", s"tok${i / 2}")).toDF("g", "v")
    val est = Sketches.kmvDistinct(big, "g", "v", k = 64, seed = 7L)
      .head().getDouble(1)
    est should (be > 1200.0 and be < 2800.0)
    // bounded mergeable state ⇒ the answer is partition-independent
    Sketches.kmvDistinct(big.repartition(13), "g", "v", k = 64, seed = 7L)
      .head().getDouble(1) shouldBe est
  }

  test("hllDistinct: linear-counting accuracy, partition independence, MAX-mergeable registers") {
    import graft.ext.Sketches
    // 2000 distinct values at m=256 registers: linear-counting regime
    val big = (0L until 4000L).map(i => ("b", s"tok${i / 2}")).toDF("g", "v")
    val est = Sketches.hllDistinct(big, "g", "v", p = 8, seed = 7L)
      .head().getDouble(2)
    est should (be > 1500.0 and be < 2500.0)
    Sketches.hllDistinct(big.repartition(13), "g", "v", p = 8, seed = 7L)
      .head().getDouble(2) shouldBe est
    // snapshot-incremental merge: registers of the union = cell-wise
    // MAX of the parts' registers (the HLL analogue of cmsGrid's
    // cell-wise addition)
    val parts = Seq(
      (0L until 2000L).map(i => ("b", s"tok${i / 2}")).toDF("g", "v"),
      (2000L until 4000L).map(i => ("b", s"tok${i / 2}")).toDF("g", "v"))
    val merged = parts.map(Sketches.hllRegisters(_, "g", "v", p = 8, seed = 7L))
      .reduce(_ unionByName _)
      .groupBy("g", "reg").agg(max("m_reg").as("m_reg"))
    merged.orderBy("reg").collect().toSeq shouldBe
      Sketches.hllRegisters(big, "g", "v", p = 8, seed = 7L)
        .orderBy("reg").collect().toSeq
  }

  test("groupCentroids: nano-grid-exact means; centroidCosines: each unordered pair once") {
    import graft.ext.Similarity
    val df = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(3.0f, 0.0f)),
      (3L, 1, Seq(0.0f, 2.0f)), (4L, 2, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val cents = Similarity.groupCentroids(df, "label")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    cents(0) shouldBe Seq(2.0, 0.0) // dyadic means survive the grid exactly
    cents(1) shouldBe Seq(0.0, 2.0)
    cents(2) shouldBe Seq(1.0, 1.0)
    val cos = Similarity.centroidCosines(
        Similarity.groupCentroids(df, "label"), "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    cos.keySet shouldBe Set((0, 1), (0, 2), (1, 2))
    cos((0, 1)) shouldBe 0.0 +- 1e-12 // orthogonal slices
    cos((0, 2)) shouldBe math.sqrt(0.5) +- 1e-12 // 45 degrees
  }

  test("capPerGroup ≡ window rank, ties broken by id; kept flags the top-k only") {
    import graft.ext.Corpus
    import org.apache.spark.sql.expressions.Window
    // one fat group, one thin group, heavy score ties (broken by id asc)
    val rows = (0L until 40L).map(i =>
      (i, if (i < 30) "big" else "small", (i % 7).toDouble))
    val df = rows.toDF("id", "g", "score")
    val out = Corpus.capPerGroup(df, "g", "score", "id", k = 5)
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id"))
    val ref = df.withColumn("rk", row_number().over(w))
      .select(col("id"), (col("rk") <= 5).as("kept_ref"),
        when(col("rk") <= 5, col("rk")).as("rank_ref"))
    out.join(ref, "id").collect().foreach { r =>
      r.getAs[Boolean]("kept") shouldBe r.getAs[Boolean]("kept_ref")
      Option(r.getAs[Integer]("rank")) shouldBe Option(r.getAs[Integer]("rank_ref"))
    }
    out.where(col("kept")).count() shouldBe 10L // 5 per group
  }

  test("temperatureWeights: T=1 preserves native shares; higher T flattens toward uniform") {
    import graft.ext.Corpus
    val df = (Seq.fill(80)("head") ++ Seq.fill(15)("mid") ++ Seq.fill(5)("tail"))
      .zipWithIndex.map { case (g, i) => (i.toLong, g) }.toDF("id", "g")
    val t1 = Corpus.temperatureWeights(df, "g", temperature = 1.0).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    t1.values.foreach { case (p, q) => q shouldBe p +- 1e-8 }
    val t5 = Corpus.temperatureWeights(df, "g", temperature = 5.0).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    t5("tail") should be > t1("tail")._2 // tail boosted
    t5("head") should be < t1("head")._2 // head damped
    math.abs(t5.values.sum - 1.0) should be < 1e-6 // grid-normalized
  }

  test("vocabGrowth: hand-checked checkpoints; vocab counted at first sight only") {
    import graft.ext.TextStats
    val docs = Seq(
      (0L, "a b a"), (1L, "b c"), // checkpoint 2: 5 tokens, vocab {a,b,c}
      (2L, "c d"), (3L, "d e e")) // checkpoint 4: 5 tokens, new {d,e}
      .toDF("doc_id", "text")
    val out = TextStats.vocabGrowth(docs, step = 2L).orderBy("checkpoint")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    out.toSeq shouldBe Seq((2L, 5L, 3L, 5L, 3L), (4L, 5L, 2L, 10L, 5L))
  }

  test("containmentPairs: subset doc scores 1.0 toward its superset, not back") {
    import graft.ext.Dedup
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // a prefix of doc 2
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (3L, "completely different words entirely here now"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out((1L, 2L)) shouldBe 1.0 // all 3 shingles of doc 1 appear in doc 2
    // the asymmetry Jaccard can't see: 2 is NOT contained in 1
    out.keySet should not contain ((2L, 1L))
  }

  test("containmentPairs hot-gram cap: flood cells drop, healthy pairs survive, default cap is invariant at sf0.01") {
    import graft.ext.Dedup
    // 12 identical docs flood every one of their grams; one honest
    // containment pair rides alongside
    val flood = (0L until 12L).map(i => (i, "identical boilerplate banner row here again"))
    val pair = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val corpus = (flood ++ pair).toDF("doc_id", "text")
    // cap below the flood: the 12-doc gram cells vanish from pair
    // generation, the 2-doc cells survive with exact scores
    val capped = Dedup.containmentPairs(corpus, minContainment = 0.5, maxBucketSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 100→101 scores 3/3 = 1.0; 101→100 scores 3/8 < 0.5 and is absent
    capped shouldBe Set((100L, 101L))
    // diagnostic names the dropped grams: the flood text has 4 trigrams
    val over = Dedup.containmentGramOverflow(corpus, maxBucketSize = 5)
      .collect().map(r => r.getAs[Long]("n"))
    over.length shouldBe 4
    all(over) shouldBe 12L
    // cap disabled reproduces the flood clique (12·11 directional pairs + the honest one)
    Dedup.containmentPairs(corpus, minContainment = 0.5, maxBucketSize = Int.MaxValue)
      .count() shouldBe (12L * 11L + 1L)
    // cap-invariance at sf0.01: the default 4096 cap cannot fire on a
    // 500-doc corpus, so the catalog query's result is bit-identical
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val a = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Dedup.containmentPairs(docs, maxBucketSize = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    a shouldBe b
    // the 1000-identical-doc flood: capped, the finder stays linear —
    // every flood gram cell is dropped and only the honest pair emits
    // (uncapped this would be 999,000 directional pair rows)
    val bigFlood = (1000L until 2000L).map(i =>
      (i, "identical boilerplate banner row here again")).toDF("doc_id", "text")
    Dedup.containmentPairs(bigFlood.union(pair.toDF("doc_id", "text")),
        minContainment = 0.5, maxBucketSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((100L, 101L))
  }

  test("sourceOverlap group-cardinality cap: hot shingles drop; default cap is a no-op for dataset-scale groups") {
    import graft.ext.Dedup
    // one shingle ("a b c") shared by ALL 8 groups, one shared by 2
    val d = (0 until 8).map(i => (i.toLong, s"a b c x$i y$i", s"G$i")) ++
      Seq((100L, "p q r s", "G0"), (101L, "p q r t", "G1"))
    val df = d.toDF("doc_id", "text", "source")
    // capped at 4: the 8-group shingle is excluded, the 2-group ones pair
    val capped = Dedup.sourceOverlap(df, maxGroupsPerShingle = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    capped shouldBe Set(("G0", "G1"))
    // denominators stay full: G0 holds 3+2=5 distinct shingles, G1 holds
    // 3+2=5; only "p q r" survives the cap → jaccard 1/(5+5-1)
    val row = Dedup.sourceOverlap(df, maxGroupsPerShingle = 4).head()
    row.getLong(2) shouldBe 1L
    row.getDouble(3) shouldBe (1.0 / 9) +- 1e-12
    // default cap (4096) cannot fire below 4096 groups — identical result
    Dedup.sourceOverlap(df).collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet shouldBe
      Dedup.sourceOverlap(df, maxGroupsPerShingle = Int.MaxValue).collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
  }

  test("apAtK: hand-computed average precision, absent queries get zero row") {
    import graft.ext.TextStats
    // query 1 terms {red, fox}: docs 0,1,2 contain both (relevant);
    // doc 3 contains only red (candidate, not relevant)
    val docs = Seq(
      (0L, "red fox red fox red fox jumps high"), // high tf → rank 1
      (1L, "red fox"),
      (2L, "a red fox was seen near the red barn yesterday evening"),
      (3L, "red paint everywhere"),
      (4L, "nothing relevant at all here")
    ).toDF("doc_id", "text")
    val out = TextStats.apAtK(docs, Seq(1 -> Seq("red", "fox"), 2 -> Seq("zebra")))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    val (nRel, sum9, ap) = out(1)
    nRel shouldBe 3L
    // ranks are deterministic (score desc, id): verify AP against the
    // definition computed from the emitted grid sum
    ap.get shouldBe (sum9.toDouble / (1e9 * 3)) +- 1e-12
    ap.get should be > 0.5 // the 3 relevant docs sit high in a 4-candidate list
    // no relevant docs → zero row, NULL ap
    out(2) shouldBe ((0L, 0L, None))
  }

  test("mattr: repetitive text scores low, varied text high, short docs get plain TTR") {
    import graft.ext.TextStats
    val rep = Array.fill(40)("spam spam eggs").mkString(" ") // 120 tokens, 2 types
    val varied = (0 until 120).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, rep), (1L, varied), (2L, "a b b"), (3L, ""))
      .toDF("doc_id", "text")
    val out = TextStats.mattr(docs, window = 50).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    out(0)._1 shouldBe 120L
    out(0)._2 shouldBe 71L // 120 - 50 + 1 windows
    out(0)._3.get shouldBe (2.0 / 50) +- 1e-12 // every 50-window holds 2 types
    out(1)._3.get shouldBe 1.0 // all-distinct text: every window TTR 1
    out(2) shouldBe ((3L, 1L, Some(2.0 / 3))) // short doc: whole-doc TTR
    out(3) shouldBe ((0L, 1L, None)) // empty doc: NULL, not a crash
    // the O(len) sliding kernel equals the O(len·window) Column
    // formulation it replaced, over the real corpus (window 7 keeps
    // both short-doc and full-window branches exercised)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val asize = org.apache.spark.sql.functions.size _
    val tk = TextStats.tokens(col("text"))
    val nw7 = greatest(asize(tk) - lit(6), lit(1))
    val columnar = corpus.select(col("doc_id"),
        aggregate(
          transform(sequence(lit(1), nw7),
            i => asize(array_distinct(slice(tk, i, lit(7)))).cast("long")),
          lit(0L), (a, x) => a + x).as("sd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fused = corpus.select(col("doc_id"),
        graft.plans.NativeFunctions.mattrStats(col("text"), 7)
          .getField("sum_distinct").as("sd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fused shouldBe columnar
  }

  test("weightedReservoir: exact size k, weight-biased membership, sub-k input kept whole") {
    import graft.ext.Corpus
    // 200 heavy (w=1.0) + 200 light (w=0.01) rows: a k=100 reservoir
    // should be overwhelmingly heavy
    val df = ((0L until 200L).map(i => (i, 1.0)) ++
      (200L until 400L).map(i => (i, 0.01))).toDF("doc_id", "w")
    val out = Corpus.weightedReservoir(df, col("w"), k = 100, seed = 7L)
      .collect().map(_.getLong(0))
    out.length shouldBe 100
    out.toSet.size shouldBe 100 // without replacement
    out.count(_ < 200L) should be > 90 // E[heavy] ≈ 99+
    // deterministic: same seed, same set, any partitioning
    Corpus.weightedReservoir(df.repartition(7), col("w"), k = 100, seed = 7L)
      .collect().map(_.getLong(0)).toSet shouldBe out.toSet
    // k >= n keeps everything
    Corpus.weightedReservoir(df, col("w"), k = 1000, seed = 7L)
      .count() shouldBe 400L
  }

  test("sourceOverlapSketch: exact when k covers the sets, sparse on disjoint, tracks true Jaccard") {
    import graft.ext.Dedup
    val d = Seq(
      (0L, "a b c d e f", "A"), (1L, "a b c d e f", "B"), // identical gram sets
      (2L, "a b c d x y", "C"),                           // partial overlap with A
      (3L, "p q r s t u", "D"))                           // disjoint
      .toDF("doc_id", "text", "source")
    // k larger than any gram set ⇒ signatures ARE the sets ⇒ estimator
    // is EXACT Jaccard
    val out = Dedup.sourceOverlapSketch(d, k = 64).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    out(("A", "B")) shouldBe 1.0
    // A grams {abc,bcd,cde,def}, C grams {abc,bcd,cdx,dxy}: 2 of 6
    out(("A", "C")) shouldBe (2.0 / 6) +- 1e-12
    out.keySet should contain theSameElementsAs
      Set(("A", "B"), ("A", "C"), ("B", "C"))
    // D shares nothing — no row, same sparse posture as the exact op
    out.keySet.exists(p => p._1 == "D" || p._2 == "D") shouldBe false
    // exact operator agrees where k covers (cross-validation of the two paths)
    val exact = Dedup.sourceOverlap(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    exact(("A", "C")) shouldBe out(("A", "C")) +- 1e-12
  }

  test("longestRunPairs: diagonal islands measure the true shared-run length") {
    import graft.ext.Dedup
    val quote12 = "one two three four five six seven eight nine ten eleven twelve"
    val d = Seq(
      // doc 0 carries the 12-token quote mid-text; doc 1 carries it
      // verbatim at a different offset → longest run = 12 tokens
      (0L, s"alpha beta $quote12 gamma delta"),
      (1L, s"zeta $quote12 omega"),
      // doc 2 shares TWO disjoint 8-token quotes with doc 3 → two runs
      // of exactly 8
      (2L, "a b c d e f g h THEN p q r s t u v w"),
      (3L, "a b c d e f g h OTHER p q r s t u v w MORE"),
      (4L, "nothing shared with anyone here at all in this one"))
      .toDF("doc_id", "text")
    val out = Dedup.longestRunPairs(d, windowTokens = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    out((0L, 1L)) shouldBe ((1L, 12L)) // one island of 5 windows → 12 tokens
    out((2L, 3L)) shouldBe ((2L, 8L))  // two single-window islands → 8 each
    out.keySet shouldBe Set((0L, 1L), (2L, 3L))
    // consistency with the count finder: every longest-run pair is a
    // substring-dedup pair and vice versa
    Dedup.exactSubstringPairs(d, windowTokens = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe out.keySet
  }

  test("boilerplate: source-frequent segments flagged and scrubbed everywhere, content kept") {
    import graft.ext.Corpus
    val banner = "site nav menu here" // one 4-token segment
    val d = Seq(
      (0L, s"$banner alpha beta gamma delta", "A"),
      (1L, s"$banner epsilon zeta eta theta", "A"),
      (2L, s"$banner iota kappa lambda mu", "A"),
      (3L, "totally organic content right here", "A"), // no banner
      (10L, s"$banner other site words here", "B"))    // 1 of 1 doc in B
      .toDF("doc_id", "text", "source")
    val rep = Corpus.boilerplateSegments(d, segTokens = 4, minFrac = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // A: banner in 3 of 4 docs = 0.75 ≥ 0.5; content never reaches 0.5.
    // B has ONE doc — the tiny-source exemption (minDocs=2) keeps the
    // frequency rule from declaring its entire text boilerplate.
    rep shouldBe Map(("A", banner) -> ((3L, 4L, 0.75)))
    val scrub = Corpus.boilerplateScrub(d, segTokens = 4, minFrac = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    scrub(0L) shouldBe ((2L, 1L, "alpha beta gamma delta"))
    scrub(3L) shouldBe ((2L, 0L, "totally organic content right here"))
    // B is exempt — its doc survives whole, banner included
    scrub(10L) shouldBe ((2L, 0L, s"$banner other site words here"))
  }

  test("normalizeUrl: dressing variants collapse, distinct pages stay distinct") {
    import graft.ext.Dedup
    val cases = Seq(
      "HTTPS://WWW.Example.com:443/Articles/7/?utm_source=x#frag" ->
        "example.com/articles/7",
      "http://example.com:80/articles/7" -> "example.com/articles/7",
      "https://example.com/articles/7///" -> "example.com/articles/7",
      "example.com/articles/7" -> "example.com/articles/7", // already canonical
      "https://www.example.com" -> "example.com",           // bare host
      "https://example.com:8080/a" -> "example.com:8080/a", // NON-default port kept
      "https://sub.example.com/articles/7" -> "sub.example.com/articles/7",
      "https://example.com/articles/8" -> "example.com/articles/8")
    val out = cases.map(_._1).toDF("url")
      .select(col("url"), Dedup.normalizeUrl(col("url")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (raw, want) =>
      withClue(raw) { out(raw) shouldBe want }
    }
    // dedup on the key: the five dressings of page 7 form ONE group
    val docs = cases.map(_._1).zipWithIndex
      .map { case (u, i) => (i.toLong, u) }.toDF("doc_id", "url")
    val groups = Dedup.urlDedup(docs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    groups("example.com/articles/7") shouldBe ((0L, 4L))
    groups("example.com/articles/8")._2 shouldBe 1L
    groups.size shouldBe 5
  }

  test("domainStats: re-crawl mass per registered-domain heuristic") {
    import graft.ext.Dedup
    val docs = Seq(
      (0L, "https://www.shop.com/p/1"),
      (1L, "http://shop.com/p/1/"),         // re-crawl of 0
      (2L, "https://shop.com/p/2"),
      (3L, "https://cdn.shop.com/p/1"),     // sub-domain: same domain, new page
      (4L, "https://news.org/x"),
      (5L, "https://news.org/x?ref=rss"),   // re-crawl of 4
      (6L, "https://localhost/a"))          // dotless host passes through
      .toDF("doc_id", "url")
    val out = Dedup.domainStats(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    out("shop.com") shouldBe ((4L, 3L, 2L, 0.25))
    out("news.org") shouldBe ((2L, 1L, 2L, 0.5))
    out("localhost") shouldBe ((1L, 1L, 1L, 0.0))
    out.size shouldBe 3
  }

  test("boilerplate flood: maxFlagged caps every flag-table exit, overflow audited, capped scrub consistent across batch and stateless forms") {
    import graft.ext.Corpus
    // 12 sources, each with 3 docs sharing a source-specific 4-token
    // banner (frac 1.0) — 12 flagged (source, segment) rows, a stand-in
    // for the |sources|-scaling flood the cap exists for
    val rows = for (sIdx <- 0 until 12; j <- 0 until 3) yield {
      val src = f"S$sIdx%02d"
      ((sIdx * 3 + j).toLong,
        s"nav menu site b$sIdx u${sIdx}_$j v${sIdx}_$j w${sIdx}_$j x${sIdx}_$j",
        src)
    }
    val d = (rows :+ ((99L, "   ", "S00"))) // tokenless straggler
      .toDF("doc_id", "text", "source")
    val cap = 4
    // uncapped: one banner segment flagged per source
    Corpus.boilerplateSegments(d, segTokens = 4, minFrac = 0.5)
      .count() shouldBe 12L
    // the cap keeps the highest-frac flags with the deterministic
    // (source, segment) tie-break: all fracs are 1.0, so S00..S03 stay
    val overflow = Corpus.boilerplateFlagOverflow(d, segTokens = 4,
      minFrac = 0.5, maxFlagged = cap)
    overflow.count() shouldBe 8L
    overflow.select("source").collect().map(_.getString(0)).sorted shouldBe
      (4 until 12).map(i => f"S$i%02d")
    // flag keys honor the same cap
    val keys = Corpus.boilerplateFlagKeys(d, segTokens = 4, minFrac = 0.5,
      maxFlagged = cap)
    keys.length shouldBe cap
    // capped batch scrub: sources inside the cap lose their banner,
    // sources beyond it keep theirs
    val scrub = Corpus.boilerplateScrub(d, segTokens = 4, minFrac = 0.5,
        maxFlagged = cap)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3))))
      .toMap
    scrub(0L) shouldBe ((1L, "u0_0 v0_0 w0_0 x0_0"))        // S00: scrubbed
    scrub(33L) shouldBe ((0L, "nav menu site b11 u11_0 v11_0 w11_0 x11_0")) // S11: kept
    scrub.contains(99L) shouldBe false // tokenless doc emits no batch row
    // the stateless kernel under the SAME capped key list agrees on
    // every token-bearing doc — and hands the tokenless row through
    val stateless = Corpus.scrubRowStateless(d, keys, segTokens = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_segs"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("clean_text")))).toMap
    for ((id, (dropped, clean)) <- scrub)
      stateless(id) shouldBe ((2L, dropped, clean))
    stateless(99L) shouldBe ((0L, 0L, ""))
  }

  test("verbatimSpanScrub: the later doc loses exactly the shared run, earlier doc untouched") {
    import graft.ext.Dedup
    val quote12 = "one two three four five six seven eight nine ten eleven twelve"
    val d = Seq(
      (0L, s"alpha beta $quote12 gamma delta"),
      (1L, s"zeta $quote12 omega"), // later doc: loses the 12-token run
      (2L, "untouched words that appear exactly nowhere else at all today"),
      (3L, "tiny"))
      .toDF("doc_id", "text")
    val out = Dedup.verbatimSpanScrub(d, windowTokens = 8, minRunTokens = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 0 is the FIRST occurrence: kept whole
    out(0L) shouldBe ((16L, 0L, s"alpha beta $quote12 gamma delta"))
    // doc 1 loses exactly the quote's 12 tokens, keeps its frame
    out(1L) shouldBe ((14L, 12L, "zeta omega"))
    out(2L)._2 shouldBe 0L
    out(3L) shouldBe ((1L, 0L, "tiny")) // short docs can't match, still present
    // minRunTokens above the shared length leaves everything intact
    Dedup.verbatimSpanScrub(d, windowTokens = 8, minRunTokens = 13)
      .collect().map(r => r.getLong(2)).sum shouldBe 0L
  }

  test("selfRepeatRuns: intra-doc repeated runs measured, non-repeating docs absent") {
    import graft.ext.Dedup
    val d = Seq(
      // "a b c d e" appears twice → longest repeat = 5 tokens (one diag island)
      (0L, "a b c d e STOP a b c d e END"),
      // the 3-token window "x y z" repeats 3 times → 3 (pa,pb) diagonals
      (1L, "x y z x y z x y z"),
      (2L, "all words here differ pairwise completely"),
      (3L, "a b")) // too short for 3-token windows
      .toDF("doc_id", "text")
    val out = Dedup.selfRepeatRuns(d, windowTokens = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    out(0L) shouldBe ((1L, 5L))
    // doc 1: diag 3 matches window starts 0..3 (island of 4 → run 6
    // tokens, "x y z x y z"), diag 6 matches (0,6) alone (run 3) →
    // longest 6, two distinct runs
    out(1L) shouldBe ((2L, 6L))
    out.keySet shouldBe Set(0L, 1L)
  }

  test("histQuantiles: grid read-off matches exact quantiles to bin resolution") {
    import graft.ext.Sketches
    // g=a: 0..99 uniform; g=b: constant 42; plus out-of-grid values
    // that must clamp into the edge bins instead of growing state
    val rows = (0L until 100L).map(i => ("a", i.toDouble)) ++
      Seq.fill(10)(("b", 42.0)) ++ Seq(("a", -5.0), ("a", 1e9))
    val df = rows.toDF("g", "v")
    val out = Sketches.histQuantiles(df, "g", "v",
        width = 10.0, maxBins = 10, probs = Seq(0.25, 0.5, 0.9))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // a: 102 values, q25 target=26 → value 24 (bin 2), q50 target=51 →
    // value 49 (bin 4), q90 target=92 → value 90 (bin 9, also holds the
    // 1e9 clamp); lower edges 20/40/90
    out("a") shouldBe ((20.0, 40.0, 90.0))
    // b: all mass in bin 4 → every quantile reads its lower edge
    out("b") shouldBe ((40.0, 40.0, 40.0))
    // bounded mergeable state ⇒ partition-independent
    Sketches.histQuantiles(df.repartition(7), "g", "v",
        width = 10.0, maxBins = 10, probs = Seq(0.25, 0.5, 0.9))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap shouldBe out
  }

  test("mixTo: binding stratum kept whole-ish, others thinned, absent dropped") {
    import graft.ext.Corpus
    val df = (0L until 1500L).toDF("doc_id")
      .withColumn("lang",
        when($"doc_id" % 3 === 0, "en")
          .when($"doc_id" % 3 === 1, "rare").otherwise("junk"))
    // target 80/20 over {en, rare}: en (500 docs) binds; rare thins to
    // ~125; junk is not in the target mix and is dropped entirely
    val out = Corpus.mixTo(df, "lang", Map("en" -> 0.8, "rare" -> 0.2), 7L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang")))
    val byLang = out.groupBy(_._2).view.mapValues(_.length).toMap
    byLang.getOrElse("junk", 0) shouldBe 0
    byLang("en").toDouble should be >= 499.0 // rate 1 up to one ulp
    byLang("rare").toDouble should (be > 90.0 and be < 160.0)
    // deterministic
    Corpus.mixTo(df, "lang", Map("en" -> 0.8, "rare" -> 0.2), 7L)
      .collect().map(_.getAs[Long]("doc_id")).toSet shouldBe out.map(_._1).toSet
  }

  test("sampleKPerGroup: exact k per stratum, partition-independent, small groups whole") {
    import graft.ext.Corpus
    val df = (0L until 300L).toDF("doc_id")
      .withColumn("g", when($"doc_id" % 100 === 0, "tiny").otherwise(
        when($"doc_id" % 2 === 0, "even").otherwise("odd")))
    val out = Corpus.sampleKPerGroup(df, "g", k = 10, seed = 7L)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val byG = out.groupBy(_._1).view.mapValues(_.length).toMap
    byG("even") shouldBe 10
    byG("odd") shouldBe 10
    byG("tiny") shouldBe 3 // group smaller than k kept whole
    // ranks are 1..n per group
    out.groupBy(_._1).foreach { case (_, rows) =>
      rows.map(_._2).sorted shouldBe (1 to rows.length).toArray
    }
    // pure function of (seed, doc_id): partitioning cannot change it
    Corpus.sampleKPerGroup(df.repartition(13), "g", k = 10, seed = 7L)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .sorted shouldBe out.sorted
  }

  test("mixTo upsample: output hits the mix via epoch repeats, stable under repartitioning") {
    import graft.ext.Corpus
    val df = (0L until 1500L).toDF("doc_id")
      .withColumn("lang",
        when($"doc_id" % 6 === 0, "rare") // 250 docs
          .when($"doc_id" % 3 =!= 0, "en") // 1000 docs
          .otherwise("junk"))              // 250 docs
    // equal mix over {en, rare}: N_kept = 1250, target 625 each —
    // en thins to rate 0.625, rare repeats at rate 2.5 (2 whole
    // copies + half the docs get a third); junk is dropped
    val out = Corpus.mixTo(df, "lang", Map("en" -> 0.5, "rare" -> 0.5), 7L,
      upsample = true).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("copy_idx")))
    val byLang = out.groupBy(_._2).view.mapValues(_.length).toMap
    byLang.getOrElse("junk", 0) shouldBe 0
    // 3σ bands: en ~ Binomial(1000, .625) σ≈15; rare extra copies
    // ~ Binomial(250, .5) σ≈8 on top of the 500 whole copies
    byLang("en").toDouble should (be > 580.0 and be < 670.0)
    byLang("rare").toDouble should (be > 600.0 and be < 650.0)
    // every rare doc appears at least twice (integer repeat factor),
    // with 1-based contiguous copy indices
    val rare = out.filter(_._2 == "rare").groupBy(_._1).view
      .mapValues(_.map(_._3).sorted).toMap
    rare.values.foreach { idxs =>
      idxs.length should be >= 2
      idxs shouldBe (1L to idxs.length).toVector
    }
    // keep/repeat decisions are pure functions of (seed, doc_id):
    // repartitioning changes nothing
    val again = Corpus.mixTo(df.repartition(13), "lang",
      Map("en" -> 0.5, "rare" -> 0.5), 7L, upsample = true).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("copy_idx")))
    again.sorted shouldBe out.sorted
  }

  test("selectToBudget: exact global greedy under the cap, never overshoots, repartition-stable") {
    import graft.ext.Corpus
    // priority = doc_id*1e9 (higher id = higher priority), tokens vary
    val df = (0L until 200L).toDF("doc_id")
      .withColumn("p", $"doc_id" * 1000000000L)
      .withColumn("n", ($"doc_id" % 7) + 3)
    val budget = 500L
    val out = Corpus.selectToBudget(df, $"p", $"n", budget,
        bandWidth = 5000000000L).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    // reference: the maximal descending-priority PREFIX whose total
    // fits (the documented inclusive prefix-cut rule — not first-fit:
    // once a document overflows, everything below it is out too)
    var acc = 0L
    val expect = (199L to 0L by -1).flatMap { id =>
      val n = id % 7 + 3
      acc += n
      if (acc <= budget) Some(id -> n) else None
    }.toSet
    out.toSet shouldBe expect
    out.map(_._2).sum should be <= budget // inclusive rule: never overshoots
    // bands are a pure function of p: stable under repartitioning
    val again = Corpus.selectToBudget(df.repartition(13), $"p", $"n", budget,
        bandWidth = 5000000000L).collect().map(r => (r.getLong(0), r.getLong(2)))
    again.toSet shouldBe out.toSet
  }

  test("jlProject: plan-time constants, cosine approximately preserved, no shuffle") {
    import graft.ext.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val out = Similarity.jlProject(emb, outDims = 16, seed = 51L)
    // one shuffle-free projection: 16 codegen'd dot products per row
    out.queryExecution.executedPlan.toString should not include "Exchange"
    val rows = out.select($"vec_id", $"embedding", $"jvec").limit(50).collect()
    rows.foreach(r => r.getSeq[Double](2).length shouldBe 16)
    // identical inputs project identically (pure function of the
    // plan-time Gaussian literals), regardless of partitioning
    val again = Similarity.jlProject(emb.repartition(7), outDims = 16, seed = 51L)
      .select($"vec_id", $"jvec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val first = out.select($"vec_id", $"jvec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    again shouldBe first
    // JL preserves pairwise cosine to O(1/sqrt(16)) ≈ 0.25 PER PAIR —
    // individual pairs can land 2-3σ out, so the right assertion is
    // the MEAN absolute error over many pairs (deterministic: fixed
    // seed, fixed corpus), well under one σ
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val full = rows.map(r => r.getSeq[Float](1).map(_.toDouble))
    val proj = rows.map(r => r.getSeq[Double](2))
    val errs = for (i <- 0 until 50; j <- (i + 1) until 50)
      yield math.abs(cos(full(i), full(j)) - cos(proj(i), proj(j)))
    errs.sum / errs.length should be < 0.3
  }

  test("cms: estimates one-sided, tight on heavy hitters, grids merge cell-wise") {
    import graft.ext.Sketches
    // skewed stream: value v occurs (500 - v) times, v in 0..99
    val occ = (0 until 100).flatMap(v => Seq.fill(500 - v)(v.toLong))
    val df = occ.toDF("v").select($"v".cast("string").as("v"))
    val out = Sketches.cmsHeavyHitters(df, "v", k = 10, seed = 7L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.length shouldBe 10
    out.map(_._2).toSet shouldBe (491L to 500L).toSet // exact top-10 counts
    out.foreach { case (_, exact, est) =>
      est should be >= exact                   // CM error is one-sided
      est should be <= exact + occ.length / 64L // and small at width=256
    }
    // grid built on a repartitioned stream is identical (md5 hashing,
    // constant key space, order-free counts)
    val g1 = Sketches.cmsGrid(df, "v", 7L).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val g2 = Sketches.cmsGrid(df.repartition(13), "v", 7L).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    g2 shouldBe g1
    // sketches of disjoint slices merge by cell-wise addition
    val even = df.where($"v".cast("long") % 2 === 0)
    val odd = df.where($"v".cast("long") % 2 === 1)
    val merged = Sketches.cmsGrid(even, "v", 7L)
      .unionByName(Sketches.cmsGrid(odd, "v", 7L))
      .groupBy("__i", "__b").agg(sum("__c").as("__c")).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    merged shouldBe g1
    // probing values the build stream NEVER saw: a sparse build leaves
    // most grid cells absent, absent cells count zero, and the min
    // across depth cells makes unseen estimates exactly 0 (the left
    // join + zero-coalesce — an inner join would inflate or drop them)
    val sparse = Seq("only-value").toDF("v")
    val unseen = Sketches.cmsEstimate(Sketches.cmsGrid(sparse, "v", 7L),
        Seq("never-seen-a", "never-seen-b").toDF("v"), "v", seed = 7L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    unseen shouldBe Map("never-seen-a" -> 0L, "never-seen-b" -> 0L)
  }

  test("shuffleShards: per-shard 0..n-1 positions, full cover, repartition-stable") {
    import graft.ext.Corpus
    val df = (0L until 500L).toDF("doc_id")
    val out = Corpus.shuffleShards(df, nShards = 8, seed = 7L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    out.length shouldBe 500
    out.map(_._1).toSet shouldBe (0L until 500L).toSet  // every doc placed once
    // within each shard, pos is exactly 0..n-1
    out.groupBy(_._2).foreach { case (_, rows) =>
      rows.map(_._3).sorted.toSeq shouldBe rows.indices.map(_.toLong)
    }
    // shards are balanced in expectation (uniform md5 bucketing):
    // with 500 docs over 8 shards no shard collapses or hogs
    val sizes = out.groupBy(_._2).view.mapValues(_.length)
    all(sizes.values.toSeq) should (be > 30 and be < 100)
    // the coordinate is a pure function of (seed, doc_id)
    val again = Corpus.shuffleShards(df.repartition(13), nShards = 8, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    again.sortBy(_._1).toSeq shouldBe out.sortBy(_._1).toSeq
  }

  test("fused dsirScore kernel ≡ md5 Column-math formulation on edge rows") {
    import graft.ext.Corpus
    // edge rows: empty text, whitespace-only, single token (no
    // bigram), unicode uppercase (UTF8String lowering), control-char
    // whitespace runs
    val docs = Seq((0L, ""), (1L, " \t "), (2L, "one"),
      (3L, "ÄÖÜ Straße ÄÖÜ"), (4L, "a b c d"), (5L, "x \t\n y"))
      .toDF("doc_id", "text")
    val buckets = 64
    val lr9 = (0 until buckets).map(i => (i * 1234567L) % 997L - 498L)
    val kernel = Corpus.dsirScoreWith(docs, lr9).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // reference: the explode → md5-bucket → table-lookup → per-doc-sum
    // Column formulation the kernel replaced
    val toks = graft.ext.TextStats.tokens(col("text"))
    val n1 = greatest(org.apache.spark.sql.functions.size(toks) - 1, lit(0))
    val uni = docs.select(col("doc_id"), explode(toks).as("__g"))
    val big = docs.select(col("doc_id"), explode(arrays_zip(
        slice(toks, lit(1), n1).as("w1"),
        slice(toks, lit(2), n1).as("w2"))).as("__z"))
      .select(col("doc_id"),
        concat(col("__z.w1"), lit(" "), col("__z.w2")).as("__g"))
    val table = array(lr9.map(lit): _*)
    val ref = uni.unionByName(big)
      .select(col("doc_id"), (conv(substring(md5(col("__g")), 1, 15), 16, 10)
        .cast("long") % buckets).as("__b"))
      .select(col("doc_id"),
        element_at(table, (col("__b") + 1).cast("int")).as("__lr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum("__lr").as("s9"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    kernel shouldBe ref // token-less docs absent from BOTH formulations
  }

  test("dsirWeights: on-domain docs outscore off-domain, stable under repartitioning") {
    import graft.ext.Corpus
    val target = Seq(
      (100L, "model training data quality tokens corpus filter"),
      (101L, "training corpus tokens model data quality scale"),
      (102L, "data tokens corpus model quality training batch"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (0L, "model training data quality tokens corpus batch"), // on-domain
      (1L, "zebra walrus quokka lemur gecko iguana ocelot"),   // off-domain
      (2L, "corpus tokens zebra walrus model gecko data"))     // mixed
      .toDF("doc_id", "text")
    val w = Corpus.dsirWeights(raw, target).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    w(0L) should be > w(2L)
    w(2L) should be > w(1L)
    w(0L) should be > 0.0   // likelihood ratio favors the target model
    w(1L) should be < 0.0
    // partition-independent: md5 buckets, no per-partition state
    val again = Corpus.dsirWeights(raw.repartition(7), target.repartition(5))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    again shouldBe w
  }

  test("dsirResample: exactly k rows, weight-consistent, deterministic") {
    import graft.ext.Corpus
    val target = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val raw = (0L until 40L).toDF("doc_id")
      .withColumn("text",
        when($"doc_id" < 20, lit("alpha beta gamma delta epsilon zeta"))
          .otherwise(lit("one two three four five six")))
    val sel = Corpus.dsirResample(raw, target, k = 10, seed = 7L).collect()
    sel.length shouldBe 10
    // selection is consistent with the weights frame (same s9 grid)
    val w = Corpus.dsirWeights(raw, target).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    sel.foreach(r => r.getDouble(2) shouldBe w(r.getLong(0)))
    // on-domain docs carry overwhelmingly larger weights, so the
    // Gumbel perturbation (O(1)-scale) cannot promote off-domain ones
    all(sel.map(_.getLong(0))) should be < 20L
    // deterministic: the md5 Gumbel keys replay run-over-run
    val again = Corpus.dsirResample(raw.repartition(11), target, k = 10, seed = 7L)
      .collect().map(_.getLong(0)).toSet
    again shouldBe sel.map(_.getLong(0)).toSet
  }

  test("packChunks: contiguous global stream, bucket-count invariant, pack math") {
    import graft.ext.Corpus
    val docs = (0L until 200L).toDF("doc_id")
      .withColumn("n", ($"doc_id" % 37) + 1)
    val out = Corpus.packChunks(docs, capacity = 64L, seed = 7L,
        tokenCount = $"n", buckets = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(_._3)
    // ord is a permutation of 0..N-1 and start_tok is the exclusive
    // prefix sum of n_tokens in ord order — the stream is contiguous
    out.map(_._3) shouldBe (0L until 200L).toArray
    out.scanLeft(0L)(_ + _._2).init.toSeq shouldBe out.map(_._4).toSeq
    // pack assignment matches the offsets
    out.foreach { case (_, n, _, start, packId, span) =>
      packId shouldBe start / 64
      span shouldBe (start + math.max(n, 1) - 1) / 64 - start / 64 + 1
    }
    // bucket decomposition is invisible: a different bucket count gives
    // the identical frame (the order is a pure function of (seed, id))
    val other = Corpus.packChunks(docs, capacity = 64L, seed = 7L,
        tokenCount = $"n", buckets = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    other.toSeq shouldBe out.map(r => (r._1, r._3)).sortBy(_._1).toSeq
  }

  test("tfidfTopK: rare terms outscore common ones, k bound, deterministic ties") {
    import graft.ext.TextStats
    val docs = Seq(
      (0L, "alpha alpha alpha shared shared"),
      (1L, "beta shared"),
      (2L, "gamma shared")).toDF("doc_id", "text")
    val out = TextStats.tfidfTopK(docs, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    out.groupBy(_._1).foreach { case (_, rows) => rows.length should be <= 2 }
    // "shared" appears in all 3 docs → ln(3/3)=0; uniques score ln(3) per tf
    val d0 = out.filter(_._1 == 0L).sortBy(-_._5)
    d0.head._2 shouldBe "alpha"
    d0.head._3 shouldBe 3L   // tf
    d0.head._4 shouldBe 1L   // df
    d0.head._5 shouldBe math.BigDecimal(3.0 * math.log(3.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.filter(r => r._1 == 0L && r._2 == "shared").head._5 shouldBe 0.0
  }

  test("GraftExtensions: native expressions callable from SQL after registration") {
    import graft.plans.{GraftExtensions, NativeFunctions}
    GraftExtensions.register(spark)
    Seq((1L, "the quick brown fox", Array(1.0, 2.0), Array(3.0, 4.0)))
      .toDF("id", "text", "va", "vb").createOrReplaceTempView("ext_probe")
    val row = spark.sql(
      """SELECT graft_simhash(split(text, ' ')) AS sh,
        |       graft_rolling_hash(text) AS rh,
        |       graft_hashed_shingles(text, 2) AS hs,
        |       graft_dot(va, vb) AS d
        |FROM ext_probe""".stripMargin).head()
    // SQL surface and Column surface are the same expression
    val col = Seq(("the quick brown fox", Array(1.0, 2.0), Array(3.0, 4.0)))
      .toDF("text", "va", "vb")
      .select(NativeFunctions.simhash(split($"text", " ")).as("sh"),
        NativeFunctions.rollingHash($"text").as("rh"),
        NativeFunctions.hashedShingles($"text", 2).as("hs"),
        NativeFunctions.dot($"va", $"vb").as("d")).head()
    row.getLong(0) shouldBe col.getLong(0)
    row.getLong(1) shouldBe col.getLong(1)
    row.getSeq[Long](2) shouldBe col.getSeq[Long](2)
    row.getDouble(3) shouldBe 11.0 // 1*3 + 2*4
    // the SQL minhash signature equals the engine's signature frame
    val sqlSig = spark.sql(
      "SELECT graft_minhash_signature(text, 8, 3) AS s FROM ext_probe")
      .head().getSeq[Long](0)
    val colSig = Dedup.minhashSignatures(
      Seq((1L, "the quick brown fox")).toDF("doc_id", "text"),
      "doc_id", "text", numHashes = 8)
      .head().toSeq.tail.map(_.asInstanceOf[Long])
    sqlSig shouldBe colSig
    // the URL family expands to the same Column composition
    spark.sql(
      """SELECT graft_normalize_url('HTTPS://WWW.Example.com:443/A/?q=1#f') AS n,
        |       graft_url_domain(
        |         graft_normalize_url('https://cdn.news.example.co/x')) AS d
        |""".stripMargin).head() match {
      case r =>
        r.getString(0) shouldBe "example.com/a"
        r.getString(1) shouldBe "example.co"
    }
    // non-literal n is rejected at plan time
    val ex = intercept[Exception] {
      spark.sql("SELECT graft_hashed_shingles(text, id + 1) FROM ext_probe").collect()
    }
    ex.getMessage should include("literal")
    // a width n <= 0 is rejected, from SQL and from the Column call alike
    Seq(0, -2).foreach { n =>
      val e = intercept[Exception](
        spark.sql(s"SELECT graft_hashed_shingles(text, $n) FROM ext_probe").collect())
      withClue(n) { e.getMessage should include("must be positive") }
      intercept[IllegalArgumentException](NativeFunctions.hashedShingles($"text", n))
    }
    // ... and so is every other literal-int parameter
    Seq("graft_minhash_signature(text, id + 1, 3)",
      "graft_minhash_signature(text, 8, id + 1)", "graft_winnow_fps(text, id + 1, 4)",
      "graft_winnow_fps(text, 3, id + 1)", "graft_cdc_chunks(text, id + 1)",
      "graft_hash_features(text, id + 1)").foreach { call =>
      val e = intercept[Exception](spark.sql(s"SELECT $call FROM ext_probe").collect())
      withClue(call) { e.getMessage should include("literal") }
    }
    // every registered name resolves, and a wrong arity says so
    Seq("graft_simhash" -> 1, "graft_rolling_hash" -> 1,
      "graft_hashed_shingles" -> 2, "graft_dot" -> 2,
      "graft_minhash_signature" -> 3, "graft_tokens" -> 1,
      "graft_winnow_fps" -> 3, "graft_cdc_chunks" -> 2,
      "graft_quality_counts" -> 1, "graft_hash_features" -> 2,
      "graft_normalize_url" -> 1, "graft_url_domain" -> 1).foreach { case (name, n) =>
      spark.catalog.functionExists(name) shouldBe true
      val args = Seq.fill(n + 1)("text").mkString(", ")
      val e = intercept[Exception](spark.sql(s"SELECT $name($args) FROM ext_probe").collect())
      e.getMessage should include(s"$name expects $n argument(s), got ${n + 1}")
    }
    // the round-12 kernels are registered too, and match their Column
    // twins exactly
    val r12 = spark.sql(
      """SELECT graft_tokens(text) AS tk,
        |       graft_winnow_fps(text, 3, 4) AS wf,
        |       graft_cdc_chunks(text, 8) AS cc,
        |       graft_quality_counts(text) AS qc,
        |       graft_hash_features(text, 16) AS hf
        |FROM ext_probe""".stripMargin).head()
    val col12 = Seq("the quick brown fox").toDF("text").select(
      TextStats.tokens($"text").as("tk"),
      NativeFunctions.winnowFps($"text", 3, 4).as("wf"),
      NativeFunctions.cdcChunks($"text", 8).as("cc"),
      NativeFunctions.qualityCounts($"text").as("qc"),
      NativeFunctions.hashFeatureStats($"text", 16).as("hf")).head()
    r12.getSeq[String](0) shouldBe col12.getSeq[String](0)
    r12.getSeq[Long](1) shouldBe col12.getSeq[Long](1)
    r12.getSeq[String](2) shouldBe col12.getSeq[String](2)
    r12.getStruct(3).toSeq shouldBe col12.getStruct(3).toSeq
    r12.getStruct(4).toSeq shouldBe col12.getStruct(4).toSeq
  }

  test("wordNgrams: space-joined sliding windows; short docs yield empty") {
    val df = Seq((0L, "a b c d"), (1L, "only"), (2L, ""), (3L, "x  y"))
      .toDF("doc_id", "text")
    val out = df.select($"doc_id",
        TextStats.wordNgrams($"text", 2).as("bg"),
        TextStats.wordNgrams($"text", 3).as("tg"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1), r.getSeq[String](2)))
      .sortBy(_._1)
    out(0)._2 shouldBe Seq("a b", "b c", "c d")
    out(0)._3 shouldBe Seq("a b c", "b c d")
    out(1)._2 shouldBe empty     // 1 token < n=2
    out(2)._2 shouldBe empty     // no tokens at all
    out(3)._2 shouldBe Seq("x y") // multi-space collapses via tokenizer
  }

  test("fused quality counters ≡ the four Column formulations") {
    // tokenCount / bpeishTokenCount / punctCount / stopwordCount vs the
    // one-pass kernel qualityFacets now uses — element-wise on edge
    // shapes (empty, whitespace, stutters like "the the", punctuation
    // soup, unicode) and the real corpus
    val edge = Seq((0L, ""), (1L, "   "), (2L, "the the a a of"),
      (3L, "a.b,c;d:e!f?g(h)i[j]{k}-l'm\"n"), (4L, "ÄBC Def the\tof\nto"),
      (5L, "it is that for in and a the of to")).toDF("doc_id", "text")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Seq(edge, corpus).foreach { df =>
      df.select(
        graft.plans.NativeFunctions.qualityCounts($"text").as("qc"),
        TextStats.tokenCount($"text").cast("long").as("t"),
        TextStats.bpeishTokenCount($"text").cast("long").as("b"),
        TextStats.punctCount($"text").cast("long").as("p"),
        TextStats.stopwordCount($"text").as("s"))
      .collect().foreach { r =>
        val qc = r.getStruct(0)
        (qc.getLong(0), qc.getLong(1), qc.getLong(2), qc.getLong(3)) shouldBe
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      }
    }
  }

  test("fused tokenizer ≡ filter(split(lower)) Column formulation") {
    // the one tokenizer definition every text operator shares — pin the
    // native expression against the Column math on edge shapes AND the
    // real corpus (element-wise, order preserved)
    val edge = Seq((0L, ""), (1L, "   "), (2L, " a  b\tc\nd "),
      (3L, "ÄBC Def"), (4L, "x"), (5L, "Hello  World!")).toDF("doc_id", "text")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Seq(edge, corpus).foreach { df =>
      val both = df.select(
        TextStats.tokens($"text").as("fused"),
        graft.ext.TextStats.tokensColumnar($"text").as("columnar")).collect()
      both.foreach { r =>
        r.getSeq[String](0) shouldBe r.getSeq[String](1)
      }
    }
  }

  /** Test-side replica of the engine's 60-bit md5-prefix key (the
    * [[Dedup.md5Key]] family) for constructing deterministic CDC
    * boundary/non-boundary words. */
  private def md5KeyOf(s: String): Long = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var x = 0L
    for (i <- 0 until 7) x = (x << 8) | (dig(i) & 0xffL)
    ((x << 4) | ((dig(7) & 0xffL) >>> 4)) % 2147483647L
  }

  test("winnow kernel ≡ windowed Column formulation on every document shape") {
    // empty, whitespace-only, sub-gram, gram==window boundary, unicode
    // case, long, and exact-duplicate documents — the full edge grid
    val edge = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, ""), (4L, "   "), (5L, "one two"), (6L, "a b c"),
      (7L, "a b c d e f"), (8L, "ÄBC Def GHI jkl MNO pqr stu vwx")
    ).toDF("doc_id", "text")
    val kern = Dedup.winnowFingerprints(edge).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wind = Dedup.winnowFingerprintsWindowed(edge).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    kern shouldBe wind
    // and the kernel path emits no duplicate (id, fp) rows — per-doc
    // distinctness is built into the selection, so no shuffle is needed
    Dedup.winnowFingerprints(edge).count() shouldBe kern.size
  }

  test("cdc chunking: lossless reconstruction, shift-resistant dups, canonical-copy scrub") {
    // construct a span guaranteed to contain a full interior chunk:
    // boundary word b1 closes the preceding chunk wherever it sits, so
    // the chunk (n1 .. n5 b2) is emitted identically at ANY offset
    val pool = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "red blue green yellow purple orange silver golden").split(" ").toSeq
    val bounds = pool.filter(w => md5KeyOf(w) % 8 == 0)
    val plains = pool.filter(w => md5KeyOf(w) % 8 != 0)
    assert(bounds.size >= 2 && plains.size >= 9, s"pool too small: $bounds")
    val b1 = bounds(0); val b2 = bounds(1)
    val span = s"$b1 ${plains.take(5).mkString(" ")} $b2"
    val sharedChunk = s"${plains.take(5).mkString(" ")} $b2" // 6 tokens ≥ 4
    val docs = Seq(
      (0L, s"${plains(5)} ${plains(6)} $span ${plains(7)}"),
      (1L, s"$span ${plains(8)} ${plains(5)}"),
      (2L, s"${plains(6)} ${plains(7)} ${plains(8)}"),
      (3L, "")
    ).toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    // reconstruction: chunks in order rebuild the normalized text
    val rebuilt = chunks.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(_._3).mkString(" ")).toMap
    rebuilt(0L) shouldBe s"${plains(5)} ${plains(6)} $span ${plains(7)}"
    rebuilt(2L) shouldBe s"${plains(6)} ${plains(7)} ${plains(8)}"
    chunks.filter(_._1 == 3L) shouldBe empty // token-less: no chunks
    // n_chunk_tokens is the real token count
    chunks.foreach { case (_, _, t, n) => n shouldBe t.split(" ").length }
    // shift-resistance: the interior chunk appears verbatim in BOTH docs
    // despite different offsets and surroundings
    val dupRows = Dedup.cdcDuplicateChunks(docs).collect()
    val shared = dupRows.find(_.getAs[String]("chunk_text") == sharedChunk)
    shared should not be empty
    shared.get.getAs[Long]("n_docs") shouldBe 2L
    shared.get.getAs[Long]("min_doc") shouldBe 0L
    // scrub: doc 0 (canonical, min id) keeps the chunk; doc 1 drops it;
    // untouched docs rebuild to their normalized text with 0 drops
    val scrub = Dedup.cdcScrub(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    scrub(0L)._2 shouldBe 0L
    scrub(0L)._3 should include(sharedChunk)
    scrub(1L)._2 should be >= 1L
    scrub(1L)._3 should not include sharedChunk
    scrub(2L) shouldBe ((1L, 0L, rebuilt(2L)))
    scrub.contains(3L) shouldBe false
  }

  test("cdc contamination + identical-doc flood: bounded work, no pair term") {
    // chunk-level decontamination: bench doc 100 shares its whole body
    // with train doc 0; bench doc 101 is clean
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "red blue green yellow purple orange silver golden white black")
    ).toDF("doc_id", "text")
    val out = Dedup.cdcContamination(bench, train).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getInt(3)))).toMap
    out(100L)._1 should be >= 1L
    out(100L)._2 shouldBe 1
    out(101L) shouldBe ((0L, 0))
    // a 1000-identical-doc flood stays LINEAR through the whole CDC
    // family: chunking is per-row, the dup report and scrub key the
    // chunk digest (k rows per duplicated chunk, never k² pairs) —
    // contrast with LSH where the flood needed the exact-dup pre-pass
    val flood = spark.range(1000).select($"id".as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta eta theta iota kappa")
        .as("text"))
    val dups = Dedup.cdcDuplicateChunks(flood).collect()
    dups.foreach { r =>
      r.getAs[Long]("n_docs") shouldBe 1000L
      r.getAs[Long]("min_doc") shouldBe 0L
    }
    val scrub = Dedup.cdcScrub(flood)
    scrub.count() shouldBe 1000L
    // doc 0 keeps everything; every other doc drops every ≥4-token chunk
    val byDoc = scrub.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    byDoc(0L) shouldBe 0L
    val nDropPerDoc = dups.length.toLong
    (1L until 1000L).take(5).foreach(id => byDoc(id) shouldBe nDropPerDoc)
  }

  test("naive bayes: separable labels recovered on held-out docs; unseen-vocab tie → smallest label") {
    val docs = Seq(
      (0L, "apple banana cherry apple", "fruit"),
      (2L, "apple cherry banana banana", "fruit"),
      (4L, "dog cat wolf dog", "animal"),
      (6L, "cat cat wolf dog", "animal"),
      (1L, "apple apple banana cherry", "fruit"),
      (3L, "wolf dog cat cat", "animal"),
      // unseen vocabulary, equal token totals and priors per label:
      // exact score tie → lexicographically smallest label wins
      (9L, "zzz yyy xxx", "fruit")
    ).toDF("doc_id", "text", "source")
    val out = TextStats.naiveBayes(docs, docs.where($"doc_id" % 2 === 0))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("predicted"), r.getAs[Int]("correct")))).toMap
    Seq(0L, 1L, 2L).foreach(id => out(id)._1 shouldBe "fruit")
    Seq(3L, 4L, 6L).foreach(id => out(id)._1 shouldBe "animal")
    Seq(0L, 1L, 2L, 3L, 4L, 6L).foreach(id => out(id)._2 shouldBe 1)
    out(9L)._1 shouldBe "animal" // tie-break, not a likelihood win
    // the fused lookup-kernel scorer lands on the IDENTICAL rows —
    // scores, argmaxes, tie-breaks, and the token-less exclusion
    val fused = TextStats.naiveBayesFused(docs, docs.where($"doc_id" % 2 === 0))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("actual"),
        r.getAs[String]("predicted"), r.getAs[Long]("best_lp9"),
        r.getAs[Int]("correct"))).toSet
    val frame = TextStats.naiveBayes(docs, docs.where($"doc_id" % 2 === 0))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("actual"),
        r.getAs[String]("predicted"), r.getAs[Long]("best_lp9"),
        r.getAs[Int]("correct"))).toSet
    fused shouldBe frame
    // token-less documents are absent from both formulations
    val withEmpty = docs.union(Seq((11L, "", "fruit")).toDF("doc_id", "text", "source"))
    TextStats.naiveBayesFused(withEmpty, withEmpty.where($"doc_id" % 2 === 0))
      .where($"doc_id" === 11L).count() shouldBe 0L
    // hashed-vocabulary variant: with dims far above the vocabulary no
    // buckets collide, so it coincides with the exact variant row for
    // row — proving the bucket machinery changes nothing but the table
    // bound (at real dims, collisions are the documented trade)
    val hashed = TextStats.naiveBayesFused(docs,
        docs.where($"doc_id" % 2 === 0), hashDims = 1 << 20)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("predicted"),
        r.getAs[Long]("best_lp9"))).toSet
    val exact = TextStats.naiveBayesFused(docs, docs.where($"doc_id" % 2 === 0))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("predicted"),
        r.getAs[Long]("best_lp9"))).toSet
    hashed shouldBe exact
    // confidence margin: the planted exact tie reports margin 0; every
    // separable doc reports a strictly positive margin; second_lp9 is
    // the runner-up of the SAME score vector (best ≥ second always)
    val margins = TextStats.naiveBayesMargin(docs,
        docs.where($"doc_id" % 2 === 0))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("best_lp9"), r.getAs[Long]("second_lp9"),
          r.getAs[Long]("margin9")))).toMap
    margins(9L)._3 shouldBe 0L
    Seq(0L, 1L, 2L, 3L, 4L, 6L).foreach { id =>
      margins(id)._3 should be > 0L
      margins(id)._1 - margins(id)._2 shouldBe margins(id)._3
    }
  }

  test("hash features: summary matches a brute-force vector; token-less row is (0,0,0,-1)") {
    val texts = Seq((0L, "the quick brown fox the quick"), (1L, ""),
      (2L, "a b c a b a"))
    val out = TextStats.hashFeatures(texts.toDF("doc_id", "text"), dims = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    texts.foreach { case (id, text) =>
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val v = new Array[Long](16)
      toks.foreach(t => v((md5KeyOf(t) % 16).toInt) += 1)
      val nnz = v.count(_ > 0).toLong
      val normSq = v.map(c => c * c).sum
      val mx = if (v.isEmpty) 0L else v.max
      val am = if (mx == 0L) -1 else v.indexOf(mx)
      out(id) shouldBe ((nnz, normSq, mx, am))
    }
    out(1L) shouldBe ((0L, 0L, 0L, -1))
  }

  test("ndcg: uniform relevance scores 1.0; mixed relevance bounded by (0, 1]") {
    // every candidate has rel=1 (each doc contains exactly one query
    // term) ⇒ any ranking is ideal ⇒ nDCG = 1 exactly
    val uni = Seq((0L, "apple x"), (1L, "apple y"), (2L, "none here"))
      .toDF("doc_id", "text")
    val u = TextStats.ndcgAtK(uni, Seq(1 -> Seq("apple", "zebra")), k = 10)
      .collect()
    u.length shouldBe 1
    u.head.getAs[Double]("ndcg") shouldBe 1.0
    u.head.getAs[Long]("dcg_u9") shouldBe u.head.getAs[Long]("idcg_u9")
    // mixed relevance: nDCG stays in (0, 1] and DCG ≤ IDCG
    val mix = Seq(
      (0L, "apple banana cherry"), (1L, "apple banana x"),
      (2L, "apple x y z w q r s t u v"), (3L, "banana cherry x"),
      (4L, "nothing relevant")
    ).toDF("doc_id", "text")
    val m = TextStats.ndcgAtK(mix,
      Seq(1 -> Seq("apple", "banana", "cherry")), k = 3).collect().head
    m.getAs[Long]("dcg_u9") should be <= m.getAs[Long]("idcg_u9")
    val nd = m.getAs[Double]("ndcg")
    nd should be > 0.0
    nd should be <= 1.0
    // MRR over the same candidate frame: doc 0 is the only all-terms
    // match and tops BM25 → first_rank 1, rr 1.0; a query with no
    // full match reports NULL rank, rr 0
    val r = TextStats.mrrOf(mix, Seq(
        1 -> Seq("apple", "banana", "cherry"),
        2 -> Seq("apple", "zzz"))).orderBy("query_id").collect()
    r(0).getAs[Long]("first_rank") shouldBe 1L
    r(0).getAs[Long]("rr_u9") shouldBe 1000000000L
    r(1).isNullAt(1) shouldBe true
    r(1).getAs[Long]("rr_u9") shouldBe 0L
    // recall@k, same frame: doc 0 is the only full match → 1/1 inside
    // any top-k; the no-full-match query reports 0 relevant, NULL recall
    val rc = TextStats.recallAtK(mix, Seq(
        1 -> Seq("apple", "banana", "cherry"),
        2 -> Seq("apple", "zzz")), k = 2).orderBy("query_id").collect()
    rc(0).getAs[Long]("n_relevant") shouldBe 1L
    rc(0).getAs[Long]("n_retrieved") shouldBe 1L
    rc(0).getAs[Double]("recall") shouldBe 1.0
    rc(1).getAs[Long]("n_relevant") shouldBe 0L
    rc(1).isNullAt(3) shouldBe true
  }

  test("segmentDedup: corpus-wide first instance, exact dups collapse, partition-stable") {
    // seg size 2. doc 0: [a b][c d][e]; doc 1 exact dup of 0 → every
    // segment seen ⇒ n_kept 0, dedup_text ''; doc 2 shares leading
    // [a b] only (its [c x] differs); doc 3 tokenless via filter;
    // doc 4: single short segment, unique.
    val d = Seq(
      (0L, "a b c d e"), (1L, "a b c d e"),
      (2L, "a b c x"), (3L, "   "), (4L, "q")
    ).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Corpus.segmentDedup(df, segTokens = 2).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_segs"),
          r.getAs[Long]("n_kept"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_kept_tokens"), r.getAs[String]("dedup_text")))
        .toSet
    val out = run(d)
    out shouldBe Set(
      (0L, 3L, 3L, 5L, 5L, "a b c d e"),
      (1L, 3L, 0L, 5L, 0L, ""),
      (2L, 2L, 1L, 4L, 2L, "c x"),
      (4L, 1L, 1L, 1L, 1L, "q"))
    // first-instance choice is a min-struct aggregate ⇒ stable under
    // any partitioning
    run(d.repartition(7)) shouldBe out
  }

  test("editDistancePairs: bounded verify keeps near pairs, drops far candidates") {
    // 0/1 exact dup (dist 0), 2 one-word variant of 0 (small dist),
    // 3 unrelated. LSH candidates at the default 32/8/3 params include
    // the dup pairs; maxDist decides survival.
    val pairs = Dedup.editDistancePairs(docs, maxDist = 20).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("dist")))
    pairs should contain ((0L, 1L, 0L))
    // 0 vs 2: "the lazy dog"→"a lazy cat" = bounded small distance
    val d02 = pairs.collect { case (0L, 2L, dd) => dd }
    d02.foreach { dd => dd should be <= 20L }
    // tightening the bound to 0 keeps ONLY exact-identical texts
    val strict = Dedup.editDistancePairs(docs, maxDist = 0).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    strict shouldBe Array((0L, 1L))
  }

  test("semanticDecontaminate: threshold gates, argmax evidence, tie→smaller bench id") {
    val corpus = Seq(
      (100L, Array(1.0f, 0.0f)),   // = bench 0 and bench 1 directions? no: axis x
      (101L, Array(0.0f, 1.0f)),   // axis y — orthogonal to both bench
      (102L, Array(1.0f, 1.0f))    // 45° — cos 0.7071 to both bench vecs
    ).toDF("vec_id", "embedding")
    val bench = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(2.0f, 0.0f))      // same direction as bench 0
    ).toDF("bench_id", "embedding")
    val out = Similarity.semanticDecontaminate(corpus, bench,
        threshold = 0.7).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("bench_id"),
        r.getAs[Double]("score")))
      .sortBy(_._1)
    // 101 orthogonal → below threshold, absent; 100 hits cos 1.0 on
    // BOTH bench vecs → tie broken to bench 0; 102 at 0.7071 flags.
    out.map(_._1) shouldBe Array(100L, 102L)
    out(0)._2 shouldBe 0L
    out(0)._3 shouldBe 1.0 +- 1e-12
    out(1)._3 shouldBe math.sqrt(0.5) +- 1e-9
  }

  test("cluster-aware split: near-dup pairs can never cross splits") {
    import graft.ext.Corpus
    // docs 0/1 exact dups, 2 a near-dup of both — under a PER-DOC
    // split they could land on different sides; keyed on the cluster
    // rep they cannot, by construction, for ANY seed
    val pairs = Dedup.ngramJaccardPairs(docs, minJaccard = 0.3)
    val clusters = Dedup.duplicateClusters(pairs)
    val withRep = docs.select("doc_id")
      .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
    for (seed <- Seq(1L, 7L, 99L)) {
      val m = Corpus.splitAssign(withRep,
          Seq("train" -> 0.5, "test" -> 0.5), seed, idCol = "rep")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split"))
        .toMap
      pairs.collect().foreach { r =>
        m(r.getAs[Long]("a")) shouldBe m(r.getAs[Long]("b"))
      }
    }
  }

  test("pq: product codebooks reconstruct a product-structured corpus exactly") {
    // 4-dim vectors from the product set {e1,e2}×{e1,e2}: with m=2
    // subspaces and k=2 sub-centroids, Lloyd converges each codebook
    // to the two distinct subvector values (normalized scale 1/√2) —
    // reconstruction is EXACT, so ADC top-1 is each vector itself and
    // the code assignment separates all four combinations.
    val vecs = Seq(
      (0L, Array(1f, 0f, 1f, 0f)), (1L, Array(1f, 0f, 0f, 1f)),
      (2L, Array(0f, 1f, 1f, 0f)), (3L, Array(0f, 1f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(vecs, m = 2, k = 2, iters = 3,
      seed = 42L, dims = 4)
    cb.length shouldBe 2
    cb.foreach { book =>
      book.length shouldBe 2
      // each codebook holds the two distinct normalized subvectors
      val rounded = book.map(_.map(x => math.rint(x * 1e6) / 1e6).toList).toSet
      val s = math.rint(math.sqrt(0.5) * 1e6) / 1e6
      rounded shouldBe Set(List(s, 0.0), List(0.0, s))
    }
    // codes separate all four vectors; stable under repartitioning
    def codesOf(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqEncode(df, cb).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Int](1).toList)).toMap
    val codes = codesOf(vecs)
    codes.values.toSet.size shouldBe 4
    codesOf(vecs.repartition(5)) shouldBe codes
    // ADC self-retrieval: every vector's top-1 neighbor is itself
    val queries = vecs.select(col("vec_id").as("query_id"), col("embedding"))
    val top1 = Similarity.pqTopK(vecs, queries, cb, kNeighbors = 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    top1.toSet shouldBe Set((0L, 0L), (1L, 1L), (2L, 2L), (3L, 3L))
    // geometry guard: m must divide dims
    an[IllegalArgumentException] should be thrownBy
      Similarity.pqTrain(vecs, m = 3, k = 2, dims = 4)
  }

  test("k-means degenerate inputs: null vectors sit out IVF and PQ training, short vectors fail with the index error, empty frames train nothing") {
    val live = Seq(
      (0L, Array(1f, 2f, 3f, 4f)), (1L, Array(3f, 0f, 1f, 2f)),
      (2L, Array(2f, 2f, 0f, 1f)), (4L, Array(0f, 1f, 1f, 1f)))
    val withNull = (live :+ ((3L, null: Array[Float]))).toDF("vec_id", "embedding")
    // reference: the 1e-9 grid mean of one group, the null row skipped
    def gridMean(xs: Seq[Double]): Double =
      xs.map(x => BigDecimal(x * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLong).sum.toDouble / (xs.length.toDouble * 1e9)
    def meanOf(vs: Seq[Seq[Double]]): Seq[Double] =
      vs.head.indices.map(p => gridMean(vs.map(_(p))))
    val raw = live.map(_._2.toSeq.map(_.toDouble))
    // one cell: the centroid is the mean of every non-null vector
    Similarity.trainIvfCentroids(withNull, nCentroids = 1, iters = 2)
      .toSeq shouldBe Seq(meanOf(raw))
    // PQ (m = 2, k = 1): each codebook is the mean of the normalized
    // subvectors, normalized by the same left-fold norm as the engine
    val normed = raw.map { v =>
      val nrm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      v.map(_ / nrm)
    }
    Similarity.pqTrain(withNull, m = 2, k = 1, iters = 2, dims = 4)
      .map(_.toSeq).toSeq shouldBe
      Seq(Seq(meanOf(normed.map(_.take(2)))), Seq(meanOf(normed.map(_.drop(2)))))
    // assignment still reports every input row; the null one lands in
    // cell 0 (all its centroid distances are null and tie to cid 0)
    val cells = Similarity.assignCells(withNull, nCentroids = 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    cells.keySet shouldBe Set(0L, 1L, 2L, 3L, 4L)
    cells(3L) shouldBe 0
    // a vector shorter than dims fails with Spark's array index error —
    // never an NPE inside a task, never a silently diluted mean
    val short = (live :+ ((5L, Array(1f, 1f, 1f)))).toDF("vec_id", "embedding")
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    Seq[() => Any](
      () => Similarity.trainIvfCentroids(short, nCentroids = 2, iters = 1),
      () => Similarity.pqTrain(short, m = 2, k = 1, iters = 1, dims = 4)
    ).foreach { train =>
      val chain = causes(intercept[Exception](train()))
      chain.exists(_.isInstanceOf[NullPointerException]) shouldBe false
      chain.exists(c => String.valueOf(c.getMessage)
        .contains("INVALID_ARRAY_INDEX")) shouldBe true
    }
    // empty frames: IVF has no centroids and assigns no row, PQ has m
    // empty codebooks
    val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    Similarity.trainIvfCentroids(none).length shouldBe 0
    Similarity.assignCells(none).count() shouldBe 0L
    Similarity.pqTrain(none, m = 2, k = 2, dims = 4)
      .map(_.length).toSeq shouldBe Seq(0, 0)
  }

  test("urlTrapFlags: thresholds are strict, 2x repeats are not loops, pathless URLs pass") {
    val urls = Seq(
      (0L, "h.com/a/b"),                        // normal
      (1L, "h.com/" + Seq.tabulate(8)(i => s"s$i").mkString("/")), // depth exactly 8: NOT deep
      (2L, "h.com/" + Seq.tabulate(9)(i => s"s$i").mkString("/")), // 9 > 8: deep
      (3L, "h.com/p/q/p/q"),                    // 2x repeat: NOT looping
      (4L, "h.com/p/q/p/q/p"),                  // 3rd p: looping
      (5L, "h.com"),                            // no path at all
      (6L, "h.com/" + "z" * 114),               // len exactly 120: NOT long
      (7L, "h.com/" + "z" * 115))               // 121: long
      .toDF("doc_id", "url_norm")
    val got = graft.ext.Dedup.urlTrapFlags(urls)
      .orderBy("doc_id")
      .select("depth", "too_deep", "too_long", "looping", "trapped")
      .as[(Int, Boolean, Boolean, Boolean, Boolean)].collect().toSeq
    got shouldBe Seq(
      (2, false, false, false, false),
      (8, false, false, false, false),
      (9, true, false, false, true),
      (4, false, false, false, false),
      (5, false, false, true, true),
      (0, false, false, false, false),
      (1, false, false, false, false),
      (1, false, true, false, true))
  }
}
