package graft

import org.apache.spark.sql.functions._
import graft.ext.{Bpe, TextStats}

/** BPE merge training + merges-based counting (ext/Bpe.scala,
  * the bpeTokenCount kernel of plans/NativeExpressions.scala). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("greedy training: classic example merges the most frequent pair first, deterministically") {
    // "aaab" x3, "ab" x2: pair counts (a,a)=6, (a,b)=5 -> merge (a,a)
    // first; then (aa,a)=3, (a,b)=2, (aa,b)=... recount on merged vocab
    val merges = Bpe.trainMerges(Seq(("aaab", 3L), ("ab", 2L)), numMerges = 10)
    merges.head shouldBe ("a", "a")
    // training is deterministic: same input, same merges
    merges shouldBe Bpe.trainMerges(Seq(("aaab", 3L), ("ab", 2L)), numMerges = 10)
    // early stop: no pair reaches count 2 in a hapax-only vocab
    Bpe.trainMerges(Seq(("xy", 1L)), numMerges = 10) shouldBe Nil
  }

  test("tie-break is lexicographic smallest pair at equal counts") {
    // "cd" and "ab" both occur twice -> (a,b) wins over (c,d)
    val merges = Bpe.trainMerges(Seq(("cd", 2L), ("ab", 2L)), numMerges = 1)
    merges shouldBe Seq(("a", "b"))
  }

  test("StandardMerges is a deterministic non-trivial constant") {
    Bpe.StandardMerges shouldBe
      Bpe.trainMerges(Bpe.wordFreqs(Bpe.StandardTrainingText), 200)
    Bpe.StandardMerges.length should be > 50
    Bpe.StandardMerges.length should be <= 200
    // the most frequent English pair of the training text merges first
    Bpe.StandardMerges.head shouldBe ("t", "h")
    // merged symbols are alphanumeric only (the oracle's injection
    // format and the chr(1) wrapping both rely on this)
    Bpe.StandardMerges.foreach { case (a, b) =>
      (a + b).forall(c => c.isLetterOrDigit || c == '_') shouldBe true
    }
  }

  test("sequential merge application: golden counts") {
    val merges = Seq(("t", "h"), ("th", "e"), ("e", "n"))
    Bpe.tokenCountRef("the", merges) shouldBe 1 // t h e -> th e -> the
    // "then": (t,h) -> [th,e,n]; (th,e) -> [the,n]; (e,n) gone -> 2
    Bpe.tokenCountRef("then", merges) shouldBe 2
    // single-char words and punctuation are one token each, unmergeable
    Bpe.tokenCountRef("a , b", merges) shouldBe 3
    // overlapping pair merges left-to-right non-overlapping: "lll" with
    // (l,l) -> [ll, l] = 2
    Bpe.tokenCountRef("lll", Seq(("l", "l"))) shouldBe 2
    Bpe.tokenCountRef("llll", Seq(("l", "l"))) shouldBe 2
    Bpe.tokenCountRef("", merges) shouldBe 0
  }

  test("merge-free text: count equals the pre-tokenizer proxy") {
    // every pre-token is a single symbol -> BPE count == proxy count
    val texts = Seq("a b c , . x 9 _", "( ) [ ] { }", "1 2 3")
    texts.foreach { t =>
      Bpe.tokenCountRef(t) shouldBe
        t.split(" ").count(_.nonEmpty).toLong
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val out = df.select(Bpe.tokenCount($"text").as("bpe"),
      TextStats.bpeishTokenCount($"text").cast("long").as("proxy")).collect()
    out.foreach(r => r.getLong(0) shouldBe r.getLong(1))
  }

  test("native kernel matches the pure-Scala reference on the real corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = docs.select($"doc_id", $"text",
        Bpe.tokenCount($"text").as("bpe"),
        TextStats.bpeishTokenCount($"text").cast("long").as("proxy"))
      .collect()
    rows.length should be > 0
    rows.foreach { r =>
      withClue(s"doc ${r.getLong(0)}: ") {
        r.getLong(2) shouldBe Bpe.tokenCountRef(r.getString(1))
        // merges only ever reduce symbols within a word, never below 1:
        // proxy (words) <= bpe (symbols after merges)
        r.getLong(2) should be >= r.getLong(3)
      }
    }
    // merges actually fire on this corpus: strictly fewer tokens than
    // unmerged code points for at least one doc
    val anyMerged = rows.exists(r =>
      r.getLong(2) < Bpe.tokenCountRef(r.getString(1), merges = Nil))
    anyMerged shouldBe true
  }

  test("corpus-trained merges: the production path runs and counts drop vs untrained") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Bpe.trainMergesFromCorpus(docs, "text", numMerges = 50)
    merges.length should be > 0
    val (bpe, raw) = docs.select(
        sum(Bpe.tokenCount($"text", merges)).as("b"),
        sum(Bpe.tokenCount($"text", Seq.empty)).as("r"))
      .as[(Long, Long)].head()
    bpe should be < raw // trained merges compress the corpus itself
  }

  test("the kernel's pre-tokenizer pattern is textually the shared one") {
    // NativeExpressions compiles its own copy of BpeishPattern; this
    // pin fails if either side edits the pattern without the other
    TextStats.BpeishPattern shouldBe "[A-Za-z0-9_]+|[^A-Za-z0-9_ \\t\\n\\x0B\\f\\r]"
  }

  test("encode: pieces rejoin to their pre-token and total equals the count kernel") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pieces = docs
      .select($"doc_id", posexplode(regexp_extract_all($"text",
        lit(TextStats.BpeishPattern), lit(0))).as(Seq("w_idx", "w")))
      .select($"doc_id", $"w_idx", $"w",
        graft.plans.NativeFunctions.bpePieces($"w", Bpe.StandardMerges).as("ps"))
    // lossless: concatenating a word's pieces rebuilds the word
    pieces.where(concat_ws("", $"ps") =!= $"w").count() shouldBe 0L
    // consistent: piece totals equal the count kernel corpus-wide
    val viaPieces = pieces
      .agg(sum(org.apache.spark.sql.functions.size($"ps"))).head().getLong(0)
    val viaCount = docs.agg(sum(Bpe.tokenCount($"text"))).head().getLong(0)
    viaPieces shouldBe viaCount
  }

  test("counter-tier invariants hold corpus-wide: pieces <= bpe <= symbols") {
    // BPE starts from character symbols and merges only within
    // pre-tokenizer pieces, so for every document the merges-applied
    // count is bounded below by the piece count (a piece never
    // vanishes) and above by the symbol count (a merge only shrinks) —
    // the invariant x_bpe_compression's merge_savings denominator
    // rests on
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bad = docs.select(
        TextStats.bpeishTokenCount($"text").cast("long").as("pieces"),
        Bpe.tokenCount($"text").cast("long").as("bpe"),
        org.apache.spark.sql.functions.length(
          regexp_replace($"text", "[ \\t\\n\\x0B\\f\\r]", ""))
          .cast("long").as("symbols"))
      .where($"bpe" < $"pieces" || $"bpe" > $"symbols")
      .count()
    bad shouldBe 0L
  }
}
