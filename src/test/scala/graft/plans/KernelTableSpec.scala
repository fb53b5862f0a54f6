package graft.plans

import scala.util.Try
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.ext.Dedup

/** The kernel table ([[Kernel]]): its calls' input casts, plan
  * canonicalization, and every row's results under whole-stage codegen
  * against the interpreted `StaticInvoke.eval` path. */
class KernelTableSpec extends SparkSpec {
  import spark.implicits._

  private val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
    Seq(0.5, 0.5, 0.5, 0.5))
  private val books = Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
    Seq(Seq(0.6, 0.8), Seq(-1.0, 0.0)))

  /** One partition of `(id, v)` rows from an RDD, so the optimizer keeps
    * the projection (a local relation would be folded at plan time). */
  private def vectors(vs: Seq[Seq[Any]], t: DataType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 1),
      StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(t)))))

  private def vectorKernels(df: DataFrame): DataFrame = df.select(
    NativeFunctions.dot($"v", $"v"),
    NativeFunctions.nearestCentroids($"v", cents, 3),
    NativeFunctions.pqCodes($"v", books),
    NativeFunctions.quantizeInt8($"v"))

  private def casts(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.flatMap(_.expressions)
      .map(_.collect { case c: Cast => c }.size).sum

  test("vector kernels: int, bigint and decimal arrays are cast to array<double>; float and double arrays are read as given") {
    val values = Seq(Seq(1, 2, 3, 4), Seq(-3, 0, 7, 2), Seq(0, 0, 0, 0), Seq(5, -5, 1, 9))
    val doubles = vectors(values.map(_.map(_.toDouble)), DoubleType)
    val expected = vectorKernels(doubles).collect().toSeq
    for (t <- Seq(IntegerType, LongType, DecimalType(10, 2))) withClue(t) {
      val in = vectors(values, IntegerType).select($"id", $"v".cast(ArrayType(t)).as("v"))
      vectorKernels(in).collect().toSeq shouldBe expected
    }
    vectorKernels(vectors(values, IntegerType)).collect().toSeq shouldBe expected
    vectors(Seq(Seq(1, 2, 3)), IntegerType)
      .select(NativeFunctions.dot($"v", $"v")).head().getDouble(0) shouldBe 14.0
    // floats widen per element inside the kernel, exactly as a cast would
    val floats = vectors(values.map(_.map(_.toFloat)), FloatType)
    vectorKernels(floats).collect().toSeq shouldBe expected
    casts(vectorKernels(floats)) shouldBe 0
    casts(vectorKernels(doubles)) shouldBe 0
    casts(vectorKernels(vectors(values, IntegerType))) should be > 0
  }

  test("constant-carrying kernels canonicalize by value: two builds of one plan are equal and reuse one exchange") {
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      (1L, "the quick brown fox"), (2L, "the lazy dog"), (3L, "a quick dog")), 2))
      .toDF("id", "text")
    def minhash: Column = {
      val (as, bs) = Dedup.minhashCoefs(8)
      NativeFunctions.minhashSignature($"text", as, bs, 2)
    }
    def nb: Column = NativeFunctions.nbPredict($"text", Seq(3L, 9L),
      Seq(1L, -1L, 2L, 0L), Seq(-5L, -6L), Seq(10L, 20L), hashMod = 16)
    def analyzed(c: Column) =
      docs.select(c).queryExecution.analyzed.expressions.head.children.head
    for ((name, build) <- Seq[(String, () => Column)](
        "minhashSignature" -> (() => minhash), "nbPredict" -> (() => nb))) withClue(name) {
      analyzed(build()) semanticEquals analyzed(build()) shouldBe true
      def agg = docs.groupBy(hash(build()) % 4).count()
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val plan = agg.union(agg).queryExecution.executedPlan
        plan.collect { case r: ReusedExchangeExec => r } should have size 1
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  private val text = "The quick brown fox jumps over the lazy dog, and the quick fox naps."
  private val vec = Seq(0.25, -1.5, 3.0, 0.125)
  private val merges = Seq(("t", "h"), ("th", "e"), ("q", "u"))
  private val chunked = "5\r\nhello\r\n0\r\n\r\n"

  private def md5Key(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    val x = (0 until 7).foldLeft(0L)((x, i) => (x << 8) | (d(i) & 0xffL))
    ((x << 4) | ((d(7) & 0xffL) >>> 4)) % Native.MinhashPrime
  }

  private def segKey(source: String, seg: String): Long = {
    val b = (source + "\u0001" + seg).getBytes("UTF-8")
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(b,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  private def call(f: Seq[Column] => Column, ordinary: Seq[Any]*) = (f, ordinary)

  /** Every row: its call through [[NativeFunctions]] with small
    * constants, and its ordinary inputs (one value per column). */
  private lazy val calls: Map[String, (Seq[Column] => Column, Seq[Seq[Any]])] = {
    val (as, bs) = Dedup.minhashCoefs(4)
    val wwKeys = Seq("fox", "quick", "the").map(md5Key).sorted
    Map(
      "simhash" -> call(c => NativeFunctions.simhash(c(0)), Seq(Seq("a", "b", "a"))),
      "charTrigramHashes" -> call(c => NativeFunctions.charTrigramHashes(c(0)), Seq(text)),
      "mattrStats" -> call(c => NativeFunctions.mattrStats(c(0), 3), Seq(text)),
      "scrubSegments" -> call(c => NativeFunctions.scrubSegments(c(0), c(1),
        Seq(segKey("s", "the quick"), 7L, -3L), 2), Seq("s", text)),
      "gopherGramStats" -> call(c => NativeFunctions.gopherGramStats(c(0)), Seq(text)),
      "charEntropy9" -> call(c => NativeFunctions.charEntropy9(c(0)), Seq(text)),
      "rollingHash" -> call(c => NativeFunctions.rollingHash(c(0)), Seq(text)),
      "qualityCounts" -> call(c => NativeFunctions.qualityCounts(c(0)), Seq(text)),
      "tokensOf" -> call(c => NativeFunctions.tokensOf(c(0)), Seq(text)),
      "normalizedRollingHash" -> call(c => NativeFunctions.normalizedRollingHash(c(0)), Seq(text)),
      "winnowFps" -> call(c => NativeFunctions.winnowFps(c(0), 2, 3), Seq(text)),
      "cdcChunks" -> call(c => NativeFunctions.cdcChunks(c(0), 3), Seq(text)),
      "nbPredict" -> call(c => NativeFunctions.nbPredict(c(0), Seq(1L, 5L),
        Seq(3L, -2L, 0L, 4L), Seq(-1L, -2L), Seq(5L, 5L), hashMod = 7), Seq(text)),
      "worstWindow" -> call(c => NativeFunctions.worstWindow(c(0), wwKeys,
        Seq(-3L, 2L, -1L), 2), Seq(text)),
      "hashFeatureStats" -> call(c => NativeFunctions.hashFeatureStats(c(0), 8), Seq(text)),
      "hashedShingles" -> call(c => NativeFunctions.hashedShingles(c(0), 2), Seq(text)),
      "minhashSignature" -> call(c => NativeFunctions.minhashSignature(c(0), as, bs, 2), Seq(text)),
      "simhashMd5" -> call(c => NativeFunctions.simhashMd5(c(0)), Seq(text)),
      "quantizeInt8" -> call(c => NativeFunctions.quantizeInt8(c(0)), Seq(vec)),
      "bpeTokenCount" -> call(c => NativeFunctions.bpeTokenCount(c(0), merges), Seq(text)),
      "bpePieces" -> call(c => NativeFunctions.bpePieces(c(0), merges), Seq("quitethe")),
      "dsirScore" -> call(c => NativeFunctions.dsirScore(c(0), Seq(1L, -2L, 3L)), Seq(text)),
      "langIdScore" -> call(c => NativeFunctions.langIdScore(c(0), Seq("en", "de"),
        Seq(-7L, 11L), Seq(1L, 2L, 3L, 4L), Seq(-1L, -2L)), Seq(text)),
      // a length mismatch is null, not a truncated product
      "dot" -> call(c => NativeFunctions.dot(c(0), c(1)), Seq(vec, vec.reverse),
        Seq(vec, vec.take(3))),
      "pqCodes" -> call(c => NativeFunctions.pqCodes(c(0), books), Seq(vec)),
      "nearestCentroids" -> call(c => NativeFunctions.nearestCentroids(c(0), cents, 3), Seq(vec)),
      "decodeEntities" -> call(c => NativeFunctions.decodeEntities(c(0)),
        Seq("a &lt; b &#65; &amp;amp; &#x1F600;")),
      "removeDotSegments" -> call(c => NativeFunctions.removeDotSegments(c(0)), Seq("/a/./b/../c/.")),
      "resolveHref" -> call(c => NativeFunctions.resolveHref(c(0), c(1)),
        Seq("http://a.com/b/c?q#f", "../d")),
      "gzipMember" -> call(c => NativeFunctions.gzip(c(0)), Seq(text.getBytes("UTF-8"))),
      "zlibMember" -> call(c => NativeFunctions.zlib(c(0)), Seq(text.getBytes("UTF-8"))),
      "gunzipTry" -> call(c => NativeFunctions.gunzipTry(c(0)),
        Seq(Native.gzipMember(text.getBytes("UTF-8")))),
      "decodeCharset" -> call(c => NativeFunctions.decodeCharset(c(0), c(1)),
        Seq("日本語".getBytes("Shift_JIS"), "shift_jis")),
      "decodeHttpBody" -> call(c => NativeFunctions.decodeHttpBody(c(0), c(1), c(2)),
        Seq(chunked, "chunked", "")),
      "dechunkTry" -> call(c => NativeFunctions.dechunkTry(c(0)), Seq(chunked)))
  }

  private def empty(t: DataType): Any = t match {
    case BinaryType => Array.emptyByteArray
    case _: ArrayType => Seq.empty
    case _ => ""
  }

  /** Values comparable by `==`, doubles by their bits. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: Seq[_] => s.map(norm)
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  private def rootCause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getName}: ${root.getMessage}"
  }

  /** The row's results over a null row, empty values and its ordinary
    * inputs under `conf`, with the executed plan's text. */
  private def run(k: Kernel, conf: Map[String, String]): (String, Either[String, Seq[Any]]) = {
    val (f, ordinary) = calls(k.method)
    val schema = StructType(k.inputTypes.zipWithIndex.map { case (t, i) =>
      StructField(s"c$i", t) })
    val rows = Seq(Seq.fill(schema.length)(null), k.inputTypes.map(empty)) ++ ordinary
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), 1), schema)
      .select(f(schema.fieldNames.toSeq.map(col)))
    val prev = conf.keys.map(key => key -> spark.conf.getOption(key))
    conf.foreach { case (key, v) => spark.conf.set(key, v) }
    try {
      val plan = df.queryExecution.executedPlan.toString
      (plan, Try(df.collect().toSeq.map(r => norm(r.get(0)))).toEither.left.map(rootCause))
    } finally prev.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  test("every kernel row gives the same results under whole-stage codegen and interpreted (StaticInvoke.eval)") {
    calls.keySet shouldBe Kernel.all.map(_.method).toSet
    val codegen = Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val interpreted = Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    for (k <- Kernel.all) withClue(s"${k.method}: ") {
      val (cgPlan, cg) = run(k, codegen)
      val (inPlan, in) = run(k, interpreted)
      cgPlan should include(s"Native.${k.method}(")
      cgPlan should startWith("*(")
      inPlan should not startWith "*("
      in shouldBe cg
      k.method match {
        case "nearestCentroids" => cg.toOption.get.head shouldBe Seq(0, 1, 2)
        case "dot" => cg.toOption.get.last shouldBe (null: Any)
        case "pqCodes" => cg.isLeft shouldBe true // an empty vector is too short
        case _ =>
          cg.isRight shouldBe true
          if (k.propagateNull) cg.toOption.get.head shouldBe (null: Any)
      }
    }
  }
}
