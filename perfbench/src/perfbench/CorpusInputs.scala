package perfbench

import java.util.Random

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs of the dataset build: a corpus with language strata, a
  * stated share of exact and near duplicates, a held-out benchmark set
  * that leaks into a stated share of the corpus, clustered embeddings and
  * a link table over the corpus URLs. Everything is written as multi-file
  * parquet, so the engine reads it as a real source. */
object CorpusInputs {
  val Docs = 2000
  val BenchmarkDocs = 100
  val Vectors = 4000
  val Dims = 64
  val Clusters = 16
  val Hosts = 240
  val HostGroups = 12

  /** Document kinds by position in every block of 100, so each seed gets
    * the same count of each: 6 exact copies, 6 near copies (5% of tokens
    * replaced), 5 loose copies (25% replaced: some become LSH candidates
    * that exact verification rejects), 4 documents too short for the
    * quality filter and 3 that carry a 12-token run of a benchmark
    * document. The seed picks content and copy sources. */
  private def kind(i: Int): String = i % 100 match {
    case k if k < 6  => "exact"
    case k if k < 12 => "near"
    case k if k < 17 => "loose"
    case k if k < 21 => "short"
    case k if k < 24 => "contaminated"
    case _           => "fresh"
  }

  /** Language strata by position in every block of 50. */
  private val Strata: Seq[(String, Int)] = Seq("en" -> 25, "de" -> 6, "fr" -> 6, "es" -> 6, "zh" -> 7)
  private val StrataCycle: IndexedSeq[String] =
    Strata.flatMap { case (l, n) => Seq.fill(n)(l) }.toIndexedSeq

  private val Stop = Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")

  private def vocabulary(lang: String, r: Random): IndexedSeq[String] = {
    val syl = lang match {
      case "en" => Seq("th", "er", "on", "an", "re", "in", "ed", "st", "ar", "ing")
      case "de" => Seq("ein", "sch", "ch", "en", "ung", "ei", "ber", "ge", "lich", "zu")
      case "fr" => Seq("le", "ent", "ou", "eau", "que", "oi", "on", "ai", "re", "tion")
      case "es" => Seq("la", "os", "ar", "es", "ción", "que", "do", "ra", "mi", "ente")
      case _    => Seq("的", "是", "在", "数", "据", "中", "国", "人", "大", "学")
    }
    (0 until 400).map(_ => (1 to 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.size))).mkString)
      .distinct
  }

  private def text(words: IndexedSeq[String], lang: String, nTok: Int, r: Random): Array[String] =
    Array.fill(nTok) {
      if (lang == "en" && r.nextInt(6) == 0) Stop(r.nextInt(Stop.size))
      else words(r.nextInt(words.size))
    }

  /** Where the inputs are, how many documents there are, and the ids of
    * those the recipe must drop: exact copies, documents too short for the
    * quality filter and documents that carry a benchmark run. */
  final case class Written(docs: String, benchmark: String, embeddings: String,
      links: String, nDocs: Long, mustDrop: Seq[Long])

  def write(spark: SparkSession, seed: Long, dir: String, splits: Int): Written = {
    val r = new Random(seed)
    val vocab = Strata.map { case (l, _) => l -> vocabulary(l, r) }.toMap
    val bench = (0 until BenchmarkDocs).map { i =>
      val lang = StrataCycle(i % StrataCycle.size)
      i.toLong -> text(vocab(lang), lang, 40 + i % 40, r)
    }
    val docs = ArrayBuffer.empty[(Long, String, Array[String])]
    val originals = ArrayBuffer.empty[Int]
    val mustDrop = ArrayBuffer.empty[Long]
    (0 until Docs).foreach { i =>
      val id = i.toLong
      kind(i) match {
        case k @ ("exact" | "near" | "loose") if originals.nonEmpty =>
          val (_, l, t) = docs(originals(r.nextInt(originals.size)))
          val copy = t.clone()
          if (k == "exact") mustDrop += id
          if (k != "exact")
            (0 until copy.length / (if (k == "near") 20 else 4)).foreach { _ =>
              copy(r.nextInt(copy.length)) = vocab(l)(r.nextInt(vocab(l).size))
            }
          docs += ((id, l, copy))
        case k =>
          val lang = StrataCycle(i % StrataCycle.size)
          val t = text(vocab(lang), lang, if (k == "short") 3 else 20 + (i * 37) % 100, r)
          if (k == "contaminated") {
            val b = bench(r.nextInt(bench.size))._2
            System.arraycopy(b, r.nextInt(b.length - 12), t, r.nextInt(t.length - 12), 12)
          }
          if (k != "short") originals += i
          if (k == "short" || k == "contaminated") mustDrop += id
          docs += ((id, lang, t))
      }
    }
    val hostOf = (id: Long) => {
      val g = (id % HostGroups).toInt
      g + HostGroups * ((id / HostGroups) % (Hosts / HostGroups)).toInt
    }
    val url = (id: Long) => s"https://h${hostOf(id)}.example.org/p/$id"

    val docRows = docs.map { case (id, l, t) =>
      Row(id, l, t.mkString(" "), url(id)) }
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType),
      StructField("url", StringType)))
    val benchRows = bench.map { case (id, t) => Row(id, t.mkString(" ")) }
    val benchSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))

    // links stay inside a host group, so the host graph has HostGroups
    // components; every page links to its group's hub page (document g
    // of group g) and to two random pages of its group, so each group's
    // diameter is at most 2 whatever the seed
    val linkRows = docs.flatMap { case (id, _, _) =>
      val group = id % HostGroups
      (group +: Seq.fill(2)(r.nextInt(Docs / HostGroups) * HostGroups + group))
        .map(target => Row(url(id), url(target)))
    }
    val linkSchema = StructType(Seq(StructField("url", StringType),
      StructField("link", StringType)))

    val centers = Array.fill(Clusters, Dims)(r.nextGaussian())
    val vecRows = (0 until Vectors).map { i =>
      val c = centers(r.nextInt(Clusters))
      Row(i.toLong, c.map(x => (x + 0.15 * r.nextGaussian()).toFloat).toSeq)
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))

    def out(name: String, rows: Seq[Row], schema: StructType): String = {
      val path = s"$dir/$name"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, splits), schema)
        .write.mode("overwrite").parquet(path)
      path
    }
    Written(out("documents", docRows.toSeq, docSchema),
      out("benchmark", benchRows, benchSchema),
      out("embeddings", vecRows, vecSchema),
      out("links", linkRows.toSeq, linkSchema),
      docs.size.toLong, mustDrop.toSeq)
  }
}
