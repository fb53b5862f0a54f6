package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [query ...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // optional filter (local iteration); the driver always passes 2 args
    val only = args.drop(2).toSet
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) })
    // Jackson escapes quotes, backslashes and every control char (<0x20):
    // a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava))
    spark.stop()
  }
  /** Writes each query's result to `$outDir/<name>/` as one parquet file.
    * An earlier run's dump is deleted first, so a query that now throws
    * leaves no dump and the oracle compare cannot pass on a stale one. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Unit =
    queries.foreach { case (name, fn) =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir, name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
}
