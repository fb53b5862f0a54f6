package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verify's per-query dump, which the oracle compare reads back. */
class VerifySpec extends SparkSpec {
  test("a query that throws leaves no dump, not the stale one of an earlier run") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify").toFile
    try {
      val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("id")
      val broken: (SparkSession, String) => DataFrame =
        (_, _) => throw new RuntimeException("query now throws")
      Verify.dump(spark, "unused", out.getPath, Map("q" -> ok))
      spark.read.parquet(new File(out, "q").getPath).count() shouldBe 3
      Verify.dump(spark, "unused", out.getPath, Map("q" -> broken))
      new File(out, "q").exists() shouldBe false
    } finally FileUtils.deleteDirectory(out)
  }
}
