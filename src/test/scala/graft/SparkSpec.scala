package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local session for all specs (one JVM-wide session keeps the
  * suite fast; tests only read, never mutate session state). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Collect a series frame to (t -> value) pairs ordered by t. */
  def seriesOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select("t", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq

  def longSeriesOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("t", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  /** Independent reference model for every connected-components answer:
    * textbook union-find over the same edge list, each vertex mapped to
    * its component's (min vertex, size). Self-pairs add no vertex. */
  def refComponents[T: Ordering](edges: Seq[(T, T)]): Map[T, (T, Long)] = {
    val e = edges.filter { case (s, d) => s != d }
    val vs = (e.map(_._1) ++ e.map(_._2)).distinct
    val parent = scala.collection.mutable.Map(vs.map(v => v -> v): _*)
    def find(x: T): T =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    e.foreach { case (s, d) =>
      val (rs, rd) = (find(s), find(d)); if (rs != rd) parent(rs) = rd }
    vs.groupBy(find).values.flatMap { members =>
      val label = members.min
      val size = members.size.toLong
      members.map(_ -> ((label, size)))
    }.toMap
  }
}
