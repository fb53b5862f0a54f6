package graft.examples

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventTimeOps
import graft.streaming.EventTimeOps.SessionEvent

/**
 * Runnable demo of the event-time streaming operators: watermarked
 * tumbling windows (late data dropped, state bounded) and stateful
 * gap sessionization.
 *
 * Usage: sbt "runMain graft.examples.EventTimeDemo"
 */
object EventTimeDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session()
    implicit val ctx = spark.sqlContext
    import spark.implicits._

    // --- watermarked windows ---
    val mem = MemoryStream[(Long, String, java.sql.Timestamp, Double)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((1L, "click", ts("2026-01-01 10:05:00"), 1.0),
      (2L, "view", ts("2026-01-01 10:20:00"), 2.0))
    val win = EventTimeOps.windowedCounts(
      mem.toDF().toDF("user_id", "event_type", "ts", "value"), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("demo_win")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    win.processAllAvailable()
    mem.addData((3L, "click", ts("2026-01-01 13:00:00"), 4.0)) // advances watermark
    win.processAllAvailable()
    mem.addData((4L, "click", ts("2026-01-01 10:01:00"), 8.0)) // too late → dropped
    win.processAllAvailable()
    win.stop()
    println("[demo] finalized windows:")
    spark.table("demo_win").orderBy("w_start", "event_type").collect()
      .foreach(r => println("[demo]   " + r))

    // --- stateful sessionization ---
    val sess = MemoryStream[SessionEvent]
    val us = 1000000L
    // ts starts above 0: rows at ts <= watermark (initially 0) are late
    sess.addData(
      SessionEvent(7L, 10 * us, 1.0), SessionEvent(7L, 70 * us, 2.0),
      SessionEvent(7L, 4010 * us, 10.0))
    val sq = EventTimeOps.sessionize(sess.toDS(), gapUs = 1800L * us)
      .writeStream.format("memory").queryName("demo_sess")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination(60000)
    println("[demo] closed sessions:")
    spark.table("demo_sess").collect().foreach(r => println("[demo]   " + r))
    println("[demo] EVENT-TIME OPS OK")
    spark.stop()
  }
}
