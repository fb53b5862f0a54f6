package graft.examples

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.blueprint.BlueprintParser
import graft.operators.{Dispatch, Engine}
import graft.streaming.PacedRunner

/**
 * Runnable demo of the streaming delivery shell (SURVEY §2.9): a
 * blueprint is materialized, its slot view becomes the delivery table,
 * and ticks drive at-most-once slot delivery through the claim ledger.
 * A deliberately crashing delivery on tick 1 demonstrates the
 * reference's delete-before-process semantics: the tick is claimed,
 * the crash happens after, and the retry run skips it forever.
 *
 * Usage: sbt "runMain graft.examples.PacedDeliveryDemo"
 */
object PacedDeliveryDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session()
    implicit val ctx = spark.sqlContext
    import spark.implicits._

    val bp = BlueprintParser.parse(
      """{"generators":[
        |  {"id":"g1","shape":"constant","config":{"num_points":5,"constant":7}},
        |  {"id":"g2","shape":"square","config":{"num_points":5,"low_value":1,"low_width":1,"high_value":9,"high_width":1}}],
        | "targets":[{"type":"cloudwatch","generators":["g1","g2"]}]}""".stripMargin)
    val slots = Dispatch.slotRecords(
      Engine.slotView(spark, bp, Engine.materialize(spark, bp, 42L)))
      .withColumnRenamed("datapoints", "value")

    val ledger = java.nio.file.Files.createTempDirectory("graft-demo").toString + "/ledger"
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

    // Run 1: ticks 0, 1, 2; delivery of tick 1 crashes AFTER its claim.
    // Tick 2 sits behind the crash: it must NOT be claimed (claims are
    // per-tick, immediately before each delivery) so the retry run can
    // still deliver it.
    val m1 = MemoryStream[Long]
    m1.addData(0L, 1L, 2L)
    val q1 = PacedRunner.startAtMostOnce(spark, slots, 5L, ledger,
      (tick, slot) => {
        if (tick == 1L) throw new RuntimeException("simulated delivery crash")
        delivered.add(tick)
        println(s"[demo] delivered tick $tick: " + slot.collect().mkString(", "))
      },
      m1.toDF(), Trigger.AvailableNow())
    try q1.awaitTermination(60000)
    catch { case _: Exception => println("[demo] run 1 crashed mid-delivery (expected)") }

    // Run 2: ticks 1 and 2 re-offered (at-least-once transport) + new
    // tick 3. Tick 1 is claimed → skipped forever; tick 2 was never
    // claimed → delivered now.
    val m2 = MemoryStream[Long]
    m2.addData(1L, 2L, 3L)
    val q2 = PacedRunner.startAtMostOnce(spark, slots, 5L, ledger,
      (tick, slot) => {
        delivered.add(tick)
        println(s"[demo] delivered tick $tick: " + slot.collect().mkString(", "))
      },
      m2.toDF(), Trigger.AvailableNow())
    q2.awaitTermination(60000)

    val ticks = delivered.toArray.map(_.asInstanceOf[Long]).sorted.toSeq
    println(s"[demo] delivered ticks = $ticks (tick 1 claimed-then-crashed => dropped; tick 2 behind the crash => recovered)")
    assert(ticks == Seq(0L, 2L, 3L), s"expected Seq(0, 2, 3), got $ticks")
    println("[demo] AT-MOST-ONCE OK")
    spark.stop()
  }
}
