package perfbench

import scala.collection.mutable.ArrayBuffer

/** Spans around calls into the program's layers. The untraced run uses
  * [[Trace.Off]], which only evaluates the body. */
trait Trace {
  def span[T](name: String)(body: => T): T
  /** Attach a count to the innermost open span (rows a sink produced). */
  def note(key: String, value: Double): Unit = ()
}

object Trace {
  object Off extends Trace {
    def span[T](name: String)(body: => T): T = body
  }
}

final case class Span(id: Int, parent: Int, pass: Int, name: String,
    startNs: Long, endNs: Long, counts: Counts, notes: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records one span per layer call, in memory: name, start, end, parent
  * span and pass id, plus the scheduler counts taken inside it. Counts
  * are read (and the listener bus drained) outside the timed interval. */
final class Tracer(counters: Counters) extends Trace {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, ArrayBuffer[(String, Double)])] = Nil
  private var nextId = 0
  var pass: Int = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val notes = ArrayBuffer.empty[(String, Double)]
    stack = (id, notes) :: stack
    val before = counters.snapshot()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val after = counters.snapshot()
      stack = stack.tail
      done += Span(id, parent, pass, name, t0, t1, after - before, notes.toMap)
    }
  }

  override def note(key: String, value: Double): Unit =
    stack.headOption.foreach(_._2 += (key -> value))

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** A span's duration minus the part of it that its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }
}
