package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. `op` is the operation it belongs
  * to (0 outside any), `parent` the span that caused it (0 for a root). */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/**
 * In-memory span recorder. Spans are kept until the run ends; nothing is
 * written while operations are being timed. When `on` is false every
 * method is a pass-through, so untraced runs time the bare calls.
 */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = ArrayBuffer.empty[Span]
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()

  def newId(): Long = ids.incrementAndGet()

  /** Converts a wall-clock millisecond time (as Spark listener events carry
    * it) to this recorder's nanosecond clock. */
  def wallToNs(ms: Long): Long = nano0 + (ms - wall0) * 1000000L

  def record(s: Span): Unit = if (on) synchronized { buf += s }

  def spans: Vector[Span] = synchronized { buf.toVector }

  /** Runs `body` inside a span named `name`; the body gets the span's id to
    * hand to its children (0 when tracing is off). */
  def span[T](name: String, parent: Long, op: Long)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = newId()
      val t0 = System.nanoTime()
      try body(id) finally record(Span(id, parent, op, name, t0, System.nanoTime()))
    }
}

object Tracer {

  /** A span's self time: its duration minus the part of its interval that
    * the union of its children's intervals covers. Children may overlap one
    * another (parallel stages) and may stick out of the parent (listener
    * times have millisecond resolution); both are handled. */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    span.durNs - covered
  }

  /** Self time summed per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => selfNs(s, kids.getOrElse(s.id, Nil))).sum
    }
  }
}
