package perfbench

import scala.collection.mutable.ArrayBuffer

/** One call into a layer, recorded from outside the program. */
final case class Span(
    id: Int, parent: Int, unit: Int, name: String,
    t0Ns: Long, t1Ns: Long, jobs: Long, action: Boolean) {
  def ms: Double = (t1Ns - t0Ns) / 1e6
  /** An action call that launched no job: served by a memo or cache. */
  def memoServed: Boolean = action && jobs == 0
}

/** In-memory span recorder for the traced run. Spans are kept in a
  * list and written out once, when the run ends. With tracing off,
  * [[span]] runs the body and records nothing.
  *
  * In the traced run every span boundary drains the listener bus (the
  * collector's sentinel), so a span's job count is exact; the drains
  * are themselves spans named `trace.drain` and count as tracing
  * overhead, never as any layer's time.
  */
final class Trace(var enabled: Boolean, collector: Collector, group: () => String) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var unit = -1
  private var acc: Acc = new Acc

  def bind(a: Acc): Unit = acc = a

  /** Record `body` as a call into layer `name`. `action` says the call
    * is expected to run Spark jobs (false for driver-only work).
    */
  def span[T](name: String, action: Boolean = true)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in below
      stack = id :: stack
      drainSpan(parent)
      val jobs0 = acc.jobs
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        drainSpan(parent)
        stack = stack.tail
        spans(id) = Span(id, parent, unit, name, t0, t1, acc.jobs - jobs0, action)
      }
    }

  private var rootFrom = 0

  /** Mark the start of the unit's timed region. */
  def openRoot(): Unit = rootFrom = spans.size

  /** Close the timed region [t0Ns, t1Ns] as the unit's root span; the
    * region's top-level spans become its children, so the root's self
    * time is the glue between layer calls.
    */
  def closeRoot(t0Ns: Long, t1Ns: Long): Unit = if (enabled) {
    val id = spans.size
    (rootFrom until id).foreach { i =>
      if (spans(i) != null && spans(i).parent == -1) spans(i) = spans(i).copy(parent = id)
    }
    spans += Span(id, -1, unit, "unit", t0Ns, t1Ns, 0, action = false)
  }

  /** The closed spans of `unit`. */
  def of(unit: Int): Seq[Span] = spans.iterator.filter(s => s != null && s.unit == unit).toSeq

  private def drainSpan(parent: Int): Unit = {
    val t0 = System.nanoTime()
    collector.drain(group())
    spans += Span(spans.size, parent, unit, "trace.drain", t0, System.nanoTime(), 0, action = false)
  }

  /** Self time of every span: its duration minus the part of it that
    * its child spans cover.
    */
  def selfMs: Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, ArrayBuffer.empty).map(c => (c.t0Ns, c.t1Ns)).toSeq
      s.id -> (s.ms - Trace.covered(kids, s.t0Ns, s.t1Ns) / 1e6)
    }.toMap
  }

  def toJsonLines: Seq[String] = {
    val self = selfMs
    spans.toSeq.map(s => Main.json(Map("id" -> s.id, "parent" -> s.parent, "unit" -> s.unit,
      "name" -> s.name, "start_ns" -> s.t0Ns, "end_ns" -> s.t1Ns, "jobs" -> s.jobs,
      "action" -> s.action, "self_ms" -> self(s.id))))
  }
}

object Trace {
  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - (a max end); end = b }
      }
    total.toDouble
  }
}
