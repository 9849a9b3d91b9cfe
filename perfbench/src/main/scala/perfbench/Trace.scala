package perfbench

import scala.collection.mutable

/** One timed interval. `layer` is the part of `name` before the first dot
  * (`dialect.rewrite` → `dialect`). `stmt` is the statement execution the
  * span belongs to; `parent` is -1 for a statement's root span. Times are
  * `System.nanoTime` values. `derived` spans are placed from a measured
  * duration (Catalyst phase times, the rewrite estimate) rather than timed
  * around a call. */
final case class Span(id: Int, parent: Int, stmt: Int, name: String,
    start: Long, end: Long, derived: Boolean = false) {
  def layer: String = name.takeWhile(_ != '.')
  def nanos: Long = end - start
}

/** Spans recorded in memory from the benchmark's own code. Disabled, it
  * only runs the bodies. */
final class Tracer(val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var stmt = -1

  def spans: Seq[Span] = buf.toSeq

  /** Run `body` as the root span of statement execution `stmtId`. */
  def statement[T](stmtId: Int, name: String)(body: => T): T = {
    stmt = stmtId
    try span(name)(body) finally stmt = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        buf += Span(id, parent, stmt, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Add a span of `nanos` placed inside `parent` at `at` (clipped to it). */
  def derived(parent: Span, name: String, at: Long, nanos: Long): Unit =
    if (enabled && nanos > 0) {
      val s = math.max(parent.start, math.min(at, parent.end))
      val e = math.min(parent.end, s + nanos)
      buf += Span(nextId, parent.id, parent.stmt, name, s, e, derived = true)
      nextId += 1
    }

  /** Add an externally timed span (a Spark job) under the innermost span of
    * statement `stmtId` whose interval contains its start. */
  def attach(stmtId: Int, name: String, start: Long, end: Long): Unit =
    if (enabled) {
      val host = buf.iterator
        .filter(s => s.stmt == stmtId && !s.derived && s.start <= start && start <= s.end)
        .maxByOption(s => s.start)
      host.foreach { h =>
        buf += Span(nextId, h.id, stmtId, name, start, end)
        nextId += 1
      }
    }

  def last(name: String): Option[Span] = buf.reverseIterator.find(_.name == name)
}

object SelfTime {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover. */
  def of(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.nanos - covered(kids, s.start, s.end))
    }.toMap
  }

  /** Self nanoseconds per layer for each statement execution. A root span's
    * own self time is reported under `unattributed`: harness time between
    * the layer calls that no layer claims. */
  def byLayer(spans: Seq[Span]): Map[Int, Map[String, Long]] = {
    val self = of(spans)
    spans.groupBy(_.stmt).map { case (stmt, ss) =>
      stmt -> ss.groupBy(s => if (s.parent < 0) "unattributed" else s.layer)
        .map { case (layer, xs) => layer -> xs.map(x => self(x.id)).sum }
    }
  }
}

/** Assigns Spark jobs to statement executions: by the local property the
  * harness sets on the calling thread when the job carries it, else (a job
  * submitted from the async worker thread) by the statement interval that
  * contains the job's submission time. */
object JobAttribution {
  final case class Window(stmt: Int, start: Long, end: Long)

  def assign(property: Option[Int], submitted: Long, windows: Seq[Window]): Option[Int] =
    property.orElse(
      windows.find(w => w.start <= submitted && submitted <= w.end).map(_.stmt))
}
