package graft.perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run.
  *
  * A span is (id, parent, op, name, start, end); the spans of one
  * operation share `op`. Spans are kept in memory and written once, when
  * the run ends. With `enabled = false` every call only evaluates its
  * body, so the untraced run pays a branch per boundary and nothing else.
  *
  * Counters (`add`) are recorded per operation at the same boundaries,
  * so ratios are taken where the work happens.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.ArrayBuffer.empty[(Long, String, Double)]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var opId = 0L

  /** Run one top-level operation: a fresh op id and a root span. */
  def op[A](name: String)(f: => A): A = {
    if (enabled) { opId += 1; require(stack.isEmpty, s"op $name nested in a span") }
    span(name)(f)
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, opId, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Record a span measured elsewhere (e.g. a Spark stage), as a child of
    * the innermost open span. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, stack.headOption.getOrElse(0), opId, name, startNs, endNs)
      nextId += 1
    }

  /** Record a count or layer value against the current operation. */
  def add(name: String, v: Double): Unit =
    if (enabled) counters += ((opId, name, v))

  def all: Seq[Span] = spans.toSeq

  /** Id of the latest operation (0 before the first). */
  def currentOp: Long = opId

  /** Durations (ms) of every span with this name. */
  def durationsMs(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.ms).toSeq

  /** Self time per span name (ms): each span's duration minus the part of
    * its interval its children cover, summed over spans of that name. */
  def selfMs: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Stats.unionLength(children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).toSeq)
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  /** Spans, counters and self times as one JSON document. */
  def json: String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val doc = JObject(
      "spans" -> JArray(spans.map(s => JObject(
        "id" -> JInt(s.id), "parent" -> JInt(s.parent), "op" -> JLong(s.op),
        "name" -> JString(s.name), "start_ns" -> JLong(s.startNs),
        "end_ns" -> JLong(s.endNs))).toList),
      "counters" -> JArray(counters.map { case (o, n, v) =>
        JObject("op" -> JLong(o), "name" -> JString(n), "value" -> JDouble(v)) }.toList),
      "self_ms" -> JObject(selfMs.toList.sortBy(_._1).map { case (n, v) =>
        n -> (JDouble(v): JValue) }))
    JsonMethods.compact(JsonMethods.render(doc))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, op: Long, name: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}
