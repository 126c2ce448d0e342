package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for traced runs. A span is recorded at each call
  * the benchmark makes into a layer; spans of one timed op share its op id.
  * Nothing is written until [[write]] runs at exit.
  */
final class Trace {
  import Trace.Span

  /** Spans are recorded only while enabled (the traced phase of a run). */
  @volatile var enabled = false

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var op = 0L

  def startOp(id: Long): Unit = op = id

  /** Times `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized(spans += Span(id, parent, op, name, t0, t1))
      }
    }

  /** Adds a span measured elsewhere (e.g. a Spark stage) under the latest
    * span named `parentName`.
    */
  def add(name: String, parentName: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      val parent = spans.findLast(_.name == parentName).map(_.id).getOrElse(0L)
      spans += Span(nextId, parent, op, name, startNs, endNs); nextId += 1
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Writes one JSON object per span, with its self time. */
  def write(file: File): Unit = {
    val s = all
    val self = Trace.selfTimes(s)
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try s.foreach { x =>
      w.println(s"""{"id":${x.id},"parent":${x.parent},"op":${x.op},"name":${Json.str(x.name)},""" +
        s""""start_ns":${x.startNs},"end_ns":${x.endNs},"self_ns":${self(x.id)}}""")
    } finally w.close()
  }
}

object Trace {
  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Converts an epoch-millisecond timestamp (Spark's) to the nanoTime base. */
  def msToNano(ms: Long): Long = ms * 1000000L + epochOffsetNs

  final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Self time of each span: its duration minus the part of its interval
    * covered by the union of its children's intervals (children may
    * overlap each other, e.g. concurrent Spark stages, and may run past
    * the parent's end).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total self time per span name, in seconds. */
  def selfByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}

/** Minimal JSON rendering for the result line and the report. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
