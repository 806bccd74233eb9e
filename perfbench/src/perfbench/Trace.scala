package perfbench

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are wall-clock ms. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, start: Long, end: Long)

/** In-memory span recorder; written out once, when the run ends. A
  * disabled trace records nothing, so an untraced run pays nothing. */
final class Trace(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  def add(parent: Int, op: Int, name: String, layer: String,
      start: Long, end: Long): Int =
    if (!enabled) -1
    else synchronized {
      next += 1
      spans += Span(next, parent, op, name, layer, start, end)
      next
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover. */
  def selfTimeByLayer: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a })
      s.layer -> (s.end - s.start - covered) / 1000.0
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

object Trace {
  /** The spans and per-layer self times, as the run record carries them. */
  def record(t: Trace): Map[String, Any] = Map(
    "spans" -> t.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
      "start" -> s.start, "end" -> s.end)),
    "layer_self_s" -> t.selfTimeByLayer)
}

/** Minimal JSON writer for the run record (maps, sequences, Int, Long,
  * Double, strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null             => "null"
    case s: String        => quote(s)
    case b: Boolean       => b.toString
    case d: Double        => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int           => n.toString
    case n: Long          => n.toString
    case m: Map[_, _]     =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]  => xs.map(apply).mkString("[", ",", "]")
    case other            => quote(other.toString)
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
}
