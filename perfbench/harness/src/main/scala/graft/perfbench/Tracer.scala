package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** In-memory spans recorded around the harness's calls into each layer.
  * Spans nest by call order on the one driver thread; they are written
  * out once, at the end of the run. */
final class Tracer(runId: String) {
  import Tracer.Span
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  /** Runs `body` inside a span named `name`, child of the innermost open
    * span. */
  def span[T](name: String, attrs: (String, String)*)(body: => T): T = {
    val id = spans.length
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, parent, name, attrs.toMap, System.nanoTime(), -1L)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Span duration minus the part of it that its children cover. Children
    * of one span run one after another, so their durations add up. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def write(path: String): Unit = {
    val lines = spans.map { s =>
      Json.render(Map(
        "run_id" -> runId, "span_id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "attrs" -> s.attrs, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "self_s" -> selfSeconds(s)))
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String,
      attrs: Map[String, String], startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Minimal JSON rendering for the harness's result line and trace file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
