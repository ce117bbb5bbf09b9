package perfbench

import scala.collection.mutable

/** In-memory spans around calls into the program's layers. Each span keeps
  * its name, layer, start, end, parent and run id, plus the engine counters
  * of its interval; the spans are written out when the benchmark ends.
  */
final class Tracer(probe: Probe, runId: String, cores: Int) {

  final class Span(val id: Int, val name: String, val layer: String,
                   val parent: Int, val startNs: Long) {
    var endNs = 0L
    var counters: Map[String, Any] = Map.empty
    val extra = mutable.LinkedHashMap.empty[String, Any]
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  /** Run `body` as a span of `layer`; `body` must materialise its result. */
  def span[T](name: String, layer: String)(body: Span => T): T = {
    val before = probe.snapshot()
    val s = new Span(spans.size, name, layer, stack.headOption.fold(-1)(_.id), System.nanoTime())
    spans += s
    stack = s :: stack
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      s.counters = (probe.snapshot() - before).toMap(s.seconds, cores)
    }
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def selfByLayer: Map[String, Double] =
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfSeconds).sum }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
      "run" -> runId, "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
      "self_s" -> selfSeconds(s), "counters" -> s.counters, "extra" -> s.extra.toMap)
  }
}

/** Minimal JSON encoder for the harness's result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
