package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. Spans are recorded by the
  * benchmark around its calls into each layer (the program itself carries no
  * tracing); they are kept in memory and written once, when the run ends.
  * Single-threaded: only the main thread opens spans. A disabled tracer
  * runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var traceId = 0

  /** Starts a new trace: spans opened from now on share its id. */
  def newTrace(): Unit = traceId += 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, traceId, name, System.nanoTime(), -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  /** Self time of every span: its duration minus the union of the
    * intervals its direct children cover. */
  def selfNs: Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  def json: String = {
    val self = selfNs
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${Json.esc(s.name)}",""" +
        f""""start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000},"self_us":${self(s.id) / 1000}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, trace: Int, name: String, startNs: Long, endNs: Long)
}

/** Minimal JSON writing (the result and trace files are flat). */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + esc(s) + "\""
}
