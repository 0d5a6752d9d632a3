package loadbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. Spans of one replayed batch share `run`. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, run: String) {
  def durMs: Double = (endNs - startNs) / 1e6
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name, "start_ns" -> startNs,
    "end_ns" -> endNs, "parent" -> parent, "run" -> run)
}

/** In-memory span recorder for the traced run. Spans are recorded around
  * the harness's own calls into each layer (single-threaded), kept in
  * memory and written out with the result. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var run: String = ""

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(id, name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), run)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  def all: Seq[Span] = spans.toList

  /** Self time per span: duration minus the time its direct children
    * cover (children never overlap: the replay is sequential). */
  def selfMs: Seq[(Span, Double)] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durMs).sum }
    spans.toList.map(s => s -> (s.durMs - childMs.getOrElse(s.id, 0.0)))
  }

  /** Total self time of each span name. */
  def totalSelfMs: Map[String, Double] =
    selfMs.groupBy(_._1.name).map { case (n, xs) => n -> xs.map(_._2).sum }
}
