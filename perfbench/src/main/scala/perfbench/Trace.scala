package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.LayerListener

/** One timed call into a layer. `parent` is -1 at the root. */
final case class Span(id: Long, parent: Long, name: String, iter: Int,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are kept until the run ends, then
  * reduced and written out; nothing is written while timing. When off,
  * [[span]] only runs its body. The open span's id is published to Spark
  * as a local property so the listener can count each span's jobs. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 0L
  var on = false
  var iter = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1L)
      stack.push(id)
      sc.setLocalProperty(LayerListener.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, iter, t0, System.nanoTime())
        stack.pop()
        sc.setLocalProperty(LayerListener.SpanProp,
          stack.headOption.map(_.toString).orNull)
      }
    }
}

object Trace {
  /** Self time: a span's duration minus the part of it its children cover. */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Seq.empty)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }
}
