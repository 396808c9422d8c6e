package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans for the traced run: one span per call the benchmark
  * makes into a library layer. `Trace.off` records nothing and adds no
  * work beyond the call itself, so untraced runs measure the same code.
  */
final class Trace(val enabled: Boolean, val runId: String) {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  /** Run `body` inside a span named `name` that belongs to `layer`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized { spans += Span(id, name, layer, parent, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toVector)

  /** Seconds spent in each layer's own spans, minus time in child spans
    * (a child's time is charged to the child's layer). */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val childTime = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Write the spans as JSON lines: name, layer, start/end (ns), parent,
    * run id. */
  def write(path: java.io.File): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      out.println(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}

object Trace {
  /** Records nothing. */
  val off = new Trace(false, "")

  final case class Span(id: Int, name: String, layer: String, parent: Int,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}
