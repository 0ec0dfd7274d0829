package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `counters` holds the listener deltas
  * drained at the span's own boundaries. */
final case class Span(id: Long, traceId: Long, parent: Option[Long], name: String,
                      startNs: Long, endNs: Long, counters: Map[String, Double] = Map.empty)

/** In-memory span recorder around the benchmark's calls into each layer.
  * Disabled, `span` only runs the body; enabled, it drains the listener
  * bus at both boundaries so the span carries its own counter deltas.
  * Spans are kept in memory and written once, when the run ends. */
final class Tracer(val enabled: Boolean, counters: Counters) {
  private val spans = ArrayBuffer[Span]()
  private var nextId = 0L
  private var stack: List[Long] = Nil
  private var trace = 0L

  /** Start a new trace id (one per query or batch). */
  def newTrace(): Unit = trace += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption
      val c0 = counters.snapshot()
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val t1 = System.nanoTime()
        val c1 = counters.snapshot()
        spans += Span(id, trace, parent, name, t0, t1, c1.minus(c0).asMap)
      }
    }

  /** Summed self time (ms) per span name. */
  def selfMsByName: Map[String, Double] = {
    val self = Stats.selfTimes(spans.toSeq)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e6 }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val cs = s.counters.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"trace":${s.traceId},"parent":${s.parent.getOrElse("null")},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"counters":$cs}"""
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}
