package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One recorded span: a call into a layer, timed from the benchmark's own
  * code. `parent` is the id of the span that caused it (0 = a root), and
  * every span of one request shares `req`. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    layer: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` only runs its body; enabled,
  * spans queue in memory and are written out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]()

  def nextRequestId(): Long = ids.incrementAndGet()

  /** Times `body` as a span named `name` in `layer`. The parent is the
    * innermost open span on this thread; a root span starts request `req`. */
  def span[T](name: String, layer: String, req: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val outer = current.get()
      val id = ids.incrementAndGet()
      val r = if (outer != null) outer.req else if (req != 0L) req else id
      val open = Span(id, if (outer == null) 0L else outer.id, r, name, layer,
        System.nanoTime(), 0L)
      current.set(open)
      try body
      finally {
        spans.add(open.copy(endNs = System.nanoTime()))
        current.set(outer)
      }
    }

  /** Adds an already-timed span, e.g. a Spark job reported by a listener,
    * and returns its id. */
  def record(name: String, layer: String, parent: Long, req: Long,
      startNs: Long, endNs: Long): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, parent, req, name, layer, startNs, endNs))
    id
  }

  def size: Int = spans.size

  /** Writes every span as one JSON line; times are relative to `originNs`. */
  def writeTo(path: java.nio.file.Path, originNs: Long): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.forEach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_us":${(s.startNs - originNs) / 1000.0},""" +
        s""""end_us":${(s.endNs - originNs) / 1000.0}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  /** Cost of one enabled span around an empty body, in microseconds: the
    * recorder's own share of every traced call. */
  def spanCostUs(): Double = {
    val t = new Tracer(true)
    val n = 20000
    var i = 0
    while (i < n) { t.span("calibrate", "trace")(()); i += 1 }
    val t0 = System.nanoTime()
    i = 0
    while (i < n) { t.span("calibrate", "trace")(()); i += 1 }
    (System.nanoTime() - t0) / 1000.0 / n
  }
}
