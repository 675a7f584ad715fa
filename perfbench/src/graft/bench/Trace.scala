package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One timed layer call. `parent` is the id of the span that caused it
  * (0 for a request's root); spans of one request share `req`. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, req: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder: spans are kept until the run ends and then
  * written out with the record. Disabled, it records nothing. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** The open span on this thread, so a nested call knows its parent. */
  private val current = new ThreadLocal[(Long, Long)] // (span id, request id)
  private val renamed = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  def newRequest(): Long = ids.incrementAndGet()

  /** Run `body` inside a span. `req`/`parent` default to the thread's open
    * span, so a layer called from inside another is its child; with
    * neither a request nor an open span, nothing is recorded. */
  def span[T](name: String, req: Long = -1L, parent: Long = -1L)(body: => T): T = {
    val outer = if (enabled) current.get() else null
    if (!enabled || (req < 0 && outer == null)) body
    else {
      val r = if (req >= 0) req else if (outer != null) outer._2 else 0L
      val p = if (parent >= 0) parent else if (outer != null) outer._1 else 0L
      val id = ids.incrementAndGet()
      current.set((id, r))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val n = Option(renamed.remove(id)).getOrElse(name)
        spans.add(Span(id, n, t0, t1, p, r))
        if (outer == null) current.remove() else current.set(outer)
      }
    }
  }

  /** Give the open span on this thread a name learned inside it. */
  def rename(name: String): Unit =
    if (enabled) Option(current.get()).foreach(c => renamed.put(c._1, name))

  /** Context handed to another thread (the server's handler) so its spans
    * attach to the request that caused them. */
  def context: Option[(Long, Long)] = Option(current.get())
  def withContext[T](ctx: Option[(Long, Long)])(body: => T): T = ctx match {
    case None => body
    case Some(c) =>
      val outer = current.get()
      current.set(c)
      try body finally { if (outer == null) current.remove() else current.set(outer) }
  }

  def all: Seq[Span] = {
    val b = Seq.newBuilder[Span]
    spans.forEach(s => b += s)
    b.result()
  }
}

object Tracer {
  /** Self time of each span: its duration minus the part of its interval
    * its children cover (children clipped to the parent). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Per request: (root wall ns, sum of the self times of its spans). The
    * two agree when every child lies inside its parent and siblings do
    * not overlap. */
  def requestBalance(spans: Seq[Span]): Seq[(Long, Long)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.req).toSeq.flatMap { case (_, ss) =>
      ss.find(_.parent == 0L).map(root => (root.durNs, ss.map(s => self(s.id)).sum))
    }
  }
}
