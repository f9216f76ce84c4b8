package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** One timed call across a layer boundary. `parent` is the id of the
  * enclosing span on the same thread (0 at the top); `op` is the id of
  * the benchmark operation the call served. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, `span` only runs its body; enabled,
  * it keeps every span until [[spans]] is read at exit. */
final class Tracer(val enabled: Boolean) {
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def withOp[T](op: Long)(body: => T): T = {
    val prev = currentOp.get()
    currentOp.set(op)
    try body finally currentOp.set(prev)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        done.add(Span(id, parent, currentOp.get(), name, t0, t1))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Tracer {

  /** Self time of each span: its duration minus the part of it covered by
    * its direct children (overlapping children are merged first, so time
    * two children share is subtracted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = merged(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a })
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total length of the union of half-open intervals. */
  def merged(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per span name: count, total ms and self ms. */
  def summary(spans: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(_.durNs).sum / 1e6, ss.map(s => self(s.id)).sum / 1e6))
    }
  }
}
