package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Spans of one benchmark operation share
  * `op`; `parent` is the span that made the call (0 for the op itself). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder around the calls the benchmark makes into each
  * layer. Tracing is switched per thread and operation; off, `span` only
  * runs the body. Spans are written out once, when the run ends. */
final class Trace {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]
  private val active = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  def newOp(): Long = ids.incrementAndGet()

  def on: Boolean = active.get

  /** Run `body` with tracing switched on or off for the calling thread. */
  def tracing[A](enabled: Boolean)(body: => A): A = {
    val prev = active.get
    active.set(enabled)
    try body finally active.set(prev)
  }

  /** Time `body` as a span named `name` under the calling thread's open
    * span (or as a root span of operation `op`). */
  def span[A](name: String, op: Long = 0L)(body: => A): A =
    if (!on) body
    else {
      val parent = current.get()
      val opId = if (parent != null) parent.op else op
      val open = Span(ids.incrementAndGet(),
        if (parent != null) parent.id else 0L, opId, name, System.nanoTime(), 0L)
      current.set(open)
      try body
      finally {
        current.set(parent)
        spans.add(open.copy(end = System.nanoTime()))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def durationsMs(name: String): Seq[Double] =
    all.filter(_.name == name).map(_.ms)

  /** Per span name: calls, total and self time in ms. Self time is the
    * span's duration minus the part of it its children cover. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val sp = all
    val kids = sp.groupBy(_.parent)
    sp.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(_.ms).sum
      val self = ss.map { s =>
        val covered = Trace.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a })
        (s.end - s.start - covered) / 1e6
      }.sum
      (name, ss.size, total, self)
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > reach) {
        covered += b - math.max(a, reach)
        reach = b
      }
    }
    covered
  }
}
