package graftbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are nanoseconds on the JVM's monotonic
  * clock; `parent` is 0 for a root span. `timed` is false for a span
  * recorded after the fact, which cost the traced work nothing. */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, endNs: Long, timed: Boolean = true)

/** Span recorder kept in memory and written out once at the end. With
  * `on = false` every call is a pass-through, so untraced runs pay
  * nothing but a branch. Spans nest per thread through a stack. */
final class Tracer(val on: Boolean, val run: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans += Span(id, parent, name, run, t0, t1) }
      }
    }

  /** A span measured by someone else (a streaming progress phase). */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Int =
    if (!on) 0
    else {
      val id = ids.incrementAndGet()
      spans.synchronized { spans += Span(id, parent, name, run, startNs, endNs, timed = false) }
      id
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Tracing's cost relative to the window [fromNs, toNs]: one plus the
    * spans taken inside it times the cost of one span, over the window's
    * length. The cost of one span is measured here, in the traced JVM,
    * as the median of 5 rounds of 100,000 empty spans on a throwaway
    * tracer. 1.0 when tracing is off. */
  def overheadRatio(fromNs: Long, toNs: Long): Double =
    if (!on) 1.0
    else {
      val n = all.count(s => s.timed && s.startNs >= fromNs && s.endNs <= toNs)
      val rounds = 100000
      val perSpanNs = Stats.median((0 until 5).map { _ =>
        val probe = new Tracer(true, "calibrate")
        val t0 = System.nanoTime()
        var i = 0
        while (i < rounds) { probe.span("probe")(i); i += 1 }
        (System.nanoTime() - t0).toDouble / rounds
      })
      1.0 + n * perSpanNs / (toNs - fromNs)
    }

  /** Seconds of self time per span name: a span's duration minus the
    * part of it its children cover (children never overlap: they run
    * in sequence on the parent's thread or are laid out in sequence). */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum
    }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => math.max(0L,
        (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L))).sum / 1e9
    }
  }

  def writeJsonLines(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""run":"${s.run}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
