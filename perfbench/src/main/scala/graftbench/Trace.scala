package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is 0 for a root;
  * `trace` groups the spans of one batch, query or increment. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, it runs bodies and records
  * nothing, so untraced runs pay no tracing cost. Spans opened on one
  * thread nest through a thread-local stack; spans that come from
  * listeners are recorded with an explicit parent. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def nextId(): Long = ids.incrementAndGet()

  def current: Long = stack.get().headOption.getOrElse(0L)

  def span[T](name: String, trace: String, parent: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val p = if (parent >= 0) parent else current
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Span(id, p, trace, name, t0, t1))
      }
    }

  def record(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Swap the recorded spans for `ss` (e.g. after adopting parents). */
  def replace(ss: Seq[Span]): Unit = { spans.clear(); ss.foreach(spans.add) }

  def writeJsonl(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Spans {

  /** Nanoseconds of [s, e] covered by the union of `ivs`. Overlapping
    * intervals count once. */
  def covered(s: Long, e: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its child spans cover. */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - covered(s.startNs, s.endNs, kids))
    }.toMap
  }

  /** Self seconds summed per span name. */
  def selfSecondsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  /** Give listener-made spans (parent 0, `adoptable` names) the
    * innermost span of the same trace that contains them, allowing
    * `slackNs` for listener clocks that tick in milliseconds. */
  def adopt(spans: Seq[Span], adoptable: String => Boolean,
      slackNs: Long = 2000000L): Seq[Span] = {
    val byTrace = spans.filterNot(s => adoptable(s.name)).groupBy(_.trace)
    spans.map { s =>
      if (s.parent != 0 || !adoptable(s.name)) s
      else byTrace.getOrElse(s.trace, Nil)
        .filter(p => p.startNs - slackNs <= s.startNs && p.endNs + slackNs >= s.endNs)
        .sortBy(_.durNs).headOption
        .map(p => s.copy(parent = p.id)).getOrElse(s)
    }
  }
}
