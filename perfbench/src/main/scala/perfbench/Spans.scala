package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** One timed interval of the traced run, on the `System.nanoTime` clock.
  * `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder: spans are appended from any thread and
  * written out once, at exit. Disabled, it records nothing and costs one
  * branch per call, so untraced runs pay nothing for it. */
final class SpanRecorder(@volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val nextId = new AtomicInteger(0)
  private val reserved = new ConcurrentHashMap[String, Integer]

  def newId(): Int = nextId.getAndIncrement()

  /** A stable id for a span that is recorded later than its children
    * (a micro-batch is reported only after its sink calls ran). */
  def idFor(key: String): Int = reserved.computeIfAbsent(key, _ => newId())

  def add(id: Int, parent: Int, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(id, parent, name, startNs, endNs))

  /** Time `body` as a child of `parent`; `body` gets the new span's id. */
  def timed[T](parent: Int, name: String)(body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = newId()
      val t0 = System.nanoTime()
      try body(id) finally add(id, parent, name, t0, System.nanoTime())
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Spans {

  /** The layer a span's self time is charged to. */
  def layer(name: String): String = name match {
    case "workload" | "pass" => "harness"
    case "stream.batch" => "streaming"
    case "sink.writeBatch" | "sink.bulkUpsert" => "sink"
    case "generator.feed" => "generator"
    case "query.construct" => "queries"
    case "query.execute" => "exec"
    case other => other.takeWhile(_ != '.')
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the time covered by
    * its children (clipped to it, overlaps counted once). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - coveredNs(cs, s.startNs, s.endNs))
    }.toMap
  }

  /** Self seconds summed per layer. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(s => layer(s.name)).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum / 1e9
    }
  }
}
