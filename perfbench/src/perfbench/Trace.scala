package perfbench

import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so spans
  * line up with Spark's epoch-millisecond task and phase times.
  */
object Clock {
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def nowNs: Long = epochBase + (System.nanoTime() - nanoBase)
}

/** One timed call into a layer. `parent` is -1 for a root span; spans of
  * one request share `req`.
  */
final case class Span(id: Int, name: String, req: Int, parent: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span and counter recorder, used only by traced runs. The
  * spans are recorded around the benchmark's own calls into the
  * program; nothing inside the program is instrumented.
  */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String, req: Int)(body: => T): T = {
    val parent = stack.get().headOption.getOrElse(-1)
    val id = synchronized { spans += null; spans.size - 1 }
    stack.set(id :: stack.get())
    val start = Clock.nowNs
    try body
    finally {
      val end = Clock.nowNs
      stack.set(stack.get().tail)
      synchronized { spans(id) = Span(id, name, req, parent, start, end) }
    }
  }

  def count(name: String, delta: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + delta
  }

  def all: Seq[Span] = synchronized { spans.filter(_ != null).toList }

  def counter(name: String): Double = synchronized { counters.getOrElse(name, 0.0) }

  /** Self time of every span: its duration minus the part of its
    * interval covered by its children.
    */
  def selfNs: Map[Int, Long] = Trace.selfTimes(all)

  /** Durations (ms) of the spans called `name`. */
  def durationsMs(name: String): Seq[Double] =
    all.filter(_.name == name).map(_.durNs / 1e6)

  /** Writes every span and counter as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfNs
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","req":${s.req},"parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    } ++ synchronized(counters.toList).map { case (k, v) =>
      s"""{"counter":"$k","value":$v}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {
  /** Length of the union of `intervals` clipped to [lo, hi). */
  def coveredNs(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - coveredNs(s.startNs, s.endNs, kids))
    }.toMap
  }
}
