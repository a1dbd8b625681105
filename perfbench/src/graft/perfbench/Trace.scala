package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span is
  * (id, parent, request, name, start, end); spans nest on the driver
  * thread through a stack, stay in memory, and are written out once when
  * the run ends. With tracing off every call is a plain pass-through, so
  * the end-to-end run measures the program and nothing else.
  */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, request: Long, name: String,
      startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  private val done = ArrayBuffer[Span]()
  private val stack = new java.util.ArrayDeque[Int]()
  private var nextId = 1
  private var curRequest = -1L

  /** Marks the spans opened inside `f` as one request. */
  def request[A](id: Long)(f: => A): A =
    if (!enabled) f
    else {
      val prev = curRequest
      curRequest = id
      try f finally curRequest = prev
    }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = if (stack.isEmpty) 0 else stack.peek()
      stack.push(id)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        done += Span(id, parent, curRequest, name, t0, t1)
      }
    }

  /** Per span name: (count, total ns, self ns). Self time is a span's
    * duration minus the durations of its direct children, which nest
    * inside it on the same thread.
    */
  def selfTimes: Map[String, (Int, Long, Long)] = {
    val childNs = new java.util.HashMap[Int, java.lang.Long]()
    done.foreach { s =>
      if (s.parent != 0) childNs.merge(s.parent, s.durNs, (a, b) => a + b)
    }
    done.groupBy(_.name).map { case (n, ss) =>
      val self = ss.iterator.map(s => s.durNs - Option(childNs.get(s.id)).map(_.longValue).getOrElse(0L)).sum
      n -> (ss.size, ss.iterator.map(_.durNs).sum, self)
    }
  }

  /** Mean self time of one span name, in ns (0 when never recorded). */
  def meanSelfNs(name: String): Double =
    selfTimes.get(name).map { case (c, _, s) => s.toDouble / c }.getOrElse(0.0)

  def durationsMs(name: String): Seq[Double] =
    done.iterator.filter(_.name == name).map(_.durNs / 1e6).toSeq

  /** One JSON object per line, start times relative to the first span. */
  def write(path: String): Unit = {
    val t0 = if (done.isEmpty) 0L else done.iterator.map(_.startNs).min
    val lines = done.sortBy(_.startNs).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "request": ${s.request}, "name": "${s.name}", """ +
        s""""start_us": ${(s.startNs - t0) / 1000.0}, "end_us": ${(s.endNs - t0) / 1000.0}}"""
    }
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
