package perfbench

import scala.collection.mutable

/** One timed interval. Spans of one client operation share `trace`; `parent`
  * is 0 for the operation's root span.
  */
final case class Span(trace: Long, id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder, written out once at exit. Client spans are
  * opened on the single client thread; stage spans arrive from the listener
  * thread with wall-clock times, converted onto the same time base.
  */
final class Tracer(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseWallMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val traceOf = mutable.Map.empty[Long, Long]
  private var nextId = 1L
  private var stack: List[Long] = Nil

  def current: Long = stack.headOption.getOrElse(0L)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val (id, parent, trace) = synchronized {
        val id = nextId; nextId += 1
        val parent = current
        val trace = if (parent == 0L) id else traceOf(parent)
        traceOf(id) = trace
        (id, parent, trace)
      }
      stack = id :: stack
      val s = System.nanoTime() - baseNs
      try body
      finally {
        stack = stack.tail
        val e = System.nanoTime() - baseNs
        synchronized(spans += Span(trace, id, parent, name, s, e))
      }
    }

  /** A span timed elsewhere in wall-clock milliseconds (a Spark stage). */
  def addWallMs(name: String, parent: Long, startMs: Long, endMs: Long): Unit =
    if (enabled) synchronized {
      val id = nextId; nextId += 1
      val trace = traceOf.getOrElse(parent, id)
      spans += Span(trace, id, parent, name,
        (startMs - baseWallMs) * 1000000L, (endMs - baseWallMs) * 1000000L)
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** name -> (count, total ms, self ms). Self time is a span's duration
    * minus the part of it that its children cover.
    */
  def summary: Map[String, (Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      var total = 0L
      var self = 0L
      group.foreach { s =>
        val d = s.endNs - s.startNs
        total += d
        self += d - Tracer.covered(s, kids.getOrElse(s.id, Nil))
      }
      name -> ((group.length, total / 1e6, self / 1e6))
    }
  }

  def writeJsonLines(path: java.nio.file.Path, meta: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write(meta); w.newLine()
      all.sortBy(_.startNs).foreach { s =>
        w.write(f"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_us":${s.startNs / 1000},"end_us":${s.endNs / 1000}}""")
        w.newLine()
      }
    } finally w.close()
  }
}

object Tracer {
  /** Length of `s`'s interval covered by the union of `children`. */
  def covered(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
