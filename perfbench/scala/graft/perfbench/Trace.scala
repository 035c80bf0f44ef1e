package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run.
  *
  * A span is (id, name, start, end, parent, run id); spans nest through
  * a thread-local stack, so a span opened inside another one records it
  * as its parent. Nothing is written while the workload runs: [[spans]]
  * is read once at exit and serialised by [[Main]]. With tracing off
  * (`enabled = false`) [[span]] is a plain call of its body.
  */
object Trace {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                        parent: Int, runId: String, cls: String) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile var enabled = false
  @volatile var runId = ""
  /** The class the current operation belongs to ("bulk", "step",
    * "trim", "serve", refined as "bulk.scan" and the like, or ""
    * outside operations). */
  @volatile var cls = ""

  private val done = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { done += Span(id, name, t0, t1, parent, runId, cls) }
      }
    }

  def spans: Seq[Span] = synchronized(done.toSeq)

  /** Self time per span name: each span's duration minus the part of
    * its interval covered by its children. */
  def selfMs(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Intervals.unionNs(
          kids.getOrElse(s.id, Nil).map(k =>
            (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }
}

object Intervals {
  /** Total length of the union of half-open intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
