package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced call: wall interval plus the Spark counters it covered. */
final case class Span(id: Int, parent: Int, name: String, runId: Int,
                      startNs: Long, endNs: Long, counters: Counters) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Records a span around each public call the benchmark makes. Spans stay in
  * memory until the run ends. Disabled, `span` just runs its body, so the
  * untraced runs pay nothing.
  */
final class Tracer(enabled: Boolean, probe: Option[Probe]) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var run = 0

  def isEnabled: Boolean = enabled

  def startRun(runId: Int): Unit = run = runId

  private def snapshot(): Counters = probe match {
    case Some(p) => p.drain(); p.counters()
    case None => Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val c0 = snapshot()
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, run, t0, t1, snapshot() - c0)
      }
    }

  def all: Seq[Span] = spans.toSeq.sortBy(_.id)
}

object Tracer {
  /** Self time: duration minus the part of it covered by direct children
    * (children of one span never overlap: calls are sequential).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Spans whose interval is not inside their parent's. */
  def nestingViolations(spans: Seq[Span]): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.filter { s =>
      byId.get(s.parent).exists(p => s.startNs < p.startNs || s.endNs > p.endNs)
    }
  }
}
