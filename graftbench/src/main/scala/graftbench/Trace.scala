package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `run` groups the spans of one
  * batch pass or one serving op; `parent` is the enclosing span (0 = root).
  */
final case class Span(id: Long, parent: Long, run: String, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Spans nest per thread; they are only written
  * out (by [[Tracer.rows]]) once the run has ended.
  */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val runId = ThreadLocal.withInitial[String](() => "")

  def inRun[T](run: String)(body: => T): T = {
    val prev = runId.get
    runId.set(run)
    try body finally runId.set(prev)
  }

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parents = stack.get
    stack.set(id :: parents)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parents.headOption.getOrElse(0L), runId.get, name, t0, System.nanoTime()))
      stack.set(parents)
    }
  }

  def rows: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "run" -> s.run, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}
