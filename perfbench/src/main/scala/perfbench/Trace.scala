package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval around a call into a layer. Spans of one query or
  * lifecycle operation share `trace`; `parent` is 0 for a root.
  */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder; spans are written out once the run ends. */
final class Tracer {
  private val nextId = new AtomicLong(1)
  private val done = new ConcurrentLinkedQueue[Span]()

  /** Runs `body` inside a new span; `body` gets the span id so it can open
    * child spans under it.
    */
  def span[T](trace: String, name: String, parent: Long = 0L)(body: Long => T): T = {
    val id = nextId.getAndIncrement()
    val t0 = System.nanoTime()
    try body(id)
    finally done.add(Span(id, parent, trace, name, t0, System.nanoTime()))
  }

  def spans: Seq[Span] = done.asScala.toSeq

  /** Self time (ms) of every span, grouped by span name. */
  def selfMsByName: Map[String, Seq[Double]] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.name -> Stats.selfNs(s.startNs, s.endNs, ch) / 1e6
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, render}
    val lines = spans.sortBy(_.startNs).map { s =>
      compact(render(JObject("id" -> JLong(s.id), "parent" -> JLong(s.parent),
        "trace" -> JString(s.trace), "name" -> JString(s.name),
        "start_ns" -> JLong(s.startNs), "dur_ns" -> JLong(s.durNs))))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
