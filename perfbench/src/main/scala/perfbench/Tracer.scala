package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** Records benchmark spans and, while attached, Spark job spans.
  *
  * Untraced runs use a tracer that is never attached: [[call]] then only
  * runs its body. A traced run attaches the listener around the ops it
  * traces, so untraced ops in the same run measure the tracing overhead.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val listener = new JobListener
  private var nextId = 0L
  private var attached = false
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nanos0 = System.nanoTime()

  /** Wall clock in ms, on the same epoch as Spark's event times. */
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nanos0) / 1e6

  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(listener); attached = true
  }

  /** Detach once the listener has seen the end of every job it saw start. */
  def detach(): Unit = if (attached) {
    listener.awaitQuiet()
    sc.removeSparkListener(listener); attached = false
  }

  /** Run `body` as a span named `name` under `parent` (-1 for a root). Jobs
    * that Spark runs meanwhile carry the span id as a local property.
    */
  def call[T](name: String, parent: Long)(body: Long => T): T =
    if (!attached) body(-1L)
    else {
      nextId += 1
      val id = nextId
      val prev = sc.getLocalProperty(JobListener.SpanProperty)
      sc.setLocalProperty(JobListener.SpanProperty, id.toString)
      val start = nowMs()
      try body(id)
      finally {
        spans += Span(id, parent, name, start, nowMs())
        sc.setLocalProperty(JobListener.SpanProperty, prev)
      }
    }

  /** Spans below `root` (inclusive), by id. */
  def subtree(root: Long): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Long): Set[Long] =
      kids.getOrElse(id, Nil).foldLeft(Set(id))((acc, s) => acc ++ go(s.id))
    go(root)
  }

  def span(id: Long): Option[Span] = spans.find(_.id == id)
}
