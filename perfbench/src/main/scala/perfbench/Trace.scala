package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. Times are nanoseconds on the
  * trace clock ([[Trace.now]]); `parent` is the enclosing span's id (0 at
  * the root) and `req` names the client request all spans of one
  * operation share; `detail` carries a Spark job's call site. */
final case class Span(id: Long, parent: Long, name: String, req: String,
                      start: Long, end: Long, detail: String = "")

/** In-memory span recorder, written out once when the run ends.
  *
  * Disabled (the untraced run) it records nothing and `span` runs its body
  * directly, so the end-to-end figures carry no tracing cost. Spans are
  * recorded only from the benchmark's own files, around calls into the
  * program's public functions; Spark jobs join the tree through the
  * listener, which reads the enclosing span id from the job's local
  * properties ([[Trace.SpanProp]]). */
final class Trace(val enabled: Boolean, sc: org.apache.spark.SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[(Long, String)] = Nil // open spans: (id, request)

  private def publish(): Unit =
    sc.setLocalProperty(Trace.SpanProp, stack.headOption.map { case (i, r) => s"$i|$r" }.orNull)

  def span[T](name: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      stack = (id, req) :: stack
      publish()
      val t0 = Trace.now()
      try body
      finally {
        val t1 = Trace.now()
        stack = stack.tail
        publish()
        add(Span(id, parent, name, req, t0, t1))
      }
    }

  /** Adds a span measured elsewhere (a Spark job seen by the listener). */
  def add(s: Span): Unit = synchronized { spans += s }

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def all: Seq[Span] = synchronized { spans.toList }
}

object Trace {
  val SpanProp = "perfbench.span"
  private val nano0 = System.nanoTime()
  private val epochNanos0 = System.currentTimeMillis() * 1000000L

  /** Epoch nanoseconds from the monotonic clock, so spans line up with the
    * millisecond event times Spark's listener reports. */
  def now(): Long = epochNanos0 + (System.nanoTime() - nano0)
}
