package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.TaskContext

/** In-memory span recorder and named counters for the traced run.
  *
  * A span has an id, a parent, the id of the operation (query, pass or
  * micro-batch) it belongs to, a name, the thread it ran on, and start/end
  * in microseconds since the recorder's origin. Driver-side spans nest
  * through a per-thread stack; executor task threads find their operation
  * and parent span in the Spark local properties [[OpProp]] / [[SpanProp]],
  * which the benchmark sets around each operation. Spans stay in memory
  * and are written out once, when the run ends.
  */
object Trace {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"

  @volatile var enabled = false

  final case class Span(
      id: Long, parent: Long, op: String, name: String, thread: String,
      startUs: Long, endUs: Long)

  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)
  private val counters = new ConcurrentHashMap[String, LongAdder]()

  def nowUs: Long = (System.nanoTime() - originNs) / 1000
  def epochMsToUs(ms: Long): Long = (ms - originEpochMs) * 1000

  /** (parent span id, operation id) for a span opened on this thread. */
  private def context(): (Long, String) = stack.get() match {
    case top :: _ => top
    case Nil =>
      Option(TaskContext.get()).map { tc =>
        val parent = Option(tc.getLocalProperty(SpanProp)).map(_.toLong).getOrElse(0L)
        (parent, Option(tc.getLocalProperty(OpProp)).getOrElse(""))
      }.getOrElse((0L, ""))
  }

  /** Run `f` inside a span named `name`; with tracing off this is `f`.
    * `op` and `parent` default to this thread's context.
    */
  def span[T](name: String, op: String = null, parent: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val (ctxParent, ctxOp) = context()
      val parentId = if (parent >= 0) parent else ctxParent
      val opId = if (op != null) op else ctxOp
      val id = ids.incrementAndGet()
      val start = nowUs
      stack.set((id, opId) :: stack.get())
      try f
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(id, parentId, opId, name, Thread.currentThread().getName, start, nowUs))
      }
    }

  /** Id of the innermost open span on this thread (0 if none). */
  def currentSpan: Long = stack.get().headOption.map(_._1).getOrElse(0L)

  /** Record a span measured elsewhere (Spark events, planner phases). */
  def record(name: String, parent: Long, op: String, startUs: Long, endUs: Long): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), parent, op, name, "spark", startUs, math.max(startUs, endUs)))

  def count(name: String, n: Long = 1L): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  /** Time `f` into `<name>.calls` and `<name>.ns` and record it as a span. */
  def timed[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try span(name)(f)
      finally {
        count(name + ".calls")
        count(name + ".ns", System.nanoTime() - t0)
      }
    }

  def counter(name: String): Long = Option(counters.get(name)).map(_.sum()).getOrElse(0L)

  def reset(): Unit = { spans.clear(); counters.clear() }

  /** Write every span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path, workload: String): Unit = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(Json.render(scala.collection.immutable.VectorMap(
        "workload" -> workload, "id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "thread" -> s.thread, "start_us" -> s.startUs, "end_us" -> s.endUs)))
      w.write('\n')
    }
    finally w.close()
  }
}
