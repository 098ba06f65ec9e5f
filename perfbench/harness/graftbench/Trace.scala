package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are epoch nanoseconds
  * from [[Clock]], so spans from different threads line up. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
                      attrs: Map[String, Any])

/** Wall clock in epoch nanoseconds with `nanoTime` resolution. */
object Clock {
  private val originNs = System.nanoTime()
  private val originEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = originEpochNs + (System.nanoTime() - originNs)
}

/** Spans recorded around the benchmark's calls into each layer, kept in
  * memory and written out when the run ends. When disabled, `span` only
  * runs its body: no clock reads, no Spark local properties. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = 0 }

  /** Run `body` inside a span; Spark jobs it launches carry the span id
    * (local property `graftbench.span`), so the listener can attribute
    * them. `parent` defaults to the innermost open span of this thread. */
  def span[T](name: String, parent: Int = -1, attrs: Map[String, Any] = Map.empty)
             (body: => T): T = {
    if (!enabled) return body
    val id = nextId.getAndIncrement()
    val par = if (parent >= 0) parent else current.get().intValue
    val prevProp = sc.getLocalProperty("graftbench.span")
    val prevCur = current.get()
    current.set(id)
    sc.setLocalProperty("graftbench.span", id.toString)
    val t0 = Clock.now()
    try body
    finally {
      val t1 = Clock.now()
      sc.setLocalProperty("graftbench.span", prevProp)
      current.set(prevCur)
      spans.synchronized(spans += Span(id, par, name, t0, t1, attrs))
    }
  }

  /** Id of the innermost open span on this thread (0 at top level). */
  def currentId: Int = current.get().intValue

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Per-span Spark work: jobs, stages and task metrics, attributed through
  * the `graftbench.span` local property of the launching thread. */
final class SpanListener extends SparkListener {
  final class Counters {
    var jobs, stages, tasks = 0L
    var cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "shuffle_read_b" -> shuffleRead,
      "shuffle_write_b" -> shuffleWrite, "spill_b" -> spill)
  }
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty("graftbench.span"))).map(_.toInt).getOrElse(0)
  private def counters(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    counters(s).synchronized(counters(s).jobs += 1)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, s)
    counters(s).synchronized(counters(s).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageSpan.getOrDefault(e.stageId, 0))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Job count attributed so far to `span`. */
  def jobs(span: Int): Long = Option(bySpan.get(span)).map(_.jobs).getOrElse(0L)

  def snapshot: Map[Int, Map[String, Any]] =
    bySpan.asScala.map { case (k, v) => k -> v.synchronized(v.toMap) }.toMap
}
