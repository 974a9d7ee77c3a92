package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer: its wall interval, the span that caused
  * it (0 = none) and the request it served.
  */
final case class Span(id: Long, parent: Long, req: String, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Spans nest per thread; the innermost open span
  * is also published as a Spark local property, so the listener can charge
  * each job and stage to the span that submitted it. Disabled, `span` is
  * the bare call.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[(Long, String)] {
    override def initialValue(): (Long, String) = (0L, "")
  }

  def span[T](name: String, req: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val (parent, parentReq) = open.get
      val id = ids.incrementAndGet()
      val r = if (req == null) parentReq else req
      open.set((id, r))
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set((parent, parentReq))
        sc.setLocalProperty(Tracer.SpanKey,
          if (parent == 0) null else parent.toString)
        done.add(Span(id, parent, r, name, t0, t1))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq
  def reset(): Unit = done.clear()
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Counts Spark work started inside the measured window, in total and per
  * span. Events carry their own timestamps, so late delivery on the
  * listener bus does not move work across the window edge.
  */
final class SparkCounters extends SparkListener {
  @volatile private var fromMs = Long.MaxValue
  @volatile private var toMs = Long.MaxValue

  val jobs, stages, tasks, cpuNs, gcMs, shuffleBytes = new LongAdder
  private val jobsBySpan = new ConcurrentHashMap[Long, LongAdder]()
  private val stagesBySpan = new ConcurrentHashMap[Long, LongAdder]()

  def open(): Unit = { fromMs = System.currentTimeMillis(); toMs = Long.MaxValue }
  def close(sc: SparkContext): Unit = {
    toMs = System.currentTimeMillis()
    org.apache.spark.PerfbenchBus.drain(sc)
  }

  private def inWindow(t: Long) = t >= fromMs && t <= toMs
  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
  private def bump(m: ConcurrentHashMap[Long, LongAdder], k: Long): Unit =
    m.computeIfAbsent(k, _ => new LongAdder).increment()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (inWindow(e.time)) { jobs.increment(); bump(jobsBySpan, spanOf(e.properties)) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    if (inWindow(t)) { stages.increment(); bump(stagesBySpan, spanOf(e.properties)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (inWindow(e.taskInfo.launchTime)) {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      }
    }

  def jobsOf(span: Long): Long = Option(jobsBySpan.get(span)).map(_.sum).getOrElse(0L)
  def stagesOf(span: Long): Long = Option(stagesBySpan.get(span)).map(_.sum).getOrElse(0L)
}
