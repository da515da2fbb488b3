package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a layer call (or a whole request) on the client thread.
  * Times are ns from the tracer's origin; `rows` is the forced frame's
  * row count, -1 where the span has no frame. */
final case class Span(id: Int, name: String, parent: Int, request: Int,
                      start: Long, var end: Long = -1L, var rows: Long = -1L)

/** Spark work attributed to one span (or, under id 0, to no span). */
final class Work {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var fetchWaitMs = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
  val taskMs = ArrayBuffer.empty[Long]
}

/** Span recorder plus the benchmark's own SparkListener.
  *
  * The client thread opens spans; each Spark job submitted while a span
  * is open is tagged with the span id through a local property (the
  * listener reads it back from the job's properties, falling back to the
  * span open at job start for jobs submitted from helper threads without
  * the property). Tasks then count towards their stage's job's span. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.Prop

  private val originNs: Long = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val open = new AtomicReference[Integer](0)
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val work = new ConcurrentHashMap[Int, Work]()

  sc.addSparkListener(this)

  def now(): Long = System.nanoTime() - originNs

  /** Run `body` inside a span named `name`, nested under the innermost
    * open span; the body gets the span to record its row count. */
  def span[T](name: String, request: Int)(body: Span => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(0)
    val s = Span(spans.size + 1, name, parent, request, now())
    spans += s
    stack = s :: stack
    open.set(s.id)
    sc.setLocalProperty(Prop, s.id.toString)
    try body(s)
    finally {
      s.end = now()
      stack = stack.tail
      val up = stack.headOption.map(_.id).getOrElse(0)
      open.set(up)
      sc.setLocalProperty(Prop, if (up == 0) null else up.toString)
    }
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbenchbridge.Bus.drain(sc)

  /** Work per span id (0 = outside any span), after [[drain]]. */
  def workBySpan: Map[Int, Work] = {
    val m = Map.newBuilder[Int, Work]
    work.forEach((k, v) => m += k -> v)
    m.result()
  }

  private def workOf(span: Int): Work = work.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
    val span: Int = tagged.map(_.toInt).getOrElse(open.get().intValue)
    e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
    val w = workOf(span)
    w.synchronized { w.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = stageSpan.getOrDefault(e.stageInfo.stageId, 0)
    val w = workOf(span)
    w.synchronized { w.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val w = workOf(stageSpan.getOrDefault(e.stageId, 0))
    w.synchronized {
      w.tasks += 1
      w.runMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      w.recordsRead += m.inputMetrics.recordsRead
      w.recordsWritten += m.outputMetrics.recordsWritten
      w.taskMs += m.executorRunTime
    }
  }
}

object Tracer {
  val Prop = "perfbench.span"
}
