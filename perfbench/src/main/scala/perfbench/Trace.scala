package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One layer call: name, start/end (ns), the span that caused it, and the
  * id shared by every span of one operation (a query, a batch, a pass).
  * Spark work launched inside the span is folded into its counters. */
final class Span(val id: Int, val name: String, val parent: Int, val group: Int,
                 val start: Long) {
  var end: Long = 0L
  val jobs, tasks, taskNanos, shuffleBytes, spillBytes, gcMs = new AtomicLong()
  def nanos: Long = end - start
}

/** Spans recorded from the benchmark's own code around calls into the
  * engine. Disabled, `span` is a plain call: no clock reads, no listener. */
final class Tracer(sc: SparkContext, traced: Boolean) {
  @volatile var enabled: Boolean = traced
  private val Key = "perfbench.span"
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextGroup = 0
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  private val listener = new SparkListener {
    private def spanOf(props: java.util.Properties): Span =
      Option(props).flatMap(p => Option(p.getProperty(Key)))
        .map(id => byId.get(id.toInt)).orNull
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      if (s != null) {
        s.jobs.incrementAndGet()
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        s.tasks.incrementAndGet()
        s.taskNanos.addAndGet(m.executorRunTime * 1000000L)
        s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        s.gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }
  if (traced) sc.addSparkListener(listener)

  /** Starts a new operation: spans opened until the next call share its id. */
  def newGroup(): Unit = nextGroup += 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.size, name, parent, nextGroup, System.nanoTime())
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Waits for the listener to see every event already posted. */
  def drain(): Unit = if (traced) org.apache.spark.PerfbenchBus.drain(sc)

  def stop(): Unit = if (traced) sc.removeSparkListener(listener)

  /** Self time: span time minus the part of it its child spans cover
    * (children of one span never overlap: the client is one thread). */
  def selfNanos(s: Span): Long =
    s.nanos - spans.iterator.filter(_.parent == s.id).map(_.nanos).sum
}
