package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** In-memory spans: name, parent, start and end in nanoseconds since
  * the trace began, plus free-form attributes. Written out once, at the
  * end of the run. When disabled, [[span]] only runs its body. */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
        System.nanoTime() - origin, -1L, mutable.LinkedHashMap(attrs: _*))
      spans += s
      stack ::= s
      try body
      finally { s.endNs = System.nanoTime() - origin; stack = stack.tail }
    }

  def write(file: java.io.File): Unit = {
    val out = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Result.str(k)}:${Result.value(v)}" }
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Result.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":{${attrs.mkString(",")}}}""")
    } finally out.close()
  }

  def size: Int = spans.size
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String,
                        startNs: Long, var endNs: Long,
                        attrs: mutable.LinkedHashMap[String, Any])
}

/** Spark execution counters from the listener bus: jobs, stages, tasks,
  * task time, shuffle, spill and GC, plus the task intervals needed
  * for core utilization and idle time. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong()
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val taskNanos = new AtomicLong()
  val gcMs = new AtomicLong()
  val shuffleRead = new AtomicLong()
  val shuffleWrite = new AtomicLong()
  val spill = new AtomicLong()
  private val intervals = new ConcurrentHashMap[Long, (Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    intervals.put(e.taskInfo.taskId, (e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      taskNanos.addAndGet(m.executorRunTime * 1000000L)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }

  /** Milliseconds of the wall window [fromMs, toMs] in which no task ran. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    import scala.jdk.CollectionConverters._
    val iv = intervals.values.asScala.toVector
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (toMs - fromMs) - covered)
  }
}

object SparkCounters {
  /** Listener delivery is asynchronous: wait until the bus is empty
    * before reading counters. */
  def drain(sc: SparkContext): Unit =
    if (!org.apache.spark.GraftListenerBridge.drain(sc, 30000L))
      System.err.println("perfbench: listener bus did not drain in 30 s")
}
