package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Cumulative Spark counters over a span's interval. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          shuffleReadBytes: Long = 0,
                          shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
                          gcMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    gcMs - o.gcMs)
  def asMap: Map[String, Long] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "gc_ms" -> gcMs)
}

/** The benchmark's own listener: running totals of what Spark executed.
  * GC time is read from the JVM (local mode runs every task in this
  * process, so per-task GC figures would count one pause once per core).
  */
final class CounterListener extends SparkListener {
  private val jobs, stages, tasks, shR, shW, spill = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def snapshot: Counters = Counters(jobs.get, stages.get, tasks.get, shR.get,
    shW.get, spill.get, Tracer.gcMs())
}

/** One recorded span. Times are epoch ms (start/end) plus a nanosecond
  * duration; `counters` cover the span's whole interval, children
  * included.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startMs: Long, endMs: Long, durNs: Long,
                      counters: Counters) {
  def seconds: Double = durNs / 1e9
}

/** Span recorder for the traced run. Spans are kept in memory and written
  * with the artifact when the run ends. When disabled, [[span]] only runs
  * its body: untraced runs register no listener and record nothing.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var spark: Option[SparkSession] = None
  private var listener: Option[CounterListener] = None

  /** Attach to a (new) session: counters are read from its listener bus. */
  def attach(s: SparkSession): Unit = if (enabled) {
    val l = new CounterListener
    s.sparkContext.addSparkListener(l)
    spark = Some(s); listener = Some(l)
  }

  /** Counters so far, after the listener bus has caught up. */
  private def counters(): Counters = (spark, listener) match {
    case (Some(s), Some(l)) if !s.sparkContext.isStopped =>
      org.apache.spark.BenchBus.drain(s.sparkContext); l.snapshot
    case _ => Counters(gcMs = Tracer.gcMs())
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = counters()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - t0
        val ms1 = System.currentTimeMillis()
        val c1 = counters()
        stack = stack.tail
        spans += Span(id, name, parent, runId, ms0, ms1, dur, c1 - c0)
      }
    }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Duration minus the part of the interval its direct children cover
    * (children run sequentially on the harness thread).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}

object Tracer {
  /** Records nothing: for the untraced measurements of a traced run. */
  val off = new Tracer(false, "")

  /** Total GC time of this JVM so far. */
  def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      t += math.max(0L, b.getCollectionTime)
    }
    t
  }
}
