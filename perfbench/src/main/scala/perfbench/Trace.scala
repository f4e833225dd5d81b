package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call from the harness into an engine entry point. */
final case class Span(id: Long, parent: Long, name: String, thread: String,
    startNs: Long, endNs: Long, attrs: Map[String, String])

/** In-memory span recorder. Spans nest per thread: a span opened while
  * another is open on the same thread becomes its child. Disabled tracers
  * record nothing and add one branch per call. */
final class Tracer(val enabled: Boolean, origin: Long) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val open = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get
      open.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(parent)
        spans.add(Span(id, parent, name, Thread.currentThread.getName,
          t0 - origin, t1 - origin, attrs.map { case (k, v) => k -> v.toString }.toMap))
      }
    }

  def recorded: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Cumulative Spark counters at one instant. */
final case class Counters(jobs: Long, tasks: Long, cpuNs: Long, scanBytes: Long,
    shuffleBytes: Long, spillBytes: Long, planningMs: Double, jobBusyMs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    cpuNs - o.cpuNs, scanBytes - o.scanBytes, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, planningMs - o.planningMs, jobBusyMs - o.jobBusyMs)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    cpuNs + o.cpuNs, scanBytes + o.scanBytes, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, planningMs + o.planningMs, jobBusyMs + o.jobBusyMs)
}

object Counters {
  val zero: Counters = Counters(0L, 0L, 0L, 0L, 0L, 0L, 0.0, 0L)
}

/** Spark-side cost of one measured window. `driverMs` is the window's wall
  * time minus the part of it that at least one job covered. */
final case class Cost(wallMs: Double, c: Counters, peakExecMem: Long, driverMs: Double)

/** Job, task and planning counters, fed by a SparkListener (jobs, task
  * metrics, bytes) and a QueryExecutionListener (the QueryPlanningTracker's
  * phase times of every action). Totals are cumulative; a window is a
  * before/after difference taken with the listener bus drained. */
final class SparkMeter(spark: SparkSession) extends SparkListener {
  private val jobs, tasks, cpuNs, scan, shuffle, spill, jobBusy = new LongAdder
  private val planning = new DoubleAdder
  private val peak = new AtomicLong
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment(); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { t0 =>
      jobBusy.add(e.time - t0); jobSpans.add((t0.longValue, e.time))
    }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = t.taskMetrics
    if (m != null) {
      cpuNs.add(m.executorCpuTime)
      scan.add(m.inputMetrics.bytesRead)
      shuffle.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      peak.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  private val planningListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planning.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planning.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(planningListener)

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def counters(): Counters = Counters(jobs.sum, tasks.sum, cpuNs.sum, scan.sum,
    shuffle.sum, spill.sum, planning.sum, jobBusy.sum)

  /** Milliseconds of [t0, t1] (epoch ms) covered by at least one job. */
  private def covered(t0: Long, t1: Long): Long = {
    val clipped = jobSpans.asScala.iterator
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Run `body` as one sequential window and return its result and cost. */
  def window[T](body: => T): (T, Cost) = {
    drain()
    val before = counters()
    peak.set(0L)
    val w0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val wallMs = (System.nanoTime() - n0) / 1e6
    val w1 = System.currentTimeMillis()
    drain()
    (out, Cost(wallMs, counters() - before, peak.get,
      math.max(0.0, wallMs - covered(w0, w1))))
  }
}

/** Writes the recorded spans and the run's summary as JSON lines. */
object TraceFile {
  def write(path: String, tracer: Tracer, summary: Map[String, Double]): Unit = {
    val lines = tracer.recorded.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
      s"""{"span":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""thread":${Json.str(s.thread)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""attrs":{$attrs}}"""
    } :+ s"""{"summary":${Json.obj(summary)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
