package graft

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Work-MASS capture for the bench harness: at local[32] wall-clock
  * seconds are scheduling-noise-bound (±15% on a shared VM, with rotating
  * contention blocks), so
  * every "is it contention or a regression?" question needs a re-run to
  * adjudicate. Shuffle bytes, spill bytes, and peak task execution memory
  * are DETERMINISTIC for a deterministic plan: recording them per query
  * turns that question into a one-line diff, and makes the 100 TB claims
  * (linear shuffle mass, bounded memory) measured instead of argued.
  *
  * Mechanics: one SparkListener accumulates task-end metrics; a
  * measurement window is [snapshot, run body, drain listener bus,
  * snapshot] — the drain (via [[org.apache.spark.graftbench.BusDrain]])
  * guarantees no task of query N is attributed to query N+1. Queries run
  * sequentially in the bench, so windows never overlap.
  *
  * Fields: `shuffleRead`/`shuffleWrite` total bytes over the window,
  * `spill` = memory+disk bytes spilled (the constrained-heap rehearsal's
  * observable), `peakMem` = max single-task `peakExecutionMemory` (the
  * per-task memory watermark — the quantity an executor must actually
  * provision per core; a cumulative sum would double-count released
  * memory). */
final case class WorkMass(
    shuffleRead: Long, shuffleWrite: Long, spill: Long, peakMem: Long) {
  def json: String =
    s"""{"shuffle_read":$shuffleRead,"shuffle_write":$shuffleWrite,""" +
      s""""spill":$spill,"peak_mem":$peakMem}"""
  def max(o: WorkMass): WorkMass = WorkMass(
    math.max(shuffleRead, o.shuffleRead), math.max(shuffleWrite, o.shuffleWrite),
    math.max(spill, o.spill), math.max(peakMem, o.peakMem))
}

final class WorkMassListener extends SparkListener {
  private val sr = new LongAdder
  private val sw = new LongAdder
  private val sp = new LongAdder
  private val peak = new AtomicLong

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      sr.add(m.shuffleReadMetrics.totalBytesRead)
      sw.add(m.shuffleWriteMetrics.bytesWritten)
      sp.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      var done = false
      while (!done) {
        val cur = peak.get
        done = m.peakExecutionMemory <= cur ||
          peak.compareAndSet(cur, m.peakExecutionMemory)
      }
    }
  }

  /** Running totals (monotone except peakMem, which is a global max and
    * is reset per window by [[WorkMass.measure]]). */
  def snapshot(): WorkMass = WorkMass(sr.sum, sw.sum, sp.sum, peak.get)
  def resetPeak(): Unit = peak.set(0L)
}

object WorkMass {
  val zero: WorkMass = WorkMass(0L, 0L, 0L, 0L)

  /** One listener per SparkContext, installed on first use and REUSED by
    * every later [[meter]] call: a listener per meter() call would leak
    * onto the shared context's bus — Bench + ScaleBench + every ScaleSpec
    * test would each add one, all paying accumulation work on every
    * task-end for the context lifetime. The totals are cumulative and
    * every window is a before/after difference, so sharing is free. */
  private val listeners =
    new java.util.concurrent.ConcurrentHashMap[SparkContext, WorkMassListener]()

  /** Return a measure function over `sc`'s shared listener: each call
    * runs `body` and returns its exclusive work-mass window. Sequential
    * use only (the bench's shape) — two concurrent windows would
    * double-count each other's tasks. */
  def meter(sc: SparkContext): (=> Any) => WorkMass = {
    val l = listeners.computeIfAbsent(sc, c => {
      val nl = new WorkMassListener
      c.addSparkListener(nl)
      // drop the map entry when the context ends, else the static map
      // would strongly retain every stopped SparkContext's whole object
      // graph for the JVM lifetime
      c.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          listeners.remove(c): Unit
      })
      nl
    })
    body => {
      org.apache.spark.graftbench.BusDrain.waitUntilEmpty(sc)
      l.resetPeak()
      val before = l.snapshot()
      body
      org.apache.spark.graftbench.BusDrain.waitUntilEmpty(sc)
      val after = l.snapshot()
      WorkMass(after.shuffleRead - before.shuffleRead,
        after.shuffleWrite - before.shuffleWrite,
        after.spill - before.spill, after.peakMem)
    }
  }
}
