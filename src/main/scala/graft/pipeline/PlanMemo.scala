package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for expensive derived corpus artifacts (pair
  * tables, signature frames, learned vocabularies), keyed by
  * (session, canonicalized source plan, extra): structural plan equality,
  * so distinct corpora never share and no hash-collision risk. This is the
  * production shape at 100 TB — a pipeline materializes its derived
  * artifacts once per corpus snapshot and every downstream audit reads
  * those, not a fresh mining pass.
  *
  * Entries are wrapped in a lazy Cell: `TrieMap.getOrElseUpdate` publishes
  * exactly one Cell per key, and the Cell's `lazy val` forces the
  * expensive mining+checkpoint under its own monitor — two concurrent
  * first callers can race to create Cells (cheap, side-effect-free) but
  * only the stored winner's body ever runs, so no checkpoint blocks are
  * orphaned (ADVICE r8).
  *
  * Lifecycle: every instance self-registers; when a SparkContext stops,
  * each memo drops the entries keyed by that context's sessions so the
  * frames (and the localCheckpoint blocks they pin) don't outlive the
  * application in a long-lived JVM hosting many sequential sessions
  * (ADVICE r8). Fixtures are immutable per session; a mutated-in-place
  * source dir would need an explicit [[PlanMemo.clearAll]].
  *
  * [[at]] keys an entry by (session, any value) instead of a source plan,
  * for artifacts whose source must not be resolved to be looked up — the
  * serving snapshot in [[graft.api.QueryService]], keyed by the source
  * files' statuses, which also retires superseded entries through
  * [[evict]]. */
private[graft] final class PlanMemo[T] {
  private final class Cell(f: () => T) {
    // Count the miss AFTER f() completes (ADVICE r10): if the mining body
    // throws on first use (e.g. a transient Spark failure), Scala's
    // lazy-val semantics re-run the body on the next access — counting
    // before f() would then record 2+ misses for one successfully
    // materialized key and spuriously trip the 'exactly +1' pins
    // (PlanMemoSpec / PipelineSpec eq136) after a recovered failure.
    lazy val value: T = { val r = f(); misses.incrementAndGet(); r }
  }
  private val m = new scala.collection.concurrent.TrieMap[(SparkSession, Any), Cell]
  /** Count of mining passes actually RUN (Cell bodies forced, not Cells
    * created) — the observable the materialize-once contract is asserted
    * on: PlanMemoSpec hammers first-use from N threads and the eq136
    * pipeline test runs a full curation chain, both expecting exactly +1
    * here per distinct (session, plan, extra) key. */
  private[graft] val misses = new java.util.concurrent.atomic.AtomicLong
  private[graft] def size: Int = m.size
  PlanMemo.register(this)
  def apply(docs: DataFrame, extra: Any = ())(f: => T): T =
    at(docs.sparkSession, (docs.queryExecution.analyzed.canonicalized, extra))(f)
  def at(session: SparkSession, key: Any)(f: => T): T = {
    PlanMemo.hookEviction(session)
    m.getOrElseUpdate((session, key), new Cell(() => f)).value
  }
  /** Drop `session`'s entries whose key satisfies `p`. */
  def evict(session: SparkSession)(p: Any => Boolean): Unit =
    m.keysIterator.filter(k => (k._1 eq session) && p(k._2)).foreach(m.remove)
  private[pipeline] def evictContext(sc: org.apache.spark.SparkContext): Unit =
    // TrieMap iteration is snapshot-consistent; remove is safe mid-iteration
    m.keysIterator.filter(_._1.sparkContext eq sc).foreach(m.remove)
  def clear(): Unit = m.clear()
}

private[graft] object PlanMemo {
  private val instances =
    new scala.collection.concurrent.TrieMap[PlanMemo[_], Unit]
  private val hooked =
    new scala.collection.concurrent.TrieMap[org.apache.spark.SparkContext, Unit]
  private def register(memo: PlanMemo[_]): Unit = instances.put(memo, ())
  def clearAll(): Unit = instances.keysIterator.foreach(_.clear())
  def hookEviction(session: SparkSession): Unit = {
    val sc = session.sparkContext
    if (hooked.putIfAbsent(sc, ()).isEmpty)
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          onContextStop(sc)
      })
  }

  /** The listener's whole effect, factored out so PlanMemoSpec can drive
    * the stop path without killing the suite-shared SparkContext (Spark's
    * listener delivery on stop is Spark's own contract): drop every memo
    * entry keyed by the context's sessions and re-arm the hook. */
  private[pipeline] def onContextStop(sc: org.apache.spark.SparkContext): Unit = {
    instances.keysIterator.foreach(_.evictContext(sc))
    hooked.remove(sc)
  }

  private[pipeline] def isHooked(sc: org.apache.spark.SparkContext): Boolean =
    hooked.contains(sc)
}
