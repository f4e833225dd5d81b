package graft.sources

/** Bounded driver-side parallelism for INDEPENDENT table writes
  * ("overlap independent jobs"): the state
  * sinks commit one operation as several parquet tables with no data
  * dependency between them — a delta generation's five layer tables, a
  * snapshot's artifact tables — and writing them sequentially serializes
  * job scheduling, file commit and catalog round-trips that Spark will
  * happily overlap. Each writer thread just submits Spark jobs; the
  * cluster scheduler (FIFO) back-fills the tail of one write with the
  * next one's tasks, so wall-clock per operation approaches max(write)
  * instead of sum(write). At 100 TB the same shape holds: the five layer
  * writes of one micro-batch are independent jobs over disjoint output
  * paths.
  *
  * The pool is cached/elastic (writes are driver-blocking job
  * submissions, the real work runs on executors — and a bounded pool
  * would deadlock when one batch of writes nests another, e.g. a
  * snapshot write running the index write and the artifact writes
  * concurrently), shared, and daemon — it must never keep a JVM alive.
  * Concurrency is bounded by the callers' fan-out (≤ ~10 threads), not
  * the pool. Failure semantics match the sequential code: the first
  * failed write's exception propagates (wrapped causes unwrapped), after
  * every submitted write has settled — so no write is ever abandoned
  * mid-flight with its table half-registered. */
private[sources] object SinkPar {
  private lazy val pool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-sink-par")
      t.setDaemon(true)
      t
    })

  /** Run the thunks concurrently, return results in order. */
  def run[T](thunks: Seq[() => T]): Seq[T] = {
    if (thunks.size <= 1) thunks.map(_())
    else {
      val futures = thunks.map(f =>
        pool.submit(new java.util.concurrent.Callable[T] { def call(): T = f() }))
      // settle ALL before propagating the first failure: a half-awaited
      // batch could leave a concurrent write racing the caller's cleanup
      val results = futures.map(f =>
        try Right(f.get())
        catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) })
      results.collectFirst { case Left(e) => e }.foreach(e => throw e)
      results.collect { case Right(r) => r }
    }
  }

  def run2[A, B](a: => A, b: => B): (A, B) = {
    val r = run(Seq(() => a: Any, () => b: Any))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
