package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.8 E5). Each op takes a
  * (possibly streaming) events DataFrame `(ts timestamp, event_type string,
  * user_id long, value double)` and returns the transformed frame — the
  * same declarative plan serves `readStream` (incremental, stateful,
  * watermark-bounded state eviction) and batch (oracle parity: the batch
  * twin of `EventOps.hourlyDf` is hash-checked as eq3). Tests drive these with
  * `MemoryStream` and hold them to batch parity.
  */
object StreamingOps extends Serializable {

  /** Tumbling 1-hour counts with a 10-minute watermark: in append mode a
    * window emits once the watermark passes its end, and later-than-
    * watermark events are dropped — bounded state at any scale. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sliding 1-hour/15-minute windows per event type. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp)
  case class OpenSession(startMs: Long, lastMs: Long, n: Int)
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Int)

  private val GapMs = 30L * 60 * 1000

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * arbitrary-state API for session logic `session_window` can't express
    * (here it reimplements the same 30-minute gap, as the worked example).
    * State = the one open session per user; event-time timeout fires once
    * the watermark passes last-activity + gap, emitting the closed session
    * and clearing state — so state size is O(active users), never
    * O(events). Input must carry a watermark on `ts`. */
  def statefulSessions(events: Dataset[UserEvent]): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    def fn(userId: Long, it: Iterator[UserEvent],
           state: GroupState[OpenSession]): Iterator[ClosedSession] = {
      def close(s: OpenSession) = ClosedSession(userId,
        new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs), s.n)
      if (state.hasTimedOut) {
        val out = state.getOption.map(close).iterator
        state.remove()
        out
      } else {
        // interval merge over {open-session} ∪ {batch events}, sorted by
        // start: handles late within-watermark stragglers uniformly —
        // straggler chains merge with EACH OTHER (not just with the open
        // session), and a straggler inside the open session's gap window
        // extends it backward. Matches the batch sessionizer on any input
        // the watermark admits.
        val intervals =
          (state.getOption.map(s => (s.startMs, s.lastMs, s.n)).toList ++
            it.map(ev => (ev.ts.getTime, ev.ts.getTime, 1)).toList)
            .sortBy(_._1)
        val merged = intervals.foldLeft(List.empty[(Long, Long, Int)]) {
          case ((ps, pe, pn) :: tail, (s, e, n)) if s - pe <= GapMs => // inclusive: session_window merges at exactly last+gap
            (ps, math.max(pe, e), pn + n) :: tail
          case (acc, iv) => iv :: acc
        } // newest-first
        val open = merged.head
        state.update(OpenSession(open._1, open._2, open._3))
        state.setTimeoutTimestamp(open._2 + GapMs)
        merged.tail.reverse.map { case (s, e, n) =>
          ClosedSession(userId, new java.sql.Timestamp(s), new java.sql.Timestamp(e), n)
        }.iterator
      }
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** [[statefulSessions]] on the Spark 4 `transformWithState` API — the
    * modern twin: the open session lives in a named `ValueState` slot and
    * the close is driven by an EVENT-TIME TIMER (`registerTimer` at
    * last-activity + gap; `handleExpiredTimer` emits the closed session
    * and clears state) instead of `GroupStateTimeout`. Each batch of
    * within-watermark events runs the same interval-merge as the
    * flatMapGroupsWithState version — straggler chains merge with each
    * other, a straggler inside the open session's gap window extends it
    * backward — and sessions already closed by the merge emit
    * immediately; only the one open session waits on its timer. The old
    * timer is deleted before the new one is registered, so exactly one
    * timer per key is live — state and timers are both O(active users).
    * Parity with [[statefulSessions]] is pinned by test on the same
    * MemoryStream input. */
  class SessionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, ClosedSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var open: ValueState[OpenSession] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[UserEvent],
                                 tv: TimerValues): Iterator[ClosedSession] = {
      val intervals =
        ((if (open.exists()) List(open.get()) else Nil)
          .map(s => (s.startMs, s.lastMs, s.n)) ++
          rows.map(ev => (ev.ts.getTime, ev.ts.getTime, 1)).toList)
          .sortBy(_._1)
      val merged = intervals.foldLeft(List.empty[(Long, Long, Int)]) {
        case ((ps, pe, pn) :: tail, (s, e, n)) if s - pe <= GapMs => // inclusive: session_window merges at exactly last+gap
          (ps, math.max(pe, e), pn + n) :: tail
        case (acc, iv) => iv :: acc
      } // newest-first
      val newOpen = merged.head
      if (open.exists())
        getHandle.deleteTimer(open.get().lastMs + GapMs)
      open.update(OpenSession(newOpen._1, newOpen._2, newOpen._3))
      getHandle.registerTimer(newOpen._2 + GapMs)
      merged.tail.reverse.map { case (s, e, n) =>
        ClosedSession(userId, new java.sql.Timestamp(s),
          new java.sql.Timestamp(e), n)
      }.iterator
    }
    override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[ClosedSession] = {
      val out =
        if (open.exists()) {
          val s = open.get()
          Iterator.single(ClosedSession(userId,
            new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs), s.n))
        } else Iterator.empty
      open.clear()
      out
    }
  }

  /** The timer-driven session stream: watermarked events keyed by user
    * through [[SessionProcessor]] in event-time mode. */
  def twsSessions(events: Dataset[UserEvent]): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming exact dedup — the training-pipeline dedup primitive in
    * streaming form: `dropDuplicatesWithinWatermark` keeps per-key state
    * only until the watermark passes, so duplicate events arriving within
    * the watermark horizon are dropped with bounded state (an unbounded
    * `dropDuplicates` would grow state forever at 100 TB/day rates). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming corpus gate — the ingest-time curation filter of a
    * training-data pipeline, in streaming form: content-keyed stratified
    * sampling (same predicate as eq31), content-hash split assignment
    * (same md5 % 100 as eq27) and token counting applied to a document
    * STREAM. Everything here is a pure function of the row, so the
    * operator is STATELESS — no watermark, no state store, trivially
    * scales to any ingest rate — and batch/streaming parity is exact
    * (pinned by test): a document admitted at ingest time is exactly the
    * document the batch pipeline would admit. */
  def corpusGate(docs: DataFrame): DataFrame =
    docs
      .filter(graft.pipeline.CorpusOps.sampleKeep(col("text"), col("lang")))
      .withColumn("split", graft.pipeline.TextAnalysis.splitOf(col("text")))
      .withColumn("n_tokens",
        graft.functions.TextCountExpressions.ws_token_count(col("text")))

  /** Stream-static enrichment join — each incoming event is stamped with
    * the user's HISTORICAL profile (a static frame computed by the batch
    * side, e.g. nightly): Spark's native stream-static join, stateless by
    * construction (no watermark, no state store — every micro-batch joins
    * against the static side as-of its current snapshot; broadcast here,
    * shuffled hash at a 100 TB profile scale). Left join + 0-fill so
    * never-seen users pass through — the online-feature-lookup shape of a
    * serving pipeline. Batch/stream parity pinned by test. */
  def enrichWithHistory(events: DataFrame, history: DataFrame): DataFrame =
    events
      .join(broadcast(history), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        coalesce(col("hist_events"), lit(0L)).as("hist_events"),
        coalesce(col("hist_value_cents"), lit(0L)).as("hist_value_cents"))

  /** The static side of [[enrichWithHistory]]: per-user event count and
    * exact integer-cents value total (the x7 money-cents trick, so the
    * profile is aggregation-order-proof). */
  def userHistory(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("hist_events"),
        sum(round(col("value") * 100).cast("long")).as("hist_value_cents"))

  /** Stream-stream interval join — each click is attributed to every view
    * the same user made in the preceding 30 minutes: Spark's watermarked
    * stream-stream inner join. The time-bound condition plus both
    * watermarks let the state store evict rows once they can no longer
    * match (views age out 30 minutes + watermark after their event time),
    * so state stays bounded at any ingest rate — the attribution-join
    * shape of an online ads/analytics pipeline, and the streaming twin of
    * the batch as-of/range joins (eq18/eq19). Batch parity: the same
    * predicate as a plain batch join — pinned by test. */
  def viewClickAttribution(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val c = clicks
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    v.join(c,
      expr("""user_id = click_user AND
             |view_ts <= click_ts AND
             |view_ts >= click_ts - INTERVAL 30 MINUTES""".stripMargin))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  case class ChangeEvent(user_id: Long, ts: java.sql.Timestamp,
                         event_id: Long, event_type: String)
  case class ProfileState(lastUs: Long, lastId: Long, lastOp: String,
                          nChanges: Long)

  /** Epoch MICROSECONDS of a timestamp — the full precision Spark stores.
    * `getTime` alone truncates to millis, which would let two changes in
    * the same millisecond but different microseconds resolve by event_id
    * here while the batch twin resolves them by the microsecond — a
    * parity break (pinned by test). */
  private def epochUs(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  private def usToTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
  case class ProfileRow(user_id: Long, last_op: String,
                        last_ts: java.sql.Timestamp, n_changes: Long,
                        tombstoned: Boolean)

  /** Streaming CDC materialization — the streaming twin of
    * [[graft.pipeline.EventOps.cdcCompactDf]] (parity pinned by test): per
    * key, `mapGroupsWithState` keeps the latest change by the total
    * (ts, event_id) order plus the change count, and every micro-batch
    * emits the key's updated profile row; `error` rows mark the key
    * tombstoned (a downstream reader drops those rows, exactly like the
    * batch compaction). State is ONE small record per live key — the
    * contract of a materialized table, same asymptotics as the RocksDB
    * state backend serving a compacted topic; there is deliberately no
    * timeout because a profile table does not expire. */
  def cdcState(changes: Dataset[ChangeEvent]): Dataset[ProfileRow] = {
    import changes.sparkSession.implicits._
    def fn(userId: Long, it: Iterator[ChangeEvent],
           state: GroupState[ProfileState]): ProfileRow = {
      val batch = it.toList
      val prev = state.getOption
      val last = (prev.map(s => (s.lastUs, s.lastId, s.lastOp)).toList ++
        batch.map(e => (epochUs(e.ts), e.event_id, e.event_type)))
        .maxBy(t => (t._1, t._2))
      val next = ProfileState(last._1, last._2, last._3,
        prev.map(_.nChanges).getOrElse(0L) + batch.length)
      state.update(next)
      ProfileRow(userId, next.lastOp, usToTimestamp(next.lastUs),
        next.nChanges, next.lastOp == "error")
    }
    changes
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
  }

  /** x17 — [[cdcState]] driven in BATCH mode, under the DuckDB oracle:
    * `mapGroupsWithState` on a batch Dataset processes each key's full
    * changelog in one invocation against empty initial state, so this runs
    * the EXACT streaming code path (same fold, same microsecond
    * (ts, event_id) order, same tombstone flag) and hash-checks it against
    * a plain window-SQL oracle — the driver-visible correctness signal for
    * the streaming surface that ScalaTest batch-parity alone didn't give.
    * Unlike eq67 it keeps tombstoned keys visible (tombstoned=true),
    * because a materialized CDC table serves deletes to its readers. */
  def cdcStateBatch(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val events = graft.Tables.load(spark, dir, "events")
    val changes = events
      .filter(col("event_type").isin("signup", "purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[ChangeEvent](org.apache.spark.sql.Encoders.product)
    cdcState(changes).toDF()
      .select(col("user_id"), col("last_op"),
        date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"),
        col("n_changes"), col("tombstoned"))
      .orderBy("user_id")
  }

  /** x18 — [[enrichWithHistory]] ∘ [[userHistory]] in batch mode, under
    * the DuckDB oracle: every event stamped with its user's full-corpus
    * profile (in production the static side is the nightly snapshot; here
    * it is derived from the same frame so the oracle can reproduce it
    * exactly). The event-level output IS the parity frame — the same plan
    * a micro-batch executes against the broadcast static side. */
  def enrichBatch(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val events = graft.Tables.load(spark, dir, "events")
    enrichWithHistory(events, userHistory(events))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("event_type"), col("hist_events"), col("hist_value_cents"))
      .orderBy("event_id")
  }

  /** x19 — [[viewClickAttribution]] in batch mode, under the DuckDB
    * oracle: on a batch frame the watermarks are no-ops and the
    * stream-stream interval join degenerates to exactly the inner
    * interval join a micro-batch pair would compute — so the SAME
    * declarative plan is hash-checked end-to-end (the third leg of the
    * x17/x18 streaming-parity surface, covering the stream-stream join
    * operator class). Timestamps rendered micro-format for the compare. */
  def attributionBatch(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val events = graft.Tables.load(spark, dir, "events")
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    viewClickAttribution(
      events.filter(col("event_type") === "view"),
      events.filter(col("event_type") === "click"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        date_format(col("view_ts"), fmt).as("view_ts"),
        date_format(col("click_ts"), fmt).as("click_ts"))
      .orderBy("user_id", "view_id", "click_id")
  }

  /** Session windows with a 30-minute inactivity gap — the streaming twin
    * of [[graft.pipeline.EventOps.sessionizeDf]]'s lag-based batch program
    * (per-user session event counts must agree; pinned by test). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** x22 — the `session_window` surface driven in batch (the x17/x18
    * convention): same operator, same 30-minute gap, full-history input,
    * so the driver's DuckDB oracle (gaps-and-islands with the ≥30 min
    * boundary, end = last event + gap) pins the session-merge semantics
    * the stream runs incrementally. Watermark is a no-op in batch. */
  def sessionWindowBatch(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val events = graft.Tables.load(spark, dir, "events")
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    sessionCounts(events)
      .select(
        date_format(col("session_start"), fmt).as("session_start"),
        date_format(col("session_end"), fmt).as("session_end"),
        col("user_id"), col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** foreachBatch upsert sink for the [[cdcState]] profile stream — the
    * production pattern for "materialize this keyed stream as a table"
    * when the target is a plain file store with no transactional MERGE.
    * Exactly-once EFFECT from an at-least-once engine via sink
    * idempotence: each micro-batch writes its updated profile rows to the
    * partition directory `batch_id=<id>` with overwrite mode, so a batch
    * REPLAY (failure between sink write and offset commit) rewrites the
    * same deterministic content into the same directory — a no-op. The
    * read view resolves each key to its row from the highest batch
    * (ts, event_id as ultimate tie-breaks are already folded into the
    * profile by cdcState). Compaction of old batch partitions is the
    * usual maintenance job; the read stays correct at any compaction
    * cadence because every batch's rows are full row images, not deltas. */
  def profileUpsertBatch(dir: String)(batch: Dataset[ProfileRow], batchId: Long): Unit =
    batch.toDF()
      .write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")

  /** The merged read view of [[profileUpsertBatch]]'s directory: latest
    * full row image per user (highest batch_id wins). */
  def readUpsertedProfiles(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("batch_id").desc)
    spark.read.option("basePath", dir).parquet(s"$dir/batch_id=*")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  case class PurchaseEvent(user_id: Long, event_id: Long,
                           ts: java.sql.Timestamp, value: Double)
  case class LedgerRow(user_id: Long, n_purchases: Long, total_cents: Long,
                       record_count: Long, last_cents: Long)

  /** Per-user purchase ledger on the Spark 4 `transformWithState`
    * arbitrary-state API (SPARK-49564) — the successor to
    * `mapGroupsWithState` that [[cdcState]] uses: named typed state slots
    * from a `StatefulProcessorHandle` instead of one opaque state object,
    * with TTL, timers, and (in streaming) the RocksDB-backed store behind
    * them. State here is five `ValueState[Long]`-shaped facts per user —
    * count, exact-cents total, running max, personal-record count, last
    * value — so state size is O(live users) regardless of event volume.
    * `record_count` (purchases that beat the user's previous max) is the
    * genuinely ORDER-DEPENDENT statistic a plain aggregate can't express:
    * rows are folded in (ts, event_id) order — the stream's arrival order,
    * made explicit in the batch twin so both runs fold identically. One
    * updated ledger row per key per invocation (Update-mode semantics). */
  class PurchaseLedgerProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, PurchaseEvent, LedgerRow] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var ledger: ValueState[(Long, Long, Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ledger = getHandle.getValueState[(Long, Long, Long, Long, Long)](
        "ledger", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[PurchaseEvent],
                                 tv: TimerValues): Iterator[LedgerRow] = {
      var (cnt, total, best, records, last) =
        if (ledger.exists()) ledger.get() else (0L, 0L, Long.MinValue, 0L, 0L)
      rows.toList.sortBy(e => (epochUs(e.ts), e.event_id)).foreach { e =>
        val cents = math.round(e.value * 100) // HALF_UP for positives — the engine's exact-cents rule
        cnt += 1; total += cents; last = cents
        if (cents > best) { best = cents; records += 1 }
      }
      ledger.update((cnt, total, best, records, last))
      Iterator.single(LedgerRow(key, cnt, total, records, last))
    }
  }

  /** The ledger stream: purchases keyed by user through
    * [[PurchaseLedgerProcessor]]. TimeMode.None — no timers; Update mode —
    * each micro-batch re-emits the keys it touched. */
  def purchaseLedger(purchases: Dataset[PurchaseEvent]): Dataset[LedgerRow] = {
    import purchases.sparkSession.implicits._
    purchases
      .groupByKey(_.user_id)
      .transformWithState(new PurchaseLedgerProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** x28 — [[purchaseLedger]] driven in BATCH mode under the DuckDB
    * oracle (the x17 convention): `transformWithState` on a batch Dataset
    * processes each key's full history in one `handleInputRows` call
    * against empty state, running the EXACT streaming processor — same
    * fold order, same cents arithmetic, same record-detection — and the
    * oracle reproduces it with a running-max window over the same
    * (ts, event_id) order. The driver-visible correctness signal for the
    * new arbitrary-state API, alongside x17's mapGroupsWithState. */
  def purchaseLedgerBatch(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Batch TWS runs the RocksDB store without a streaming query, so the
    // StateStoreCoordinator RPC endpoint a stream would have registered
    // does not exist, and the store's snapshot-upload report fails the
    // load. Register it the way StreamingQueryManager does — forDriver is
    // idempotent (an already-registered endpoint resolves to a ref).
    org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef
      .forDriver(org.apache.spark.SparkEnv.get, spark.sessionState.conf)
    val purchases = graft.Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[PurchaseEvent]
    purchaseLedger(purchases).toDF()
      .orderBy("user_id")
  }
}
