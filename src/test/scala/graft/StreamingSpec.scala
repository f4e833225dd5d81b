package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.pipeline.EventOps
import graft.streaming.StreamingOps

@SlowTest
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming tumbling windows match the batch plan and drop late data past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val streamed = StreamingOps.hourlyCounts(
      mem.toDF().toDF("ts", "event_type", "value"))
    val q = streamed.writeStream
      .format("memory").queryName("hourly_out")
      .outputMode("append")
      .start()
    // batch 1: two closed-to-be hours of data
    mem.addData(
      (ts("2024-01-01 10:05:00"), "view", 1.0),
      (ts("2024-01-01 10:55:00"), "view", 2.0),
      (ts("2024-01-01 11:05:00"), "click", 4.0))
    q.processAllAvailable()
    // batch 2: watermark pusher far in the future closes both windows...
    mem.addData((ts("2024-01-01 23:00:00"), "view", 8.0))
    q.processAllAvailable()
    // batch 3: a LATE event for the long-closed 10:00 window must be dropped
    mem.addData((ts("2024-01-01 10:30:00"), "view", 100.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("hourly_out")
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("h"),
        col("event_type"), col("n_events"), col("total_value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got(("2024-01-01 10:00:00", "view")) == ((2L, 3.0))) // late 100.0 NOT added
    assert(got(("2024-01-01 11:00:00", "click")) == ((1L, 4.0)))
    assert(!got.contains(("2024-01-01 23:00:00", "view"))) // still open, not emitted
  }

  test("flatMapGroupsWithState sessionizer: event-time timeout closes sessions, state is per-user") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val events = mem.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .as[StreamingOps.UserEvent](org.apache.spark.sql.Encoders.product)
    val q = StreamingOps.statefulSessions(events)
      .writeStream.format("memory").queryName("stateful_out")
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), 7L), (ts("2024-01-01 10:10:00"), 7L),
      (ts("2024-01-01 12:00:00"), 7L), (ts("2024-01-01 10:00:00"), 8L))
    q.processAllAvailable()
    // the 12:00 arrival closed 7's first session in-batch; 8's session and
    // 7's second remain open until the watermark passes last+30min
    mem.addData((ts("2024-01-02 00:00:00"), 99L))
    q.processAllAvailable()
    mem.addData((ts("2024-01-03 00:00:00"), 99L)) // push watermark past user 99 too
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stateful_out")
      .collect()
      .map(r => (r.getLong(0),
        r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.count(_._1 == 7L) == 2)
    val s7 = got.filter(_._1 == 7L)
    assert(s7(0)._4 == 2 && s7(1)._4 == 1) // 2-event session then 1-event
    assert(got.count(_._1 == 8L) == 1 && got.filter(_._1 == 8L).head._4 == 1)
  }

  test("custom state sessionizers merge at EXACTLY last+gap (native session_window rule)") {
    // the r10 boundary finding, pinned on both arbitrary-state APIs: two
    // events exactly 30 minutes apart are ONE session, as session_window
    // computes — the pre-r10 >=-split rule would emit two
    implicit val sqlCtx = spark.sqlContext
    for ((name, build) <- Seq[(String,
        org.apache.spark.sql.Dataset[StreamingOps.UserEvent] =>
          org.apache.spark.sql.Dataset[StreamingOps.ClosedSession])](
      "fmgws" -> StreamingOps.statefulSessions,
      "tws" -> StreamingOps.twsSessions)) {
      // TWS requires the RocksDB provider; scope the conf to the stream
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      if (name == "tws") spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
      val mem = MemoryStream[(Timestamp, Long)]
      // twsSessions applies its own watermark; fmgws expects the caller's
      val base = mem.toDF().toDF("ts", "user_id")
      val events = (if (name == "tws") base
        else base.withWatermark("ts", "10 minutes"))
        .as[StreamingOps.UserEvent](org.apache.spark.sql.Encoders.product)
      val q = build(events)
        .writeStream.format("memory").queryName(s"boundary_$name")
        .outputMode("append").start()
      mem.addData((ts("2024-01-01 10:00:00"), 9L), (ts("2024-01-01 10:30:00"), 9L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-02 00:00:00"), 99L)) // watermark pusher
      q.processAllAvailable()
      mem.addData((ts("2024-01-03 00:00:00"), 99L))
      q.processAllAvailable()
      q.stop()
      val s9 = spark.table(s"boundary_$name").collect()
        .filter(_.getLong(0) == 9L).map(r => (r.getTimestamp(1).toString, r.getInt(3)))
      assert(s9.toSeq == Seq(("2024-01-01 10:00:00.0", 2)),
        s"$name: expected ONE 2-event boundary session, got ${s9.toSeq}")
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("flatMapGroupsWithState: late within-watermark straggler extends the session backward") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val events = mem.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .as[StreamingOps.UserEvent](org.apache.spark.sql.Encoders.product)
    val q = StreamingOps.statefulSessions(events)
      .writeStream.format("memory").queryName("straggler_out")
      .outputMode("append").start()
    // batch 1: event at 12:00 -> watermark 11:50
    mem.addData((ts("2024-01-01 12:00:00"), 7L))
    q.processAllAvailable()
    // batch 2: LATE but within-watermark event at 11:51, inside the gap
    // window of the open session -> must extend it backward, not corrupt it
    mem.addData((ts("2024-01-01 11:51:00"), 7L))
    q.processAllAvailable()
    mem.addData((ts("2024-01-02 00:00:00"), 99L)) // close via watermark
    q.processAllAvailable()
    mem.addData((ts("2024-01-03 00:00:00"), 99L))
    q.processAllAvailable()
    q.stop()
    val s7 = spark.table("straggler_out").collect()
      .filter(_.getLong(0) == 7L)
      .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getInt(3)))
    assert(s7.length == 1)
    assert(s7(0) == (("2024-01-01 11:51:00.0", "2024-01-01 12:00:00.0", 2)))
  }

  test("streaming dedup: duplicate event ids within the watermark horizon are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamingOps.dedupEvents(
      mem.toDF().toDF("event_id", "ts", "value"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    mem.addData((1L, ts("2024-01-01 10:00:00"), 1.0))
    q.processAllAvailable()
    // same event_id again (at-least-once replay) + a genuinely new event
    mem.addData(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, ts("2024-01-01 10:01:00"), 2.0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Array(1L, 2L)))
  }

  test("streaming session windows agree with the batch lag-based sessionizer") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val q = StreamingOps.sessionCounts(
      mem.toDF().toDF("ts", "user_id")
        .withColumn("event_type", lit("view")).withColumn("value", lit(1.0)))
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), 7L), (ts("2024-01-01 10:10:00"), 7L),
      (ts("2024-01-01 12:00:00"), 7L), (ts("2024-01-01 10:00:00"), 8L),
      // user 9: EXACTLY 30 minutes apart — session_window merges at the
      // boundary (r10 drill finding), so one 2-event session everywhere
      (ts("2024-01-01 10:00:00"), 9L), (ts("2024-01-01 10:30:00"), 9L))
    q.processAllAvailable()
    mem.addData((ts("2024-01-02 00:00:00"), 99L)) // watermark pusher
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sessions_out")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"),
        max("n_events").as("max_session_events"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // batch twin on the same rows
    val batch = EventOps.sessionizeDf(Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:10:00"), 7L, "view", 1.0, "{}"),
      (3L, ts("2024-01-01 12:00:00"), 7L, "view", 1.0, "{}"),
      (4L, ts("2024-01-01 10:00:00"), 8L, "view", 1.0, "{}"),
      (5L, ts("2024-01-01 10:00:00"), 9L, "view", 1.0, "{}"),
      (6L, ts("2024-01-01 10:30:00"), 9L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(sessions(7L) == batch(7L))
    assert(sessions(8L) == batch(8L))
    assert(sessions(9L) == ((1L, 2L, 2L)),
      "the exact-boundary pair must be ONE 2-event session (native semantics)")
    assert(sessions(9L) == batch(9L),
      "batch sessionizer must agree with session_window at the exact boundary")
  }

  test("x22 batch session_window frame agrees with the lag-based sessionizer per user (sf0.001)") {
    val sw = StreamingOps.sessionWindowBatch(spark, Sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = SparkEntry.queries("eq5_sessionize")(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sw == batch)
  }

  test("stream-static enrichment join stamps historical profiles; unseen users 0-fill") {
    implicit val sqlCtx = spark.sqlContext
    // static profile side from the batch fixture
    val history = StreamingOps.userHistory(
      Tables.load(spark, Sf, "events")).cache()
    val knownUser = history.orderBy(col("hist_events").desc).head()
    val (uid, histN, histCents) =
      (knownUser.getLong(0), knownUser.getLong(1), knownUser.getLong(2))
    val unseenUid = -777L // guaranteed absent from the fixture's user ids

    val mem = MemoryStream[(Long, Long, Timestamp, String)]
    val enriched = StreamingOps.enrichWithHistory(
      mem.toDF().toDF("event_id", "user_id", "ts", "event_type"), history)
    val q = enriched.writeStream
      .format("memory").queryName("enrich_out")
      .outputMode("append")
      .start()
    mem.addData(Seq(
      (9001L, uid, ts("2024-06-01 10:00:00"), "view"),
      (9002L, unseenUid, ts("2024-06-01 10:00:01"), "view")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("enrich_out").collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("hist_events"), r.getAs[Long]("hist_value_cents")))).toMap
    assert(got(9001L) == ((histN, histCents)),
      "known user must carry its batch-computed profile")
    assert(got(9002L) == ((0L, 0L)), "never-seen user passes through 0-filled")

    // batch/stream parity: the same join run as a batch plan agrees
    val batch = StreamingOps.enrichWithHistory(
      Seq((9001L, uid, ts("2024-06-01 10:00:00"), "view"),
          (9002L, unseenUid, ts("2024-06-01 10:00:01"), "view"))
        .toDF("event_id", "user_id", "ts", "event_type"), history)
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("hist_events"), r.getAs[Long]("hist_value_cents")))).toMap
    assert(batch == got)
  }

  test("streaming corpus gate matches the batch sample/split/token pipeline exactly") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val streamed = StreamingOps.corpusGate(
      mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"))
    val q = streamed.writeStream
      .format("memory").queryName("gate_out")
      .outputMode("append")
      .start()
    val docs = Tables.load(spark, Sf, "documents")
      .limit(200)
      .as[(Long, String, String, String, Long)]
      .collect()
    mem.addData(docs.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("gate_out")
      .select("doc_id", "split", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val batch = StreamingOps.corpusGate(docs.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .select("doc_id", "split", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == batch, "stream-admitted documents must equal the batch gate output")
    assert(got.nonEmpty, "the gate must admit a nonempty sample from the fixture")
  }

  test("stream-stream interval join: clicks attribute to in-window views, state evicts") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Long, Timestamp)]
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    def df(m: MemoryStream[(Long, Long, Timestamp)]) =
      m.toDF().toDF("user_id", "event_id", "ts")
    val q = StreamingOps.viewClickAttribution(df(views), df(clicks))
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    views.addData(
      (1L, 100L, ts("2024-01-01 10:00:00")), // in-window for click 200
      (1L, 101L, ts("2024-01-01 09:20:00")), // 45 min before -> out of window
      (2L, 102L, ts("2024-01-01 10:01:00"))) // other user
    clicks.addData(
      (1L, 200L, ts("2024-01-01 10:05:00")),
      (3L, 201L, ts("2024-01-01 10:06:00"))) // user with no views
    q.processAllAvailable()
    // watermark pushers on both sides so earlier results finalize
    views.addData((9L, 999L, ts("2024-01-01 12:00:00")))
    clicks.addData((9L, 998L, ts("2024-01-01 12:31:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attr_out")
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 200L)),
      "only the same-user in-window view attributes; stale and cross-user views don't")
    // batch parity: the identical predicate as a plain join over the union
    val allViews = Seq((1L, 100L, ts("2024-01-01 10:00:00")),
      (1L, 101L, ts("2024-01-01 09:20:00")), (2L, 102L, ts("2024-01-01 10:01:00")),
      (9L, 999L, ts("2024-01-01 12:00:00"))).toDF("user_id", "event_id", "ts")
    val allClicks = Seq((1L, 200L, ts("2024-01-01 10:05:00")),
      (3L, 201L, ts("2024-01-01 10:06:00")), (9L, 998L, ts("2024-01-01 12:31:00")))
      .toDF("user_id", "event_id", "ts")
    val batch = StreamingOps.viewClickAttribution(allViews, allClicks)
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 12:00 view -> 12:31 click pusher pair sits just past the
    // inclusive 30-minute bound in batch too, so batch equals the stream
    assert(batch == got, "stream-stream join must agree with the batch predicate")
  }

  test("streaming CDC state survives a query restart from its checkpoint") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("cdc_restart").toString
    val (inDir, ckpt, outDir) = (s"$root/in", s"$root/ckpt", s"$root/out")
    def writeDrop(name: String, rows: Seq[(Long, Timestamp, Long, String)]): Unit =
      rows.toDF("user_id", "ts", "event_id", "event_type")
        .coalesce(1).write.mode("append").parquet(inDir)
    // drop 1 arrives before the query ever starts
    writeDrop("d1", Seq((1L, ts("2024-01-01 10:00:00"), 1L, "signup")))
    val schema = "user_id LONG, ts TIMESTAMP, event_id LONG, event_type STRING"
    // the memory sink refuses checkpoint recovery; foreachBatch + parquet
    // is the recoverable-update-sink shape a real pipeline uses
    def start() = StreamingOps.cdcState(
      spark.readStream.schema(schema).parquet(inDir)
        .as[StreamingOps.ChangeEvent](org.apache.spark.sql.Encoders.product))
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingOps.ProfileRow], _: Long) =>
        df.write.mode("append").parquet(outDir)
      }
      .start()
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    // drop 2 lands while the pipeline is down; a NEW query resumes from
    // the checkpoint and must still see u1's round-1 state (n_changes
    // carries across the restart — state store recovery, not recompute)
    writeDrop("d2", Seq((1L, ts("2024-01-01 11:00:00"), 2L, "purchase"),
      (2L, ts("2024-01-01 11:00:00"), 3L, "signup")))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val last = spark.read.parquet(outDir)
      .select("user_id", "last_op", "n_changes").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._3) }.toSet
    assert(last == Set((1L, "purchase", 2L), (2L, "signup", 1L)),
      "restarted query must carry user 1's pre-restart change count")
  }

  test("streaming CDC state agrees with the batch compaction across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val changes = mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
      .as[StreamingOps.ChangeEvent](org.apache.spark.sql.Encoders.product)
    val q = StreamingOps.cdcState(changes)
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("update").start()
    // batch 1: u1 signs up, u2 signs up; batch 2: u1 purchases (out-of-
    // order id at the same ts must lose), u2 tombstoned, u3 appears
    mem.addData((1L, ts("2024-01-01 10:00:00"), 1L, "signup"),
      (2L, ts("2024-01-01 10:00:00"), 2L, "signup"))
    q.processAllAvailable()
    mem.addData((1L, ts("2024-01-01 11:00:00"), 4L, "purchase"),
      (1L, ts("2024-01-01 11:00:00"), 3L, "signup"),
      (2L, ts("2024-01-01 12:00:00"), 5L, "error"),
      (3L, ts("2024-01-01 12:00:00"), 6L, "signup"))
    q.processAllAvailable()
    q.stop()
    // update mode re-emits a key per micro-batch: the LAST row per key is
    // the materialized profile
    val profiles = spark.table("cdc_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getBoolean(4)))
      .groupBy(_._1).map { case (u, rows) => rows.maxBy(_._3) } // max n_changes
      .toSet
    assert(profiles == Set(
      (1L, "purchase", 3L, false), // event_id 4 beats 3 at the tied ts
      (2L, "error", 2L, true),
      (3L, "signup", 1L, false)))
    // batch parity: same changelog through the batch compactor
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "signup", 0.0, "{}"),
      (4L, ts("2024-01-01 11:00:00"), 1L, "purchase", 0.0, "{}"),
      (3L, ts("2024-01-01 11:00:00"), 1L, "signup", 0.0, "{}"),
      (2L, ts("2024-01-01 10:00:00"), 2L, "signup", 0.0, "{}"),
      (5L, ts("2024-01-01 12:00:00"), 2L, "error", 0.0, "{}"),
      (6L, ts("2024-01-01 12:00:00"), 3L, "signup", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batchRows = graft.pipeline.EventOps.cdcCompactDf(events).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    val streamLive = profiles.filter(!_._4).map(t => (t._1, t._2, t._3))
    assert(streamLive == batchRows,
      "live streaming profiles must equal the batch compaction")
  }

  test("streaming CDC resolves same-millisecond changes by the microsecond, like batch") {
    implicit val sqlCtx = spark.sqlContext
    // two changes inside ONE millisecond: .000001s id 9 vs .000900s id 1.
    // Microsecond order says id 1 (purchase) is latest; a millis-truncating
    // comparison would tie the timestamps and wrongly resolve by event_id
    // to id 9 (signup).
    def tsUs(base: String, us: Int): Timestamp = {
      val t = ts(base); t.setNanos(us * 1000); t
    }
    val early = tsUs("2024-01-01 10:00:00", 1)
    val late = tsUs("2024-01-01 10:00:00", 900)
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val changes = mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
      .as[StreamingOps.ChangeEvent](org.apache.spark.sql.Encoders.product)
    val q = StreamingOps.cdcState(changes)
      .writeStream.format("memory").queryName("cdc_us_out")
      .outputMode("update").start()
    mem.addData((1L, early, 9L, "signup"), (1L, late, 1L, "purchase"))
    q.processAllAvailable()
    q.stop()
    val row = spark.table("cdc_us_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getLong(3)))
      .maxBy(_._4)
    assert(row._2 == "purchase", s"micros must win over event_id: $row")
    assert(row._3.getNanos == 900000, s"emitted last_ts must keep the micros: $row")
    // batch parity on the same changelog
    val events = Seq(
      (9L, early, 1L, "signup", 0.0, "{}"),
      (1L, late, 1L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch = graft.pipeline.EventOps.cdcCompactDf(events).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(batch.sameElements(Array(
      (1L, "purchase", "2024-01-01 10:00:00.000900", 2L))))
  }

  test("foreachBatch upsert sink: latest row per key wins; batch replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val changes = mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
      .as[StreamingOps.ChangeEvent](org.apache.spark.sql.Encoders.product)
    val q = StreamingOps.cdcState(changes)
      .writeStream
      .outputMode("update")
      .foreachBatch(StreamingOps.profileUpsertBatch(dir) _)
      .start()
    mem.addData((7L, ts("2024-01-01 10:00:00"), 1L, "signup"))
    q.processAllAvailable()
    mem.addData(
      (7L, ts("2024-01-01 11:00:00"), 2L, "purchase"),
      (8L, ts("2024-01-01 11:30:00"), 3L, "signup"))
    q.processAllAvailable()
    q.stop()
    def snapshot() = StreamingOps.readUpsertedProfiles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).sortBy(_._1).toSeq
    val got = snapshot()
    // user 7's batch-1 signup row was superseded by the batch-2 purchase
    assert(got == Seq((7L, "purchase", 2L), (8L, "signup", 1L)), s"merged view: $got")
    // REPLAY batch 1 (the at-least-once failure mode): same deterministic
    // content overwrites the same batch directory — the view is unchanged
    val batch1 = Seq((7L, "signup",
      ts("2024-01-01 10:00:00"), 1L, false))
      .toDF("user_id", "last_op", "last_ts", "n_changes", "tombstoned")
      .as[StreamingOps.ProfileRow](org.apache.spark.sql.Encoders.product)
    StreamingOps.profileUpsertBatch(dir)(batch1, 0L)
    assert(snapshot() == got, "replaying a committed batch must not change the merged view")
  }

  test("transformWithState sessionizer: event-time timers close sessions; parity with flatMapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Timestamp, Long)]
      val events = mem.toDF().toDF("ts", "user_id")
        .as[StreamingOps.UserEvent](org.apache.spark.sql.Encoders.product)
      val q = StreamingOps.twsSessions(events)
        .writeStream.format("memory").queryName("tws_sessions_out")
        .outputMode("append").start()
      // the statefulSessions test's exact drive: in-batch close for 7's
      // first session, timer-driven close for 7's second and user 8's
      mem.addData(
        (ts("2024-01-01 10:00:00"), 7L), (ts("2024-01-01 10:10:00"), 7L),
        (ts("2024-01-01 12:00:00"), 7L), (ts("2024-01-01 10:00:00"), 8L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-02 00:00:00"), 99L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-03 00:00:00"), 99L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_sessions_out").collect()
        .map(r => (r.getLong(0),
          r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getInt(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got == Seq(
        (7L, "2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2),
        (7L, "2024-01-01 12:00:00.0", "2024-01-01 12:00:00.0", 1),
        (8L, "2024-01-01 10:00:00.0", "2024-01-01 10:00:00.0", 1),
        (99L, "2024-01-02 00:00:00.0", "2024-01-02 00:00:00.0", 1)),
        s"timer-closed sessions: $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState ledger: state accumulates across micro-batches (RocksDB store)") {
    implicit val sqlCtx = spark.sqlContext
    // TWS streaming requires the RocksDB provider; scope the conf to this
    // query and restore after so the rest of the suite keeps the default.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Long, Timestamp, Double)]
      val purchases = mem.toDF().toDF("user_id", "event_id", "ts", "value")
        .as[StreamingOps.PurchaseEvent](org.apache.spark.sql.Encoders.product)
      val q = StreamingOps.purchaseLedger(purchases)
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("update").start()
      // batch 1: 1.00 then 3.00 — both personal records
      mem.addData(
        (7L, 1L, ts("2024-01-01 10:00:00"), 1.0),
        (7L, 2L, ts("2024-01-01 10:05:00"), 3.0))
      q.processAllAvailable()
      // batch 2: 2.00 (no record) then 5.00 (record) — state must carry the
      // batch-1 running max (3.00) across the micro-batch boundary
      mem.addData(
        (7L, 3L, ts("2024-01-01 10:10:00"), 2.0),
        (7L, 4L, ts("2024-01-01 10:15:00"), 5.0))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("tws_out").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(rows.toSeq == Seq((2L, 400L, 2L, 300L), (4L, 1100L, 3L, 500L)),
        s"ledger emissions per batch: ${rows.toSeq}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState ledger survives a stop/restart from its RocksDB checkpoint") {
    // The failure-recovery half of exactly-once (VERDICT r10 task 5):
    // foreachBatch replay idempotence is pinned elsewhere; this pins that
    // the RocksDB state itself survives a query STOP and a cold restart
    // on the same checkpointLocation. The witness is user 7's running max:
    // drop 1 sets it to 3.00, the pipeline goes DOWN, drop 2 arrives, and
    // the restarted query replays only drop 2 — so record_count = 3 for
    // user 7 is unreachable unless the 3.00 max was recovered from the
    // checkpoint, not recomputed (a lost store would yield 2: both drop-2
    // purchases would beat MinValue and 2.00 would count as a record).
    import java.nio.file.Files
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = Files.createTempDirectory("tws_restart").toString
      val inDir = s"$root/in"
      def writeDrop(rows: Seq[(Long, Long, Timestamp, Double)]): Unit =
        rows.toDF("user_id", "event_id", "ts", "value")
          .coalesce(1).write.mode("append").parquet(inDir)
      val schema = "user_id LONG, event_id LONG, ts TIMESTAMP, value DOUBLE"
      def start(out: String, ckpt: String) = StreamingOps.purchaseLedger(
        spark.readStream.schema(schema).parquet(inDir)
          .as[StreamingOps.PurchaseEvent](org.apache.spark.sql.Encoders.product))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingOps.LedgerRow], _: Long) =>
          df.write.mode("append").parquet(out)
        }
        .start()
      def finalState(out: String) = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }.toSet

      writeDrop(Seq((7L, 1L, ts("2024-01-01 10:00:00"), 1.0),
        (7L, 2L, ts("2024-01-01 10:05:00"), 3.0),
        (8L, 3L, ts("2024-01-01 10:06:00"), 2.5)))
      val q1 = start(s"$root/out", s"$root/ckpt")
      q1.processAllAvailable(); q1.stop()
      // drop 2 lands while the pipeline is down
      writeDrop(Seq((7L, 4L, ts("2024-01-01 10:10:00"), 2.0),
        (7L, 5L, ts("2024-01-01 10:15:00"), 5.0),
        (9L, 6L, ts("2024-01-01 10:16:00"), 0.5)))
      val q2 = start(s"$root/out", s"$root/ckpt")
      q2.processAllAvailable(); q2.stop()
      val restarted = finalState(s"$root/out")
      assert(restarted.contains((7L, 4L, 1100L, 3L, 500L)),
        s"user 7's ledger must fold drop 2 onto RECOVERED state: $restarted")
      // ... and the interrupted run's final state equals an uninterrupted
      // query over the same files on a fresh checkpoint
      val q3 = start(s"$root/out_ctl", s"$root/ckpt_ctl")
      q3.processAllAvailable(); q3.stop()
      assert(restarted == finalState(s"$root/out_ctl"),
        "stop/restart must converge to the uninterrupted run's final state")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState ledger batch twin: hand-computed record counts") {
    val events = Seq(
      // user 7: 1.00 R, 3.00 R, 2.00 -, 5.00 R  (ts order, not input order)
      (4L, ts("2024-01-01 10:15:00"), 7L, "purchase", 5.0, "{}"),
      (1L, ts("2024-01-01 10:00:00"), 7L, "purchase", 1.0, "{}"),
      (2L, ts("2024-01-01 10:05:00"), 7L, "purchase", 3.0, "{}"),
      (3L, ts("2024-01-01 10:10:00"), 7L, "purchase", 2.0, "{}"),
      // user 8: one purchase; views must be ignored
      (5L, ts("2024-01-01 11:00:00"), 8L, "purchase", 2.5, "{}"),
      (6L, ts("2024-01-01 11:01:00"), 8L, "view", 9.9, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[StreamingOps.PurchaseEvent](org.apache.spark.sql.Encoders.product)
    val out = StreamingOps.purchaseLedger(purchases).collect()
      .map(l => (l.user_id, l.n_purchases, l.total_cents, l.record_count, l.last_cents))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (7L, 4L, 1100L, 3L, 500L),
      (8L, 1L, 250L, 1L, 250L)))
  }

  test("state log under TWO concurrent StreamingQueries: unique dense gen_ids, " +
    "every batch applied exactly once, final state equals scratch (VERDICT r12 task 6)") {
    // The PipelineSpec race test calls ingestBatch directly from raced
    // threads; this drives the SAME log from two real foreachBatch sinks
    // — two MemoryStream queries whose micro-batch threads interleave
    // under the actual streaming scheduler, exercising the optimistic
    // commit-abort/retry path in situ. The two streams share the log but
    // own DISJOINT operation-id spaces (200 + 2·batchId / 201 + 2·batchId)
    // — the caller contract for multi-writer ingest, since the replay-skip
    // key is the operation id. All four batches are mutually inert
    // (disjoint vocabularies), so every interleaving lands on one state.
    import graft.sources.{SnapshotStateSink, StateLog}
    import graft.pipeline.{Curation, Dedup}
    import HotBucketFixture.{aDocs, bDocs}
    implicit val sqlCtx = spark.sqlContext
    def docsDf(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")

    val oldDocs = docsDf(aDocs).localCheckpoint()
    val st = SnapshotStateSink.write(spark, oldDocs, lit(false), lit(true))
    val ref = StateLog.fromSnapshot(spark, st, StateLog.writeCorpusStore(spark, oldDocs))

    val enRows = Seq(
      (5000L, "astronomers chart distant quasars from desert observatories", "en", "src", 60L),
      (5001L, "beekeepers inspect humming hives during clover bloom", "en", "src", 52L),
      (5002L, "cartographers trace meandering rivers onto vellum charts", "en", "src", 57L))
    val frRows = Seq(
      (4000L, "alpinistes gravissent aretes glacees avant aube claire", "fr", "src", 55L),
      (4001L, "apiculteurs recoltent miel dore des ruches provencales", "fr", "src", 55L),
      (4002L, "potiers tournent argile rouge pres du four ancien", "fr", "src", 50L))
    val fr2Rows = Seq(
      (6000L, "luthiers vernissent violoncelles dans ateliers silencieux", "fr", "src", 58L),
      (6001L, "meuniers moulent farine fraiche sous aile tournante", "fr", "src", 52L))
    val aBatches = Seq(bDocs, enRows)   // query A: batchId 0, 1
    val bBatches = Seq(frRows, fr2Rows) // query B: batchId 0, 1
    def opA(batchId: Long) = 200L + 2L * batchId
    def opB(batchId: Long) = 201L + 2L * batchId

    // expected survivors, each against the BASE state (mutual inertness:
    // no batch shares hashes or band keys with another, so no commit
    // changes another batch's gates, whatever the interleaving)
    val (h0, _, _, _) = StateLog.views(spark, ref)
    val eb0 = StateLog.effectiveBand(spark, ref)
    val expect = (aBatches ++ bBatches).map { rows =>
      val docs = oldDocs.withColumn("is_new", lit(false))
        .unionByName(docsDf(rows).withColumn("is_new", lit(true)))
      Curation.deltaSurvivorsFromState(docs, col("is_new"), h0, eb0,
        spark.table(st.testVocab), spark.table(st.mixRates)).localCheckpoint()
    }

    // two foreachBatch sinks over ONE log, each using the SELF-CONTAINED
    // ingest (the corpus store resolves from the log under concurrency too)
    val applied = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
    val memA = MemoryStream[(Long, String, String, String, Long)]
    val memB = MemoryStream[(Long, String, String, String, Long)]
    def sink(mem: MemoryStream[(Long, String, String, String, Long)],
        op: Long => Long) =
      mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val b = batch.localCheckpoint()
          applied.put(op(batchId),
            StateLog.ingestBatch(spark, ref, st, b, op(batchId))): Unit
        }
        .start()
    val qA = sink(memA, opA)
    val qB = sink(memB, opB)
    // per round: enqueue BOTH streams, then drain — the two micro-batch
    // threads hold runnable work at once and their commits interleave
    // (draining between rounds keeps MemoryStream from coalescing a
    // query's two rounds into one micro-batch)
    memA.addData(aBatches(0)); memB.addData(bBatches(0))
    qA.processAllAvailable(); qB.processAllAvailable()
    memA.addData(aBatches(1)); memB.addData(bBatches(1))
    qA.processAllAvailable(); qB.processAllAvailable()
    qA.stop(); qB.stop()

    val ops = Seq(opA(0), opA(1), opB(0), opB(1))
    assert(applied.keySet().size == 4 && ops.forall(applied.get(_)),
      s"every micro-batch must report applied, got $applied")
    val manifest = spark.table(ref.manifest).distinct().collect()
    assert(manifest.map(_.getLong(0)).toSeq.sorted == Seq(0L, 1L, 2L, 3L, 4L),
      s"gen_ids must be unique and dense, got ${manifest.map(_.getLong(0)).toSeq.sorted}")
    assert(manifest.map(_.getLong(1)).toSet == Set(-1L) ++ ops,
      "all four batch commits must be present exactly once — no lost update")
    // a replay of a committed batch through the same surface is skipped
    assert(!StateLog.ingestBatch(spark, ref, st, docsDf(aBatches(0)), opA(0)),
      "a committed batch id must stay skipped")

    // final state ≡ scratch over (old ∪ all four survivor sets)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val pop = expect.foldLeft(oldDocs.select(cols.head, cols.tail: _*)) {
      (acc, s) => acc.unionByName(s.select(cols.head, cols.tail: _*)) }
    assert(pop.count() > oldDocs.count(),
      "the gates must admit some streamed docs — fixture load-bearing")
    val (sh, sb, _) = Dedup.indexBuildFrames(pop, lit(false))
    def sameSet(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, s"$what diverged")
    val (hashV, _, _, _) = StateLog.views(spark, ref)
    sameSet(hashV, sh, "hash view after two concurrent streams vs scratch")
    sameSet(StateLog.effectiveBand(spark, ref).select("band", "band_key", "doc_id"),
      sb.select("band", "band_key", "doc_id"),
      "effective band after two concurrent streams vs scratch")
    sameSet(StateLog.corpus(spark, ref), pop,
      "log-resolved corpus after two concurrent streams vs scratch")
  }
}
