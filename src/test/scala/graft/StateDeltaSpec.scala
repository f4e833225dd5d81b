package graft

import org.apache.spark.sql.DataFrame

import graft.pipeline.Dedup
import graft.sources.SnapshotStateSink

/** [[SnapshotStateSink.deltaFacts]] — the new-hash and guard-update math
  * the snapshot advance and the state log's ingest share — on hand-built
  * rows: one stored state, one batch, every fact checked by value. */
class StateDeltaSpec extends SparkSpec {

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  private lazy val facts: (DataFrame, DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val cap = Dedup.maxBucket
    // survivors: 1 carries stored content, 2 and 5 share new content, 4
    // has no text; batch doc 3 was gated out (a band row, no survivor row)
    val survivors = Seq[(Long, String)]((1L, "alpha"), (2L, "beta"), (4L, null),
      (5L, "beta")).toDF("doc_id", "text")
    val batchBands = Seq(
      (1L, 0, "hot"),     // stored at the cap: one more row pushes it past
      (2L, 1, "stopped"), // already stop-listed, far past the cap
      (5L, 2, "cool"),    // well under the cap
      (3L, 3, "edge")     // at the cap, but its only batch row is gated out
    ).toDF("doc_id", "band", "band_key")
    def stored(band: Int, key: String, n: Int) =
      (1 to n).map(i => (band, key, 1000L * (band + 1) + i))
    val bandRaw = (stored(0, "hot", cap) ++ stored(1, "stopped", cap + 10) ++
      stored(2, "cool", 3) ++ stored(3, "edge", cap)).toDF("band", "band_key", "doc_id")
    val hashIdx = Seq(md5("alpha"), md5("stored-only")).toDF("h")
    val stop = Seq((1, "stopped")).toDF("band", "band_key")
    SnapshotStateSink.deltaFacts(survivors, batchBands, hashIdx, bandRaw, stop)
  }

  private def hot: Set[(Int, String)] =
    facts._3.collect().map(r => (r.getInt(0), r.getString(1))).toSet

  test("deltaFacts: a bucket the batch pushes past maxBucket becomes newly hot") {
    assert(hot.contains((0, "hot")))
    assert(!hot.contains((2, "cool")))
    assert(!hot.contains((3, "edge")), "a gated-out batch row must not count")
  }

  test("deltaFacts: a bucket already on the stop list is not added again") {
    assert(hot == Set((0, "hot")))
  }

  test("deltaFacts: a survivor hash already stored is not new; shared new content adds one hash") {
    assert(facts._1.collect().map(_.getString(0)).toSeq == Seq(md5("beta")))
  }

  test("deltaFacts: a NULL-text survivor adds no hash; only survivors' band rows are kept") {
    assert(facts._1.filter("h IS NULL").count() == 0)
    assert(facts._2.columns.toSeq == Seq("band", "band_key", "doc_id"))
    assert(facts._2.collect().map(_.getLong(2)).toSet == Set(1L, 2L, 5L))
  }
}
