package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.sources.{DedupIndexSink, SnapshotStateSink, StateDrills, StateLog}

/** The state family's at-rest layouts as the catalog records them, and
  * the eq154 vacuum drill over a batch that leaves its delta's bucketed
  * layers without a file. sf0.001; the tables land under the test JVM's
  * `java.io.tmpdir`. */
class AtRestSpec extends SparkSpec {

  private def root: String = sys.props("java.io.tmpdir")

  /** `t` is bucketed 8 ways on `key`, sorted by `key`, and lives at
    * `<root>/<t>`. */
  private def assertLayer(t: String, key: String): Unit = {
    val m = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
    val spec = m.bucketSpec.getOrElse(fail(s"$t is not bucketed"))
    assert(spec.numBuckets == 8 && spec.bucketColumnNames == Seq(key) &&
      spec.sortColumnNames == Seq(key), s"$t: $spec")
    val want = new Path(root, t)
    val fs = want.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.makeQualified(new Path(m.location)) == fs.makeQualified(want),
      s"$t lives at ${m.location}, not $want")
  }

  private def assertIndex(hash: String, band: String): Unit = {
    assertLayer(hash, "h")
    assertLayer(band, "band_key")
  }

  test("every hash and band table is bucketed 8 ways on its key and lives at <root>/<name>: " +
    "index write and compaction, snapshot advance, log delta, repack and fold") {
    val docs = Tables.load(spark, Sf, "documents")
    val st = SnapshotStateSink.write(spark, docs)
    assertIndex(st.index.hash, st.index.band)
    // advance appends into the written tables: an append under another
    // bucket spec would fail, and the catalog keeps the create-time spec
    val adv = SnapshotStateSink.advance(spark, docs, st)
    assertIndex(adv.index.hash, adv.index.band)
    val c = DedupIndexSink.compact(spark, adv.index)
    assert(c.hash != adv.index.hash && c.band != adv.index.band)
    assertIndex(c.hash, c.band)

    val st2 = SnapshotStateSink.write(spark, docs)
    val ref = StateLog.fromSnapshot(spark, st2,
      StateLog.writeCorpusStore(spark, docs.filter(DedupIndexSink.isOldCol)))
    assert(StateLog.ingestBatch(spark, ref, st2, docs.filter(DedupIndexSink.isNewCol), 0L))
    assert(StateLog.repackLog(spark, ref, 1L))
    StateLog.compactLog(spark, ref)
    spark.catalog.refreshTable(ref.manifest)
    val gens = spark.table(ref.manifest).select("kind", "hash_tbl", "band_tbl").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(gens.map(_._1).sorted.toSeq == Seq("base", "delta", "fold", "repack"),
      gens.mkString(", "))
    gens.foreach { case (_, h, b) => assertIndex(h, b) }
  }

  test("eq154: a batch that adds no hash still bounds the as-of reader after the vacuum") {
    // every batch doc carries an indexed doc's text: the batch adds no
    // hash and no band row, so the delta's bucketed hash and band tables
    // hold no file — a reader of those layers alone lists nothing the
    // vacuum can take (the sf0.1 shape)
    val docs = Tables.load(spark, Sf, "documents")
    val oldText = docs.filter(DedupIndexSink.isOldCol && col("text").isNotNull)
      .orderBy("doc_id").select("text").head().getString(0)
    val dir = s"$root/graft_eq154_dupbatch"
    docs.withColumn("text",
        when(DedupIndexSink.isNewCol, lit(oldText)).otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val items = StateDrills.eq154(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(items("vacuumed_young") == 0 && items("vacuumed_aged") == 5 &&
      items("asof1_live") == 1 && items("replay_skipped") == 1, items)
    assert(items("asof1_guarded_bounded") == 1, items)
  }
}
