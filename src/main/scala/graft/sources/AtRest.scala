package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

/** The one at-rest writer of the state family (curated sink, dedup index,
  * snapshot sink, state log): the data-source write path is the one place
  * a stored table's id, directory and layout are decided.
  *
  *  - the id: [[nextId]], pid + a process-wide counter, so concurrent
  *    plans — parallel suites in one JVM, or several JVMs sharing a
  *    root — never race on a name or a directory;
  *  - the path rule: an external table `name` lives at `<root>/<name>`,
  *    the root being `java.io.tmpdir` or, for a state log's tables, the
  *    log's own root (the manifest directory's parent, [[StateLog]]);
  *  - the layer layouts: each index layer is bucketed and sorted on its
  *    probe key, and the SAME [[Layout]] creates a layer table and appends
  *    to it, so an append can never land in a different bucket spec.
  */
object AtRest {

  private val seq = new AtomicLong()

  /** A process-unique id for a table name, sink directory or file nonce. */
  def nextId(): String = s"${ProcessHandle.current().pid()}_${seq.incrementAndGet()}"

  /** The default root, read at call time (a main may re-point it
    * per run). */
  def tmpRoot: String = sys.props("java.io.tmpdir")

  /** `buckets` buckets on `key`, each sorted by `sort`, under optional
    * `partition` directories. */
  final case class Layout(buckets: Int, key: String, sort: Seq[String],
      partition: Seq[String] = Nil)

  private def keyed(key: String) = Layout(DedupIndexSink.Buckets, key, Seq(key))

  /** The exact layer: content hashes bucketed on `h`. */
  val Hash: Layout = keyed("h")
  /** The near layer: band rows bucketed on `band_key`. */
  val Band: Layout = keyed("band_key")
  /** The snapshot's test-split vocabulary, bucketed on `sg`. */
  val TestVocab: Layout = keyed("sg")

  private def writer(df: DataFrame, mode: String,
      layout: Option[Layout]): DataFrameWriter[Row] = {
    val w = df.write.mode(mode)
    layout.fold(w) { l =>
      (if (l.partition.isEmpty) w else w.partitionBy(l.partition: _*))
        .bucketBy(l.buckets, l.key).sortBy(l.sort.head, l.sort.tail: _*)
    }
  }

  /** Writes `df` as the external table `name` at `<root>/<name>`,
    * replacing any previous content; returns `name`. */
  def save(df: DataFrame, name: String, layout: Option[Layout] = None,
      root: String = tmpRoot): String =
    saveAt(df, name, new org.apache.hadoop.fs.Path(root, name).toString, layout)

  /** [[save]] at an explicit directory: only a state log's manifest uses
    * it, whose directory is `<root>/<name>_manifest` (its claim markers
    * sit beside it in `<name>_manifest_claims`). */
  private[sources] def saveAt(df: DataFrame, name: String, dir: String,
      layout: Option[Layout] = None): String = {
    writer(df, "overwrite", layout).option("path", dir).saveAsTable(name)
    name
  }

  /** Appends `df` to the existing table `name`, under the layout it was
    * created with. */
  def append(df: DataFrame, name: String, layout: Option[Layout] = None): Unit =
    writer(df, "append", layout).saveAsTable(name)
}
