package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Loads the driver parquet fixtures (TESTDATA.md) and builds the
  * reference-schema retarget views declared in SURVEY.md §2.9:
  *
  *   pdv(dateid, prodid, catid, fabid, magid)  ≙ points_de_vente
  *     (reference /root/reference/etl_project/data.py:30-38)
  *   produits(dateid, prodid, catid, fabid)    ≙ produits
  *     (reference /root/reference/etl_project/data.py:21-28)
  *
  * realized as `lineitem ⋈ part ON l_partkey = p_partkey`. The join is left
  * to Catalyst/AQE to plan: at test scale `part` is far under the broadcast
  * threshold so it becomes a BroadcastHashJoin; at 100 TB scale AQE would
  * pick a shuffled hash join on the same declarative plan — we deliberately
  * do not force a `broadcast()` hint here.
  */
object Tables {
  val base: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The events fixture stores ts as parquet INT64 with a TIMESTAMP logical
    * annotation whose unit has DRIFTED across fixture regenerations (NANOS
    * in older ones, MICROS in newer — a silent 1000× corruption when the
    * loader hard-codes one unit). Declaring ts as LongType reads the raw
    * INT64 regardless of annotation — no inference failure on NANOS, no
    * session-global `spark.sql.legacy.parquet.nanosAsLong` flag (which would
    * silently change how any OTHER nanos parquet in the same session reads)
    * — and the annotation's actual unit, sniffed once from one footer
    * (metadata-only, no data IO), picks the epoch→timestamp conversion. */
  private val eventsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))

  /** The at-rest epoch unit of an INT64 timestamp column. */
  sealed trait TsUnit
  case object TsNanos  extends TsUnit
  case object TsMicros extends TsUnit
  case object TsMillis extends TsUnit

  private val tsUnitCache = new scala.collection.concurrent.TrieMap[String, TsUnit]

  /** Sniff the parquet logical-type unit of `column` from the footer(s)
    * under `path` (file or directory — for a directory EVERY part file is
    * sniffed and must agree, so mixed-unit drift across part files fails
    * loudly instead of decoding half the rows with the wrong unit). Footer
    * reads are metadata-only. Fails loudly on anything other than an INT64
    * TIMESTAMP(NANOS|MICROS|MILLIS): a fixture-schema drift the engine
    * cannot interpret must stop the run, not corrupt every downstream
    * timestamp (a silent unit flip once cost 27 queries). A bare
    * INT64 with no annotation is disambiguated by magnitude: epoch-nanos
    * for 2024 ≈ 1.7e18, micros ≈ 1.7e15, millis ≈ 1.7e12 — three decades
    * apart, unambiguous for any date 1973–5138. */
  def tsUnit(spark: SparkSession, path: String, column: String = "ts"): TsUnit =
    tsUnitCache.getOrElseUpdate(s"$path#$column", {
      val conf = spark.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).toSeq.collect {
            case s if s.isFile && s.getPath.getName.endsWith(".parquet") => s.getPath
          }
        else Seq(p)
      require(files.nonEmpty, s"no parquet files under $path")
      val units = files.map(f => f -> tsUnitOfFile(conf, f, column))
      val distinct = units.map(_._2).distinct
      if (distinct.length > 1)
        throw new IllegalStateException(
          s"fixture drift: part files under $path disagree on '$column' epoch unit: " +
            units.map { case (f, u) => s"${f.getName}=$u" }.mkString(", "))
      distinct.head
    })

  /** One footer's verdict for [[tsUnit]]. Every unexpected shape — a
    * zero-row-group file, absent column statistics, a non-INT64 physical
    * type, a non-TIMESTAMP annotation — throws the explicit 'fixture drift'
    * message rather than an opaque NPE/IOOBE. */
  private def tsUnitOfFile(conf: org.apache.hadoop.conf.Configuration,
                           file: org.apache.hadoop.fs.Path,
                           column: String): TsUnit = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      require(schema.containsField(column),
        s"fixture drift: $file has no '$column' column (schema: $schema)")
      val field = schema.getType(Seq(column): _*)
      require(field.isPrimitive &&
        field.asPrimitiveType().getPrimitiveTypeName == PrimitiveTypeName.INT64,
        s"fixture drift: $file '$column' is ${field}, expected INT64 timestamp " +
          "(INT96/string/date encodings are not supported by this loader)")
      field.asPrimitiveType().getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.NANOS  => TsNanos
            case LogicalTypeAnnotation.TimeUnit.MICROS => TsMicros
            case LogicalTypeAnnotation.TimeUnit.MILLIS => TsMillis
          }
        case null =>
          // unannotated INT64: fall back to magnitude (see scaladoc)
          val blocks = reader.getFooter.getBlocks
          val max = blocks.asScala.iterator
            .flatMap(_.getColumns.asScala)
            .filter(_.getPath.toDotString == column)
            .flatMap(c => Option(c.getStatistics).flatMap(s => Option(s.genericGetMax)))
            .map(_.asInstanceOf[java.lang.Long].longValue)
            .reduceOption((a: Long, b: Long) => math.max(a, b))
            .getOrElse(throw new IllegalStateException(
              s"fixture drift: $file '$column' has no row-group statistics " +
                s"to infer epoch unit from (${blocks.size} row groups)"))
          if (math.abs(max) >= 100000000000000000L) TsNanos
          else if (math.abs(max) >= 100000000000000L) TsMicros
          else TsMillis
        case other =>
          throw new IllegalStateException(
            s"fixture drift: $file '$column' annotated $other, expected TIMESTAMP")
      }
    } finally reader.close()
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // Integer arithmetic only (`div`, never `/`): epoch-nanos ≈ 1.7e18
      // exceeds double's 2^53 exact range, so a double division would
      // silently corrupt timestamps.
      val conv = tsUnit(spark, s"$sfDir/$name.parquet") match {
        case TsNanos  => "timestamp_micros(ts div 1000)"
        case TsMicros => "timestamp_micros(ts)"
        case TsMillis => "timestamp_millis(ts)"
      }
      spark.read.schema(eventsSchema).parquet(s"$sfDir/$name.parquet")
        .withColumn("ts", org.apache.spark.sql.functions.expr(conv))
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** Fixture-schema drift guard. Metadata-only: asserts
    * every base table is readable with the expected column set and that
    * events.ts has an interpretable epoch unit. Call at session start (a
    * few footer reads) to fail fast with an explicit message instead of
    * producing 1000×-off timestamps query by query. */
  def validate(spark: SparkSession, sfDir: String): Unit = {
    val expected = Map(
      "region"     -> Set("r_regionkey", "r_name"),
      "nation"     -> Set("n_nationkey", "n_name", "n_regionkey"),
      "customer"   -> Set("c_custkey", "c_name", "c_nationkey"),
      "supplier"   -> Set("s_suppkey", "s_name", "s_nationkey"),
      "part"       -> Set("p_partkey", "p_type", "p_brand"),
      "orders"     -> Set("o_orderkey", "o_custkey", "o_orderdate"),
      "lineitem"   -> Set("l_orderkey", "l_partkey", "l_suppkey", "l_shipdate",
                          "l_quantity", "l_extendedprice", "l_discount"),
      "events"     -> Set("event_id", "ts", "user_id", "event_type", "value", "props"),
      "documents"  -> Set("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Set("vec_id", "embedding", "label"))
    val problems = base.flatMap { t =>
      try {
        val cols = load(spark, sfDir, t).schema.fieldNames.toSet
        val missing = expected(t) -- cols
        if (missing.nonEmpty) Some(s"$t: missing columns ${missing.mkString(", ")} (has ${cols.mkString(", ")})")
        else None
      } catch {
        case e: Exception => Some(s"$t: unreadable — ${e.getMessage}")
      }
    }
    require(problems.isEmpty,
      s"fixture drift under $sfDir:\n  ${problems.mkString("\n  ")}")
  }

  /** Register every base table plus the pdv/produits views as temp views.
    * Idempotent; cheap (metadata only — reads parquet footers, no data). */
  def register(spark: SparkSession, sfDir: String): Unit = {
    base.foreach(t => load(spark, sfDir, t).createOrReplaceTempView(t))
    pdv(spark, sfDir).createOrReplaceTempView("pdv")
    produits(spark, sfDir).createOrReplaceTempView("produits")
  }

  /** The fact view. Column pruning + filter pushdown reach the parquet scans
    * because this is a pure declarative plan (no action, no collect). */
  def pdv(spark: SparkSession, sfDir: String): DataFrame =
    pdvOf(load(spark, sfDir, "lineitem"), load(spark, sfDir, "part"))

  /** The one pdv join+projection, shared with the bucketed layout so the
    * column mapping cannot drift between the two physical strategies. */
  def pdvOf(li: DataFrame, pt: DataFrame): DataFrame =
    li.join(pt, li("l_partkey") === pt("p_partkey"))
      .select(
        li("l_shipdate").cast("date").as("dateid"),
        li("l_partkey").as("prodid"),
        pt("p_type").as("catid"),
        pt("p_brand").as("fabid"),
        li("l_suppkey").as("magid"))

  def produits(spark: SparkSession, sfDir: String): DataFrame =
    produitsOf(pdv(spark, sfDir))

  /** The produits projection of a pdv frame. */
  def produitsOf(pdv: DataFrame): DataFrame =
    pdv.select("dateid", "prodid", "catid", "fabid")
}
