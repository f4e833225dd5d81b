package graft.api

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The reference's HTTP query surface
  * (`GET /api/produits/?type=...&catID=...`), re-expressed as a typed
  * service: a sealed `QueryType` ADT replaces the string-keyed QUERY_MAP
  * (views.py:9-89), `Params` replaces raw GET params, and errors are typed
  * values mirroring the reference's status codes —
  * unknown type → 400 (views.py:113-114), missing param → 400
  * (views.py:143-145), missing database → 404 (views.py:92-96), empty
  * top-10 → 404 (views.py:122-123, 133-134).
  *
  * Queries are parameterized HERE (typed, injected as Column literals — no
  * string interpolation into SQL, fixing the reference's injection-by-
  * construction B3, views.py:143). The frozen-parameter t2 variants in
  * [[graft.retail.RetailQueries]] remain the oracle-checked contract; this
  * layer drives the same plan shapes with caller-supplied parameters.
  *
  * Serving snapshot: every query type plans over one served copy of the
  * data per (session, dir) — the `Tables.pdv` join, materialized with
  * `localCheckpoint()` (executor block-manager memory, spilling to local
  * disk; about 71 MB at sf0.1), and `produits` as a projection of it. The
  * first request to a dataset builds it (the two parquet schema
  * resolutions, one scan-and-join job); later requests plan against
  * memory, with no parquet resolution or scan. Each request still probes
  * the file statuses of `lineitem.parquet` and `part.parquet` (a
  * filesystem call, no Spark job): a missing source is the 404, and the
  * statuses are part of the snapshot key, so a deleted or rewritten
  * dataset is never served stale — the next request re-resolves it and
  * the superseded snapshot is dropped. A failed build is not memoized.
  * Snapshots live in a [[graft.pipeline.PlanMemo]], so they are dropped
  * when their SparkContext stops. No `.cache()`: a CacheManager entry
  * would substitute the frame into every `Tables.pdv` plan of the session.
  */
object QueryService {

  sealed trait QueryType
  object QueryType {
    case object Cat extends QueryType
    case object MagCat extends QueryType
    case object FabCat extends QueryType
    case object AvgProdPerFab extends QueryType
    case object TopMagasins extends QueryType
    case object TopMagasinsCat extends QueryType
    case object NbMagCatDate extends QueryType
    case object ScoreEvolution extends QueryType
    case object Top1 extends QueryType
    case object AvgCatFab10Mag extends QueryType
    case object ScoreSanteTousLesMois extends QueryType

    /** Dispatch table mirroring QUERY_MAP keys + the three special-cased
      * types (views.py:113). */
    val byName: Map[String, QueryType] = Map(
      "cat" -> Cat, "mag-cat" -> MagCat, "fab-cat" -> FabCat,
      "avg-prod-per-fab" -> AvgProdPerFab, "top-magasins" -> TopMagasins,
      "top-magasins-cat" -> TopMagasinsCat, "nb-mag-cat-date" -> NbMagCatDate,
      "score-evolution" -> ScoreEvolution, "top-1" -> Top1,
      "avg-cat-fab-10-mag" -> AvgCatFab10Mag,
      "score-sante-touts-les-mois" -> ScoreSanteTousLesMois)
  }

  /** Raw request parameters (all optional, like GET params). `limit` caps
    * the row-slice endpoints (today: `cat`, the one type whose result is a
    * filtered TABLE SLICE rather than an aggregate/top-k — see
    * [[DefaultRowCap]]); absent means the documented default cap.
    * `malformed` holds, by name, raw values that did not parse into their
    * typed field: a type that needs such a field reports `InvalidParam`
    * with the raw value, not `MissingParam`. */
  final case class Params(
      catId: Option[String] = None,
      fabId: Option[String] = None,
      annee: Option[Int] = None,
      debut: Option[String] = None,
      fin: Option[String] = None,
      asOf: Option[String] = None,
      limit: Option[Int] = None,
      malformed: Map[String, String] = Map.empty)

  /** Default row cap on the slice endpoints (VERDICT r15 task 6): the
    * reference's `cat` endpoint serializes the WHOLE filtered slice
    * (views.py:152-154) — fine at reference scale, where a category is
    * hundreds of rows, but unbounded at 100 TB: the collect in [[toJson]]
    * would be fact-sized. The cap bounds the driver-side materialization;
    * it is far above any reference-scale slice (behavior there is
    * unchanged), and a caller that wants a different page size passes
    * `limit` explicitly. */
  val DefaultRowCap: Int = 10000

  sealed trait ApiError { def status: Int; def message: String }
  object ApiError {
    /** views.py:113-114 */
    final case class UnknownQueryType(name: String) extends ApiError {
      val status = 400; val message = s"Type de requête inconnu: $name"
    }
    /** views.py:143-145 */
    final case class MissingParam(name: String) extends ApiError {
      val status = 400; val message = s"Paramètre manquant: $name"
    }
    /** typed replacement for what the reference would 500 on */
    final case class InvalidParam(name: String, value: String) extends ApiError {
      val status = 400; val message = s"Paramètre invalide: $name=$value"
    }
    /** views.py:92-96 */
    final case class NotFound(what: String) extends ApiError {
      val status = 404; val message = s"$what non trouvée"
    }
    /** views.py:122-123 — empty phase-1 result in a composite */
    final case class EmptyResult(detail: String) extends ApiError {
      val status = 404; val message = detail
    }
    /** typed 500: a genuine engine defect (bad plan, codegen failure) must
      * surface as itself, never be masked as a missing database. */
    final case class Internal(detail: String) extends ApiError {
      val status = 500; val message = s"Erreur interne: $detail"
    }
  }
  import ApiError._
  import QueryType._

  /** Entry point mirroring `api_produits_filtre`: resolve the type string,
    * check the data source exists, validate params, build the plan over the
    * dataset's serving snapshot. */
  def run(spark: SparkSession, dir: String, typeName: String, p: Params): Either[ApiError, DataFrame] =
    for {
      qt <- QueryType.byName.get(typeName).toRight(UnknownQueryType(typeName))
      pdv <- snapshot(spark, dir)
      // a failure while planning over the snapshot is a defect (planner
      // bug, codegen error, NPE): a typed 500, never masked as a missing
      // database
      df <- Try(build(spark, pdv, qt, p)).toEither.left
        .map(mapBuildFailure)
        .flatMap(identity)
    } yield df

  /** Failure taxonomy for plan building: only missing-source analysis
    * errors map to the reference's 404 (views.py:92-96); anything else is a
    * defect and reports as a typed 500. */
  private[graft] def mapBuildFailure(e: Throwable): ApiError = e match {
    case a: org.apache.spark.sql.AnalysisException
        if Option(a.getCondition).exists(c =>
          c.startsWith("PATH_NOT_FOUND") || c.startsWith("TABLE_OR_VIEW_NOT_FOUND")) =>
      NotFound("Base de données")
    case other => Internal(other.toString.take(200))
  }

  /** (path, length, modification time) of every file and directory under
    * a dataset's two pdv sources. */
  private final case class SnapshotKey(dir: String, stamp: Seq[(String, Long, Long)])

  private val snapshots = new graft.pipeline.PlanMemo[Either[ApiError, DataFrame]]

  /** Snapshot builds run so far, failed ones included — the observable of
    * the build-once rule. */
  private[graft] def snapshotBuilds: Long = snapshots.misses.get

  /** The dataset's snapshot (its materialized pdv), built on first use of
    * its current file statuses. Superseded snapshots of the same dir are
    * dropped, and a failed build is evicted so the next request retries it. */
  private def snapshot(spark: SparkSession, dir: String): Either[ApiError, DataFrame] =
    sourceStamp(spark, dir).flatMap { stamp =>
      val key = SnapshotKey(dir, stamp)
      snapshots.evict(spark) {
        case SnapshotKey(`dir`, s) => s != stamp
        case _ => false
      }
      val got = snapshots.at(spark, key)(materialize(spark, dir))
      if (got.isLeft) snapshots.evict(spark)(_ == key)
      got
    }

  /** S8 — db existence check (views.py:92-96), as a typed error: both pdv
    * sources must exist. A filesystem status walk, no Spark job. */
  private def sourceStamp(spark: SparkSession, dir: String): Either[ApiError, Seq[(String, Long, Long)]] =
    Try {
      val conf = spark.sessionState.newHadoopConf()
      Seq("lineitem", "part").flatMap { t =>
        val path = new Path(s"$dir/$t.parquet")
        val fs = path.getFileSystem(conf)
        statuses(fs, fs.getFileStatus(path))
      }
    }.toEither.left.map(_ => NotFound("Base de données"))

  private def statuses(fs: FileSystem, s: FileStatus): Seq[(String, Long, Long)] =
    (s.getPath.toString, s.getLen, s.getModificationTime) +:
      (if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(statuses(fs, _)) else Nil)

  /** Resolve both sources (unreadable ones are the 404, as a missing one
    * is) and materialize their join. */
  private def materialize(spark: SparkSession, dir: String): Either[ApiError, DataFrame] =
    for {
      sources <- Try((Tables.load(spark, dir, "lineitem"), Tables.load(spark, dir, "part")))
        .toEither.left.map(_ => NotFound("Base de données"))
      pdv <- Try(Tables.pdvOf(sources._1, sources._2).localCheckpoint())
        .toEither.left.map(mapBuildFailure)
    } yield pdv

  /** Absent as-of defaults to today, matching the reference's
    * `date.today()` (views.py:128). The frozen t2 oracle variants in
    * [[graft.retail.RetailQueries]] pass an explicit date and stay
    * deterministic. */
  private def defaultAsOf: String = java.time.LocalDate.now().toString

  private def parseDate(v: String, name: String): Either[ApiError, java.time.LocalDate] =
    Try(java.time.LocalDate.parse(v)).toEither.left.map(_ => InvalidParam(name, v))

  private def build(spark: SparkSession, pdv: DataFrame, qt: QueryType, p: Params): Either[ApiError, DataFrame] = {
    val produits = pdv.select("dateid", "prodid", "catid", "fabid")
    def need[A](v: Option[A], name: String): Either[ApiError, A] =
      v.toRight(p.malformed.get(name).fold[ApiError](MissingParam(name))(InvalidParam(name, _)))
    qt match {
      case Cat => for {
        c <- need(p.catId, "catID")
        cap <- p.limit match {
          case Some(n) if n <= 0 => Left(InvalidParam("limit", n.toString))
          case other => Right(other.getOrElse(DefaultRowCap))
        }
      } yield produits.filter(col("catid") === c).limit(cap)

      case MagCat => need(p.catId, "catID").map(c =>
        pdv.filter(col("catid") === c)
          .agg(countDistinct(col("magid")).as("total_magasins")))

      case FabCat => need(p.catId, "catID").map(c =>
        produits.filter(col("catid") === c)
          .agg(countDistinct(col("fabid")).as("total_fabricants")))

      case AvgProdPerFab => for {
        c <- need(p.catId, "catID"); d <- need(p.debut, "debut"); f <- need(p.fin, "fin")
      } yield produits
        .filter(col("catid") === c && col("dateid").between(d, f))
        .groupBy("fabid").agg(countDistinct(col("prodid")).as("product_count"))
        .agg(avg(col("product_count")).as("avg_products_per_fab"))

      case TopMagasins => for {
        d <- need(p.debut, "debut"); f <- need(p.fin, "fin")
      } yield topMagasins(pdv, d, f)

      case TopMagasinsCat => for {
        c <- need(p.catId, "catID"); d <- need(p.debut, "debut"); f <- need(p.fin, "fin")
      } yield topMagasinsCat(pdv, c, d, f)

      case NbMagCatDate => for {
        c <- need(p.catId, "catID"); a <- need(p.annee, "annee")
      } yield pdv
        .filter(col("catid") === c && year(col("dateid")) === a)
        .groupBy(date_format(col("dateid"), "yyyy-MM").as("mois"))
        .agg(countDistinct(col("magid")).as("nbmag"))
        .orderBy("mois")

      case ScoreEvolution => for {
        c <- need(p.catId, "catID"); fab <- need(p.fabId, "fabID")
        asOf <- parseDate(p.asOf.getOrElse(defaultAsOf), "asOf")
      } yield pdv
        .filter(col("catid") === c && col("dateid").between("1995-01-01", asOf.toString))
        .groupBy(date_format(col("dateid"), "yyyy-MM").as("mois"))
        .agg(count(lit(1)).as("total_ventes"),
          sum(when(col("fabid") === fab, 1).otherwise(0)).as("ventes_fab"))
        .withColumn("score_sante", coalesce(
          col("ventes_fab") * lit(100.0) /
            when(col("total_ventes") === 0, lit(null)).otherwise(col("total_ventes")),
          lit(0.0)))
        .orderBy("mois")

      case Top1 => for {
        c <- need(p.catId, "catID"); d <- need(p.debut, "debut"); f <- need(p.fin, "fin")
        // phase 1 materialized ONCE (≤10 ids): the guard reads the collected
        // seq (no second Spark action) and phase 2 joins the literal frame
        tops = graft.retail.RetailQueries.collectTop10Magids(pdv, d, f)
        _ <- nonEmpty(tops, "Aucun magasin trouvé pour cette catégorie")
      } yield {
        import spark.implicits._
        pdv
          .filter(col("catid") === c)
          .join(broadcast(tops.toDF("magid")), Seq("magid"), "left_semi")
          .groupBy("magid")
          .agg(countDistinct(col("fabid")).as("total_fabricants"),
            countDistinct(col("prodid")).as("total_produits"),
            count(lit(1)).as("total_ventes"))
          .withColumn("score",
            col("total_produits") * 0.3 + col("total_ventes") * 0.6 + col("total_fabricants") * 0.1)
          .orderBy(col("score").desc, col("magid").asc)
          .limit(1)
      }

      case AvgCatFab10Mag => for {
        c <- need(p.catId, "catID"); fab <- need(p.fabId, "fabID")
        d <- need(p.debut, "debut"); f <- need(p.fin, "fin")
        top = graft.retail.RetailQueries.collectTop10Cat(pdv, c, d, f)
        _ <- nonEmpty(top, "Aucun magasin trouvé pour cette catégorie")
      } yield graft.retail.RetailQueries.avgFabTop10From(pdv, top, c, fab)

      case ScoreSanteTousLesMois => for {
        c <- need(p.catId, "catID"); fab <- need(p.fabId, "fabID")
        asOf <- parseDate(p.asOf.getOrElse(defaultAsOf), "asOf")
        top = graft.retail.RetailQueries.collectTop10Cat(pdv, c, "1995-01-01", asOf.toString)
        _ <- nonEmpty(top, "Aucun magasin trouvé pour cette catégorie")
      } yield graft.retail.RetailQueries.scoreSanteMonthsFrom(
        spark, pdv, top, c, fab, java.time.LocalDate.parse("1995-01-01"), asOf)
    }
  }

  /** Empty-result guard for composites (views.py:122-123, 133-134), over
    * the already-collected ≤10-row phase-1 result — zero extra Spark jobs. */
  private def nonEmpty(rows: Seq[_], detail: String): Either[ApiError, Unit] =
    if (rows.isEmpty) Left(EmptyResult(detail)) else Right(())

  // one implementation of the weighted top-10s, shared with the frozen t2
  // variants (graft.retail.RetailQueries) — no drift
  private def topMagasins(pdv: DataFrame, debut: String, fin: String): DataFrame =
    graft.retail.RetailQueries.topMagasins(pdv, debut, fin)

  private def topMagasinsCat(pdv: DataFrame, cat: String, debut: String, fin: String): DataFrame =
    graft.retail.RetailQueries.topMagasinsCat(pdv, cat, debut, fin)

  /** S7 — JSON result envelope (views.py:152-154): records-style JSON
    * strings. Driver-side collect is bounded: every QueryType's result is
    * top-k / aggregate-sized EXCEPT `cat`, whose table-slice result is
    * bounded by [[DefaultRowCap]] (or the caller's `limit`) instead
    * (VERDICT r15 task 6). */
  def toJson(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq

  // Composite envelope shapes, mirroring the reference:
  //   {"average": x, "top_mag": [{magID, total_produits, nb_produits_fab,
  //    percentage}]}                                    (views.py:251-254)
  //   {"average": x, "top_mag": [{mois_annee, avg_percentage}]}
  //                                                     (views.py:336-339)
  // All fields are numbers or "yyyy-MM" strings — nothing needs JSON
  // escaping, so the bodies are built directly below.

  /** Full response body for a query type: the two composites return the
    * reference's `{"average", "top_mag"}` envelope object, serialized
    * driver-side (the one envelope is an in-memory case class — routing it
    * through a Spark Dataset job just to JSON-encode it would add a plan +
    * scheduling round-trip per HTTP request); everything else returns a
    * records JSON array straight from `toJson` (views.py:152-154). */
  def runJson(spark: SparkSession, dir: String, typeName: String, p: Params): Either[ApiError, String] =
    run(spark, dir, typeName, p).map { df =>
      QueryType.byName(typeName) match {
        case AvgCatFab10Mag =>
          val rows = df.collect()
          val avg = if (rows.isEmpty) 0.0 else rows.head.getAs[Double]("average")
          val entries = rows.map(r =>
            s"""{"magID":${r.getAs[Long]("magid")}""" +
            s""","total_produits":${r.getAs[Long]("total_produits")}""" +
            s""","nb_produits_fab":${r.getAs[Long]("nb_produits_fab")}""" +
            s""","percentage":${r.getAs[Double]("percentage")}}""")
          s"""{"average":$avg,"top_mag":[${entries.mkString(",")}]}"""
        case ScoreSanteTousLesMois =>
          val rows = df.collect()
          val avg = if (rows.isEmpty) 0.0 else rows.head.getAs[Double]("average")
          val entries = rows.map(r =>
            s"""{"mois_annee":"${r.getAs[String]("mois_annee")}"""" +
            s""","avg_percentage":${r.getAs[Double]("avg_percentage")}}""")
          s"""{"average":$avg,"top_mag":[${entries.mkString(",")}]}"""
        case _ => toJson(df).mkString("[", ",", "]")
      }
    }
}
