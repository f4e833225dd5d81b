package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.LocalDate
import java.time.temporal.ChronoUnit
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.Tables
import graft.api.{HttpApi, QueryService}

/** `retail_api`: a closed loop of `cpus` HTTP clients against
  * `HttpApi.start` (the reference's one route, `GET /api/produits/`). Each
  * client sends its next request only when the previous reply has arrived.
  *
  * The request pool is drawn once, from the constant `PoolSeed`, so every
  * run sends the same requests; `--seed` only sets the order of each round.
  * The pool holds `PerType` requests of each of the 11 query types, with
  * parameter values drawn from the data's domains (read once during setup).
  * Every request carries an explicit `asOf`, and every value is URL-encoded
  * (`fabID` values hold `#`).
  *
  * Every reply is checked against `HashFile`: the status and the SHA-256 of
  * the body that a serial `QueryService.runJson` call gave for each pool
  * entry when the table was written (`run.py --golden retail`). A differing
  * reply, a status other than 200/404, or an exception is a failed request;
  * failed requests still count in the latency figures. Traced runs check
  * their serial in-process `runJson` calls against the same table. */
object RetailApi {

  final case class Req(typeName: String, params: Seq[(String, String)]) {
    def query: String = (("type" -> typeName) +: params)
      .map { case (k, v) => s"$k=${URLEncoder.encode(v, UTF_8)}" }.mkString("&")
    def p: QueryService.Params = {
      val m = params.toMap
      QueryService.Params(catId = m.get("catID"), fabId = m.get("fabID"),
        annee = m.get("annee").map(_.toInt), debut = m.get("debut"), fin = m.get("fin"),
        asOf = m.get("asOf"))
    }
    def composite: Boolean = Composites(typeName)
  }

  /** The types whose plan building runs a phase-1 collect. */
  val Composites = Set("top-1", "avg-cat-fab-10-mag", "score-sante-touts-les-mois")

  /** The seed of the request pool; fixed, so that runs differ only in order. */
  val PoolSeed = 1995L

  /** Requests per query type in the pool. One round of the pool takes 8 to
    * 16 s at four clients on a 4-vCPU VM, so a run sends one or two rounds. */
  val PerType = 2

  val HashFile = "perfbench/expected/retail_sf0.1.tsv"

  final case class Domains(cats: IndexedSeq[String], fabs: IndexedSeq[String],
      first: LocalDate, last: LocalDate)

  def domains(ctx: Ctx): Domains = {
    val spark = ctx.spark
    val part = Tables.load(spark, ctx.sfDir, "part")
    def distinct(c: String) =
      part.select(c).distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
    val span = Tables.load(spark, ctx.sfDir, "lineitem")
      .agg(min(col("l_shipdate").cast("date")), max(col("l_shipdate").cast("date"))).head()
    Domains(distinct("p_type"), distinct("p_brand"),
      span.getDate(0).toLocalDate, span.getDate(1).toLocalDate)
  }

  /** The request pool: `PerType` requests of each of the 11 types. Six
    * categories drawn from the domain take turns, so each one appears; every
    * brand slot gets another of the 25 brands; the first window is one month,
    * the second the full date span, the others are drawn in between; every
    * request has an explicit `asOf` inside the span. */
  def pool(d: Domains): IndexedSeq[Req] = {
    val rnd = new Random(PoolSeed)
    val six = rnd.shuffle(d.cats).take(6)
    val cats = Iterator.continually(six).flatten
    val fabs = rnd.shuffle(d.fabs).iterator
    val spanMonths = ChronoUnit.MONTHS.between(d.first, d.last).toInt
    val windowMonths = Iterator(1, spanMonths) ++ Iterator.continually(1 + rnd.nextInt(spanMonths))
    def cat = "catID" -> cats.next()
    def fab = "fabID" -> fabs.next()
    def window: Seq[(String, String)] = {
      val months = windowMonths.next()
      val start = d.first.plusMonths(rnd.nextInt(spanMonths - months + 1).toLong)
      val end = if (months == spanMonths) d.last else start.plusMonths(months.toLong)
      Seq("debut" -> start.toString, "fin" -> end.toString)
    }
    def annee = "annee" -> (d.first.getYear + rnd.nextInt(d.last.getYear - d.first.getYear + 1)).toString
    def asOf = "asOf" ->
      d.first.plusDays(1L + rnd.nextInt((d.last.toEpochDay - d.first.toEpochDay).toInt)).toString
    val types: Seq[(String, () => Seq[(String, String)])] = Seq(
      "cat" -> (() => Seq(cat)),
      "mag-cat" -> (() => Seq(cat)),
      "fab-cat" -> (() => Seq(cat)),
      "avg-prod-per-fab" -> (() => cat +: window),
      "top-magasins" -> (() => window),
      "top-magasins-cat" -> (() => cat +: window),
      "nb-mag-cat-date" -> (() => Seq(cat, annee)),
      "score-evolution" -> (() => Seq(cat, fab)),
      "top-1" -> (() => cat +: window),
      "avg-cat-fab-10-mag" -> (() => Seq(cat, fab) ++ window),
      "score-sante-touts-les-mois" -> (() => Seq(cat, fab)))
    val reqs = for { (t, gen) <- types.toIndexedSeq; _ <- 1 to PerType } yield Req(t, gen() :+ asOf)
    require(reqs.map(_.query).distinct.size == reqs.size, "the pool's requests must be distinct")
    reqs
  }

  /** The answer `HttpApi` gives for `r`, computed in-process. */
  def inProcess(ctx: Ctx, r: Req): (Int, String) =
    try QueryService.runJson(ctx.spark, ctx.sfDir, r.typeName, r.p) match {
      case Right(body) => (200, body)
      case Left(err)   => (err.status, s"""{"error": ${Json.str(err.message)}}""")
    } catch { case e: Throwable => (500, s"""{"error": ${Json.str(e.toString.take(200))}}""") }

  /** How `HashFile` records an answer: `status:sha256(body)`. */
  def answerKey(status: Int, body: String): String =
    s"$status:" + MessageDigest.getInstance("SHA-256").digest(body.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Checks replies against `HashFile`; returns whether `status`/`body` is
    * the recorded answer, and a description of the reply for the log. */
  final class Answers(golden: Map[String, String]) {
    def check(r: Req, status: Int, body: String): (Boolean, String) = {
      val want = golden.getOrElse(r.query, "none")
      ((status == 200 || status == 404) && answerKey(status, body) == want,
        s"${r.query}: got $status ${body.take(120)}, expected $want")
    }
  }

  final case class Sample(req: Int, startNs: Long, endNs: Long, ok: Boolean)

  def run(ctx: Ctx, report: Report): Unit = {
    val tr = ctx.tracer
    val d = tr.span("setup.domains")(domains(ctx))
    val reqs = pool(d)
    val answers = new Answers(Golden.read(HashFile))
    val server = tr.span("HttpApi.start")(HttpApi.start(ctx.spark, ctx.sfDir, port = 0))
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/api/produits/?"
      val setupS = ctx.sinceStartS
      val clients = IndexedSeq.fill(ctx.cpus)(HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_1_1).build())
      def send(client: Int, i: Int, tag: String): (Long, Long, Boolean, String) = {
        val r = reqs(i)
        val t0 = System.nanoTime()
        val got = try {
          val resp = tr.span("HttpApi.request", "req" -> tag, "type" -> r.typeName) {
            clients(client).send(HttpRequest.newBuilder(URI.create(base + r.query)).GET().build(),
              HttpResponse.BodyHandlers.ofString(UTF_8))
          }
          Right((resp.statusCode, resp.body))
        } catch { case e: Exception => Left(e.toString) }
        val t1 = System.nanoTime()
        val (ok, why) = got.fold(e => (false, s"${r.query}: $e"), g => answers.check(r, g._1, g._2))
        (t0, t1, ok, why)
      }

      // The clients share one request sequence made of rounds, each round a
      // seeded permutation of `entries`; a round starts only while
      // `another(rounds done)` holds, so each entry is sent equally often.
      val rnd = new Random(ctx.seed * 7919)
      def closedLoop(phase: String, entries: IndexedSeq[Int], another: Int => Boolean): Seq[Sample] = {
        val samples = new ConcurrentLinkedQueue[Sample]
        var sent = 0
        var round = IndexedSeq.empty[Int]
        def take(): Option[Int] = rnd.synchronized {
          val pos = sent % entries.size
          if (pos == 0 && !another(sent / entries.size)) None
          else {
            if (pos == 0) round = rnd.shuffle(entries)
            sent += 1
            Some(round(pos))
          }
        }
        val threads = (0 until ctx.cpus).map { c =>
          val t = new Thread(() => {
            var k = 0
            var i = take()
            while (i.isDefined) {
              val (t0, t1, ok, why) = send(c, i.get, s"$phase$c-$k")
              samples.add(Sample(i.get, t0, t1, ok))
              report.op(ok, why)
              k += 1
              i = take()
            }
          }, s"client-$c")
          t.start(); t
        }
        threads.foreach(_.join())
        samples.asScala.toSeq
      }

      // one un-timed round of one request per type warms the JVM; its replies
      // are checked too
      closedLoop("warm", reqs.indices.filter(_ % PerType == 0), _ == 0)
      val before = ctx.meter.map { m => m.drain(); m.counters() }
      val deadline = System.nanoTime() + ctx.seconds * 1000000000L
      val all = closedLoop("c", reqs.indices, done => done == 0 || System.nanoTime() < deadline)
      val lat = all.map(s => (s.endNs - s.startNs) / 1e6)
      all.groupBy(s => reqs(s.req).typeName).toSeq.sortBy(_._1).foreach { case (t, xs) =>
        System.err.println(f"[perfbench] $t%-28s n=${xs.size}%3d median=${Stats.median(xs.map(s => (s.endNs - s.startNs) / 1e6))}%8.1f ms")
      }
      report.e2e("setup_s", setupS, "s")
      report.e2e("latency_p50_ms", Stats.median(lat), "ms")
      // closed loop without think time: throughput = clients / mean latency
      // (Little's law), which leaves out the idle tail of the last round
      report.e2e("throughput_ops_s", all.count(_.ok) * ctx.cpus / (lat.sum / 1e3), "1/s")
      report.layer("latency_p95_ms", Stats.quantile(lat, 0.95), "ms")
      report.layer("latency_samples", lat.size.toDouble, "count")
      report.layer("cached_mb", Main.cachedMb(ctx.spark), "MB")

      ctx.meter.foreach { m =>
        m.drain()
        val c = m.counters() - before.get
        // jobs of concurrent requests overlap, so driver time is the
        // requests' summed latency minus the jobs' summed busy time
        report.sparkPerOp(c, math.max(0.0, lat.sum - c.jobBusyMs), all.size.toLong)
        layers(ctx, report, reqs, answers, (c, i) => send(c, i, s"serial-$i"))
      }
    } finally server.stop(0)
  }

  /** Traced run only: the split of one request between the HTTP layer,
    * `QueryService.run` (validation, plan building, the composites' phase-1
    * collect) and execution (`runJson` minus `run`: execute, collect, JSON),
    * each over the pool run serially. The `runJson` answers are checked
    * against `HashFile` as well. */
  private def layers(ctx: Ctx, report: Report, reqs: IndexedSeq[Req], answers: Answers,
      send: (Int, Int) => (Long, Long, Boolean, String)): Unit = {
    val tr = ctx.tracer
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val out = body; (out, (System.nanoTime() - t0) / 1e6)
    }
    val split = reqs.zipWithIndex.map { case (r, i) =>
      val (_, runMs) = timed(tr.span("QueryService.run", "req" -> s"split-$i", "type" -> r.typeName)(
        QueryService.run(ctx.spark, ctx.sfDir, r.typeName, r.p)))
      val ((status, body), jsonMs) = timed(tr.span("QueryService.runJson", "req" -> s"split-$i",
        "type" -> r.typeName)(inProcess(ctx, r)))
      val (ok, why) = answers.check(r, status, body)
      report.op(ok, s"runJson $why")
      (r, runMs, jsonMs)
    }
    val http = reqs.indices.map { i =>
      val (t0, t1, ok, why) = send(0, i)
      report.op(ok, why)
      (t1 - t0) / 1e6
    }
    report.layer("http.overhead_ms", Stats.median(http) - Stats.median(split.map(_._3)), "ms")
    report.layer("api.run_ms.plain", Stats.median(split.filterNot(_._1.composite).map(_._2)), "ms")
    report.layer("api.run_ms.composite", Stats.median(split.filter(_._1.composite).map(_._2)), "ms")
    report.layer("api.exec_ms", Stats.median(split.map(s => s._3 - s._2)), "ms")
  }

  /** The content of `HashFile`: the answer of every pool entry, each from a
    * serial in-process `runJson` call. */
  def golden(ctx: Ctx): Seq[(String, String)] =
    pool(domains(ctx)).map { r =>
      val (status, body) = inProcess(ctx, r)
      require(status == 200 || status == 404, s"${r.query}: status $status $body")
      r.query -> answerKey(status, body)
    }
}
