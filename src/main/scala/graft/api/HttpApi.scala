package graft.api

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession

/** Minimal HTTP binding for [[QueryService]], mirroring the reference's
  * single route (`/root/reference/etl_project/api_etl/urls.py:5` →
  * `GET /api/produits/?type=...&catID=...`, views.py:90-154) on the JDK's
  * built-in `com.sun.net.httpserver` — no framework dependency.
  *
  * Faithful surface: same query-param names, same default `type=all`
  * (which, as in the reference, is not a registered query type and 400s —
  * views.py:102,113-114), same `{"error": ...}` JSON error bodies with the
  * reference's status codes, records-array bodies for plain queries and
  * the `{"average", "top_mag"}` envelopes for the two composites.
  *
  * Scale posture: the HTTP layer only ever serializes top-k / aggregate
  * sized results ([[QueryService.toJson]]'s bounded-collect contract); the
  * heavy lifting stays distributed in the Spark plans underneath.
  *
  * Every request plans over the dataset's serving snapshot (see
  * [[QueryService]]): the first request to `dir` pays for materializing
  * it, later ones read it from memory, and a deleted or rewritten dataset
  * is re-resolved on the next request. Nothing is read at `start`, so a
  * server on a missing dir starts and answers 404 per request.
  */
object HttpApi {

  /** Start serving `/api/produits/` on `host:port` (port 0 = ephemeral,
    * for tests). Binds LOOPBACK by default — this is an unauthenticated
    * query endpoint; exposing it on all interfaces must be an explicit
    * caller decision. Returns the running server; stop with
    * `server.stop(0)`.
    *
    * Requests are served on a bounded thread pool (`threads`):
    * without an executor the JDK server dispatches every exchange on ONE
    * thread, so a single slow query head-of-line-blocks the whole API.
    * Spark is made for this — concurrent driver-side actions schedule
    * independently (FAIR-pool or not), and every handler call reads the
    * shared session's conf rather than mutating it, so plans never
    * cross-talk (pinned by QueryServiceSpec's 16-way contention test). */
  def start(spark: SparkSession, dir: String, port: Int = 8000,
            host: String = "127.0.0.1", threads: Int = 16): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext("/api/produits/", handler(spark, dir))
    // daemon threads: `server.stop` halts the dispatcher but not the
    // pool, and an API server must never pin a JVM shutdown
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
      threads, (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t }))
    server.start()
    server
  }

  private def handler(spark: SparkSession, dir: String): HttpHandler =
    (exchange: HttpExchange) => {
      val response =
        try respond(spark, dir, exchange)
        catch { // a handler must never die silently: surface as a 500 body
          case e: Throwable => (500, s"""{"error": ${jsonString(e.toString.take(200))}}""")
        }
      val bytes = response._2.getBytes(StandardCharsets.UTF_8)
      exchange.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
      exchange.sendResponseHeaders(response._1, bytes.length.toLong)
      val os = exchange.getResponseBody
      try os.write(bytes) finally os.close()
    }

  private def respond(spark: SparkSession, dir: String, exchange: HttpExchange): (Int, String) = {
    val params = parseQuery(Option(exchange.getRequestURI.getRawQuery).getOrElse(""))
    // GET-only route, like the reference view
    if (exchange.getRequestMethod != "GET")
      return (405, """{"error": "Méthode non autorisée"}""")
    val typeName = params.getOrElse("type", "all") // views.py:102
    // integer params: a raw value that does not parse goes to `malformed`
    def int(name: String) = params.get(name).map(v => v -> v.toIntOption)
    val annee = int("annee")
    val limit = int("limit")
    val p = QueryService.Params(
      catId = params.get("catID"),
      fabId = params.get("fabID"),
      annee = annee.flatMap(_._2),
      debut = params.get("debut"),
      fin = params.get("fin"),
      asOf = params.get("asOf"),
      limit = limit.flatMap(_._2),
      malformed = Seq("annee" -> annee, "limit" -> limit)
        .collect { case (name, Some((v, None))) => name -> v }.toMap)
    QueryService.runJson(spark, dir, typeName, p) match {
      case Right(body) => (200, body)
      case Left(err)   => (err.status, s"""{"error": ${jsonString(err.message)}}""")
    }
  }

  /** Decode `a=1&b=x%20y` into a map; last value wins like Django's GET. */
  private[api] def parseQuery(raw: String): Map[String, String] =
    raw.split("&").iterator.filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(decode(k) -> decode(v))
        case Array(k)    => Some(decode(k) -> "")
        case _           => None
      }
    }.toMap

  private def decode(s: String): String = URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** Minimal JSON string escaping for error messages. */
  private def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.append('"').toString
  }
}
