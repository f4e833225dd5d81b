package graft

import graft.api.QueryService
import graft.api.QueryService.{ApiError, Params}

class QueryServiceSpec extends SparkSpec {

  test("unknown query type -> 400 UnknownQueryType (views.py:113-114)") {
    val r = QueryService.run(spark, Sf, "nope", Params())
    assert(r == Left(ApiError.UnknownQueryType("nope")))
  }

  test("missing param -> 400 MissingParam (views.py:143-145)") {
    val r = QueryService.run(spark, Sf, "cat", Params())
    assert(r == Left(ApiError.MissingParam("catID")))
    val r2 = QueryService.run(spark, Sf, "top-magasins", Params(debut = Some("1995-01-01")))
    assert(r2 == Left(ApiError.MissingParam("fin")))
  }

  test("missing database -> 404 NotFound (views.py:92-96)") {
    val r = QueryService.run(spark, "/nonexistent/dir", "cat", Params(catId = Some("STANDARD")))
    assert(r == Left(ApiError.NotFound("Base de données")))
  }

  test("empty phase-1 result in a composite -> 404 EmptyResult (views.py:122-123)") {
    val r = QueryService.run(spark, Sf, "avg-cat-fab-10-mag", Params(
      catId = Some("NO_SUCH_CAT"), fabId = Some("Brand#12"),
      debut = Some("1995-01-01"), fin = Some("1996-12-31")))
    assert(r.left.toOption.exists(_.isInstanceOf[ApiError.EmptyResult]))
  }

  test("parameterized queries agree with the frozen t2 variants") {
    val viaApi = QueryService.run(spark, Sf, "mag-cat", Params(catId = Some("STANDARD")))
      .toOption.get.head().getLong(0)
    val frozen = graft.retail.RetailQueries.q2(spark, Sf).head().getLong(0)
    assert(viaApi == frozen)

    val top = QueryService.run(spark, Sf, "top-magasins-cat", Params(
      catId = Some("STANDARD"), debut = Some("1995-01-01"), fin = Some("1996-12-31")))
      .toOption.get.select("magid").collect().map(_.getLong(0))
    val frozenTop = graft.retail.RetailQueries.q6(spark, Sf)
      .select("magid").collect().map(_.getLong(0))
    assert(top.sameElements(frozenTop))
  }

  test("cat slice is row-capped: default cap bounds the driver collect, an " +
    "explicit limit pages it, limit<=0 is a typed 400 (VERDICT r15 task 6)") {
    // reference scale: the slice is far below the default cap — unchanged
    val full = QueryService.run(spark, Sf, "cat",
      Params(catId = Some("STANDARD"))).toOption.get.count()
    assert(full > 1 && full < QueryService.DefaultRowCap,
      s"fixture sanity: the STANDARD slice ($full rows) sits under the cap")
    // an explicit limit pages the slice
    val paged = QueryService.run(spark, Sf, "cat",
      Params(catId = Some("STANDARD"), limit = Some(1))).toOption.get
    assert(paged.count() == 1)
    // the default cap is a real plan-level bound, not a collect-side trim:
    // a GlobalLimit must sit in the executed plan
    val capped = QueryService.run(spark, Sf, "cat",
      Params(catId = Some("STANDARD"))).toOption.get
    assert(capped.queryExecution.executedPlan.toString.contains("Limit"),
      "the cap must bound the PLAN (driver collect stays bounded at any scale)")
    // limit <= 0 is a typed 400, never a planner error
    val bad = QueryService.run(spark, Sf, "cat",
      Params(catId = Some("STANDARD"), limit = Some(0)))
    assert(bad == Left(QueryService.ApiError.InvalidParam("limit", "0")))
  }

  test("malformed asOf -> typed 400 InvalidParam, never a parse exception or silent empty result") {
    val r = QueryService.run(spark, Sf, "score-sante-touts-les-mois", Params(
      catId = Some("STANDARD"), fabId = Some("Brand#12"),
      asOf = Some("1998-09-01'), interval 1 month))--")))
    assert(r == Left(ApiError.InvalidParam("asOf", "1998-09-01'), interval 1 month))--")))
  }

  test("data dir with lineitem but missing part -> typed 404, not a raw AnalysisException") {
    val dir = java.nio.file.Files.createTempDirectory("graft_partial").toString
    Tables.load(spark, Sf, "lineitem").write.parquet(s"$dir/lineitem.parquet")
    val r = QueryService.run(spark, dir, "cat", Params(catId = Some("STANDARD")))
    assert(r == Left(ApiError.NotFound("Base de données")))
  }

  test("a genuinely broken plan reports as a typed 500, never as NotFound") {
    import org.apache.spark.sql.AnalysisException
    // arbitrary engine defect -> Internal
    assert(QueryService.mapBuildFailure(new RuntimeException("boom"))
      .isInstanceOf[ApiError.Internal])
    // bad column reference (a planner-visible defect) -> Internal
    val bad = intercept[AnalysisException] {
      Tables.load(spark, Sf, "part")
        .select(org.apache.spark.sql.functions.col("no_such_col")).schema
    }
    assert(QueryService.mapBuildFailure(bad).isInstanceOf[ApiError.Internal])
    // missing source path -> the reference's 404
    val missing = intercept[AnalysisException] {
      spark.read.parquet("/nonexistent/never.parquet").schema
    }
    assert(QueryService.mapBuildFailure(missing) == ApiError.NotFound("Base de données"))
  }

  test("events ts decodes to real 2024 instants whatever unit the fixture ships") {
    // The driver regenerated events.parquet between rounds 6 and 7 flipping
    // ts from TIMESTAMP(NANOS) to TIMESTAMP(MICROS); a loader hard-coding
    // either unit is off by 1000× in one direction (epoch lands in 1970 or
    // year ~56k — never 2024). Force-decode ts: a limit(1).count() would
    // column-prune the scan and pass even if decoding failed at execution.
    val ts = Tables.load(spark, Sf, "events")
      .select("ts").limit(1).collect()(0).getTimestamp(0)
    assert(ts.toInstant.atZone(java.time.ZoneOffset.UTC).getYear == 2024,
      s"implausible event timestamp $ts")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
  }

  test("events loader round-trips the same instant from NANOS, MICROS, and MILLIS fixtures") {
    val micros = 1704067200123456L // 2024-01-01T00:00:00.123456Z
    val cases = Seq(
      ("NANOS", micros * 1000L, micros),
      ("MICROS", micros, micros),
      ("MILLIS", micros / 1000L, micros / 1000L * 1000L)) // millis fixture has ms precision
    for ((unit, raw, wantMicros) <- cases) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_ts_$unit").toString
      TestParquet.writeEvents(s"$dir/events.parquet", unit, raw)
      assert(Tables.tsUnit(spark, s"$dir/events.parquet") ==
        (unit match {
          case "NANOS" => Tables.TsNanos
          case "MICROS" => Tables.TsMicros
          case "MILLIS" => Tables.TsMillis
        }))
      val got = Tables.load(spark, dir, "events").select("ts").collect()(0).getTimestamp(0).toInstant
      val gotMicros = Math.addExact(Math.multiplyExact(got.getEpochSecond, 1000000L), got.getNano / 1000L)
      assert(gotMicros == wantMicros, s"$unit fixture decoded to $got")
    }
  }

  test("fixture-schema drift guard: live fixture validates; uninterpretable ts fails loudly") {
    Tables.validate(spark, Sf)
    // ts stored as a string is drift the loader cannot interpret — it must
    // throw an explicit 'fixture drift' error, not corrupt timestamps
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    spark.range(1).selectExpr(
      "id AS event_id", "'2024-01-01T00:00:00' AS ts", "id AS user_id",
      "'view' AS event_type", "1.0 AS value", "'{}' AS props")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[Exception] { Tables.tsUnit(spark, s"$dir/events.parquet") }
    assert(e.getMessage.contains("fixture drift"), e.getMessage)
  }

  test("results serialize to records-style JSON (views.py:152-154)") {
    val df = QueryService.run(spark, Sf, "fab-cat", Params(catId = Some("STANDARD"))).toOption.get
    val json = QueryService.toJson(df)
    assert(json.length == 1)
    assert(json.head.contains("\"total_fabricants\":"))
  }

  test("composites return the reference's {average, top_mag} envelope (views.py:251-254, 336-339)") {
    val magP = Params(catId = Some("STANDARD"), fabId = Some("Brand#12"),
      debut = Some("1995-01-01"), fin = Some("1996-12-31"))
    val mag = QueryService.runJson(spark, Sf, "avg-cat-fab-10-mag", magP).toOption.get
    assert(mag.startsWith("""{"average":"""), mag.take(60))
    assert(mag.contains(""""top_mag":[{"magID":"""), mag.take(200))
    assert(mag.contains(""""total_produits":""") && mag.contains(""""nb_produits_fab":""")
      && mag.contains(""""percentage":"""))
    // envelope average equals the flat rows' repeated average column
    val flat = QueryService.run(spark, Sf, "avg-cat-fab-10-mag", magP).toOption.get
    val avg = flat.head().getAs[Double]("average")
    assert(mag.startsWith(s"""{"average":$avg"""), s"$avg vs ${mag.take(40)}")

    val mois = QueryService.runJson(spark, Sf, "score-sante-touts-les-mois",
      Params(catId = Some("STANDARD"), fabId = Some("Brand#12"),
        asOf = Some("1998-09-01"))).toOption.get
    assert(mois.startsWith("""{"average":"""), mois.take(60))
    assert(mois.contains(""""top_mag":[{"mois_annee":"""), mois.take(200))
    assert(mois.contains(""""avg_percentage":"""))

    // non-composites stay a records array
    val arr = QueryService.runJson(spark, Sf, "fab-cat", Params(catId = Some("STANDARD"))).toOption.get
    assert(arr.startsWith("[{") && arr.endsWith("}]"))
  }

  /** One request of each plain (single-phase) type. */
  private val plainRequests: Seq[(String, Params)] = Seq(
    "cat" -> Params(catId = Some("STANDARD")),
    "mag-cat" -> Params(catId = Some("STANDARD")),
    "fab-cat" -> Params(catId = Some("STANDARD")),
    "avg-prod-per-fab" -> Params(catId = Some("STANDARD"),
      debut = Some("1995-01-01"), fin = Some("1996-12-31")),
    "top-magasins" -> Params(debut = Some("1995-01-01"), fin = Some("1996-12-31")),
    "top-magasins-cat" -> Params(catId = Some("STANDARD"),
      debut = Some("1995-01-01"), fin = Some("1996-12-31")),
    "nb-mag-cat-date" -> Params(catId = Some("STANDARD"), annee = Some(1996)),
    "score-evolution" -> Params(catId = Some("STANDARD"), fabId = Some("Brand#12"),
      asOf = Some("1998-09-01")))

  test("serving snapshot: repeated requests on one (session, dir) build it once") {
    val session = spark.newSession() // a session no other test has served
    val before = QueryService.snapshotBuilds
    for (_ <- 1 to 3; (t, p) <- plainRequests)
      assert(QueryService.runJson(session, Sf, t, p).isRight, t)
    assert(QueryService.snapshotBuilds - before == 1,
      s"${QueryService.snapshotBuilds - before} snapshot builds for one (session, dir)")
  }

  test("serving snapshot: a warm plain request plans over memory, no parquet scan") {
    assert(QueryService.runJson(spark, Sf, "mag-cat", Params(catId = Some("STANDARD"))).isRight)
    for ((t, p) <- plainRequests) {
      val plan = QueryService.run(spark, Sf, t, p).toOption.get.queryExecution.executedPlan.toString
      assert(!plan.contains("Scan parquet"), s"$t re-scans the sources:\n$plan")
    }
  }

  test("serving snapshot: no CacheManager entry, so other Tables.pdv plans still scan parquet") {
    val cm = spark.sharedState.cacheManager
    val wasEmpty = cm.isEmpty
    for ((t, p) <- plainRequests) assert(QueryService.runJson(spark, Sf, t, p).isRight, t)
    assert(cm.isEmpty == wasEmpty, "serving must not register a cached plan")
    // a cached pdv would be substituted here as an InMemoryTableScan
    for (q <- Seq(graft.retail.RetailQueries.q2(spark, Sf), Tables.produits(spark, Sf))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("Scan parquet") && !plan.contains("InMemoryTableScan"),
        s"a pdv plan lost its parquet scan:\n$plan")
    }
  }

  test("serving snapshot: a missing dir is a 404 until it holds data, then a 200 " +
    "(failures are not memoized)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_late").toString
    val p = Params(catId = Some("STANDARD"))
    val notFound = Left(ApiError.NotFound("Base de données"))
    assert(QueryService.runJson(spark, dir, "mag-cat", p) == notFound)
    // sources that exist but do not resolve (an empty lineitem dir) are a
    // 404 as well, and each request retries the failed build
    Tables.load(spark, Sf, "part").write.parquet(s"$dir/part.parquet")
    new java.io.File(s"$dir/lineitem.parquet").mkdirs()
    val before = QueryService.snapshotBuilds
    assert(QueryService.runJson(spark, dir, "mag-cat", p) == notFound)
    assert(QueryService.runJson(spark, dir, "mag-cat", p) == notFound)
    assert(QueryService.snapshotBuilds - before == 2, "a failed build must not be memoized")
    Tables.load(spark, Sf, "lineitem").write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(QueryService.runJson(spark, dir, "mag-cat", p) == QueryService.runJson(spark, Sf, "mag-cat", p))
  }

  test("serving snapshot: a dataset rewritten in place is re-resolved, never served stale") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_rewritten").toString
    for (t <- Seq("lineitem", "part")) Tables.load(spark, Sf, t).write.parquet(s"$dir/$t.parquet")
    val p = Params(catId = Some("STANDARD"))
    def served = QueryService.run(spark, dir, "mag-cat", p).toOption.get.head().getLong(0)
    def direct = graft.retail.RetailQueries.q2(spark, dir).head().getLong(0)
    val old = served
    assert(old == direct)
    // rewrite lineitem in place with half of the stores
    Tables.load(spark, Sf, "lineitem").filter(col("l_suppkey") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val now = served
    assert(now == direct, "the served answer must reflect the rewritten rows")
    assert(now < old, s"fixture sanity: halving the stores must change the answer ($old -> $now)")
    // a deleted source is the 404 again
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/part.parquet"))
    assert(QueryService.run(spark, dir, "mag-cat", p) == Left(ApiError.NotFound("Base de données")))
  }

  test("HTTP binding: malformed annee -> 400 InvalidParam, not MissingParam") {
    val server = graft.api.HttpApi.start(spark, Sf, port = 0)
    try {
      val port = server.getAddress.getPort
      val client = java.net.http.HttpClient.newHttpClient()
      def get(qs: String) = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/api/produits/?$qs")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val bad = get("type=nb-mag-cat-date&catID=STANDARD&annee=19x6")
      assert(bad.statusCode() == 400, bad.body())
      assert(bad.body() == s"""{"error": "${ApiError.InvalidParam("annee", "19x6").message}"}""",
        bad.body())
      val absent = get("type=nb-mag-cat-date&catID=STANDARD")
      assert(absent.statusCode() == 400 && absent.body().contains("manquant: annee"), absent.body())
      // a type that does not read annee ignores it, as it ignores any extra param
      assert(get("type=fab-cat&catID=STANDARD&annee=19x6").statusCode() == 200)
    } finally server.stop(0)
  }

  test("HTTP binding end-to-end: 200 array, 200 envelope, 400 unknown type, 404 bad dir (urls.py:5)") {
    val server = graft.api.HttpApi.start(spark, Sf, port = 0)
    try {
      val port = server.getAddress.getPort
      val client = java.net.http.HttpClient.newHttpClient()
      def get(qs: String) = {
        val req = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/api/produits/?$qs")).GET().build()
        client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      }
      val ok = get("type=fab-cat&catID=STANDARD")
      assert(ok.statusCode() == 200, ok.body())
      assert(ok.headers().firstValue("Content-Type").orElse("").startsWith("application/json"))
      assert(ok.body().startsWith("[{") && ok.body().contains("\"total_fabricants\":"))

      val env = get("type=avg-cat-fab-10-mag&catID=STANDARD&fabID=Brand%2312" +
        "&debut=1995-01-01&fin=1996-12-31")
      assert(env.statusCode() == 200, env.body())
      assert(env.body().startsWith("""{"average":""") && env.body().contains(""""top_mag":["""))

      // no type param -> the reference's default "all", which is unknown -> 400
      val defaulted = get("catID=STANDARD")
      assert(defaulted.statusCode() == 400)
      assert(defaulted.body().contains("Type de requ"))

      val missing = get("type=cat")
      assert(missing.statusCode() == 400)
      assert(missing.body().contains("catID"))

      // GET-only route, like the reference view
      val post = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/api/produits/?type=cat"))
          .POST(java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode() == 405)

      // malformed percent-encoding must yield a controlled error status,
      // never a hung connection or an empty reply (raw socket: the JDK
      // HttpClient refuses to even construct such a URI)
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        // a server-side hang must surface as a timeout failure, not wedge
        // the suite (this test exists to pin "never a hung connection")
        sock.setSoTimeout(15000)
        val out = new java.io.PrintWriter(sock.getOutputStream)
        out.print("GET /api/produits/?type=cat&catID=%zz HTTP/1.1\r\n" +
          "Host: localhost\r\nConnection: close\r\n\r\n")
        out.flush()
        val status = scala.io.Source.fromInputStream(sock.getInputStream)
          .getLines().next()
        assert(status.matches("HTTP/1\\.[01] (400|500).*"), status)
      } finally sock.close()
    } finally server.stop(0)
  }

  test("HTTP binding under contention: 24 parallel mixed GETs (composites " +
    "included) are byte-equal to the sequential baseline; session-conf flips " +
    "on OTHER sessions never cross-talk (VERDICT r14 task 5)") {
    // the sequential baseline is served from `spark`; the contended GETs
    // from a fresh session whose serving snapshot does not exist yet, so
    // they all race its one build
    val server = graft.api.HttpApi.start(spark, Sf, port = 0)
    val cold = graft.api.HttpApi.start(spark.newSession(), Sf, port = 0)
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def getFrom(port: Int, qs: String): (Int, String) = {
        val req = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/api/produits/?$qs")).GET().build()
        val r = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // mixed workload: plain arrays, BOTH composites, a 400 and a GET
      // with defaults — 8 distinct shapes × 3 = 24 in-flight requests
      val shapes = Seq(
        "type=fab-cat&catID=STANDARD",
        "type=cat", // 400 missing catID
        "type=nb-mag-cat-date&catID=STANDARD&annee=1996",
        "type=avg-cat-fab-10-mag&catID=STANDARD&fabID=Brand%2312" +
          "&debut=1995-01-01&fin=1996-12-31",
        "type=score-sante-touts-les-mois&catID=STANDARD&fabID=Brand%2312" +
          "&asOf=1998-09-01",
        "type=top-magasins-cat&catID=STANDARD&debut=1995-01-01&fin=1996-12-31",
        "type=score-evolution&catID=STANDARD&fabID=Brand%2312&asOf=1998-09-01",
        "catID=STANDARD") // the reference's default "all" -> 400
      val baseline = shapes.map(s => s -> getFrom(server.getAddress.getPort, s)).toMap
      val builds = QueryService.snapshotBuilds

      import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
      val work = Seq.fill(3)(shapes).flatten // 24 requests
      val pool = Executors.newFixedThreadPool(work.size)
      val go = new CountDownLatch(1)
      // contention PLUS a conf-flipper on a DIFFERENT session: Spark
      // session confs are per-session, so hammering the presentation-sort
      // toggle on a newSession() clone must never leak into the server's
      // plans (the isolation the per-session clone design relies on)
      val flipper = spark.newSession()
      @volatile var stop = false
      val flipThread = new Thread(() => {
        var on = false
        while (!stop) {
          flipper.conf.set(graft.Canonical.PresentationSortsKey, on.toString)
          on = !on
          Thread.sleep(1)
        }
        flipper.conf.unset(graft.Canonical.PresentationSortsKey)
      })
      flipThread.setDaemon(true)
      flipThread.start()
      val futures = work.map { s =>
        pool.submit(new java.util.concurrent.Callable[(String, (Int, String))] {
          def call(): (String, (Int, String)) = { go.await(); s -> getFrom(cold.getAddress.getPort, s) }
        })
      }
      go.countDown()
      val results = futures.map(_.get(300, TimeUnit.SECONDS))
      stop = true
      flipThread.join(5000)
      pool.shutdown()
      results.foreach { case (s, got) =>
        assert(got == baseline(s),
          s"response under contention diverged for $s:\n got=${got.toString.take(200)}\n " +
            s"want=${baseline(s).toString.take(200)}")
      }
      assert(QueryService.snapshotBuilds - builds == 1,
        "the racing first requests must share one snapshot build")
    } finally { server.stop(0); cold.stop(0) }
  }

  test("HTTP binding: missing database dir -> 404 JSON error (views.py:92-96)") {
    val server = graft.api.HttpApi.start(spark, "/nonexistent/dir", port = 0)
    try {
      val port = server.getAddress.getPort
      val client = java.net.http.HttpClient.newHttpClient()
      val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port/api/produits/?type=cat&catID=STANDARD"))
        .GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 404)
      assert(resp.body().contains("Base de donn"))
    } finally server.stop(0)
  }
}
