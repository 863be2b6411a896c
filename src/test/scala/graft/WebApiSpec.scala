package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.api.WebApi
import graft.operators.Reports
import graft.plans.SargableDates
import graft.sources.{GeoIp, Ingest}
import graft.store.ServiceStore

/** The HTTP route surface end-to-end over a real socket. */
class WebApiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def seededStore(): ServiceStore = {
    val store = new ServiceStore(spark,
      Files.createTempDirectory("graft-wh-api").toString)
    val lines = (0 until 6).map { i =>
      s"""<190>x: {"service": "${if (i < 4) "blog" else "shop"}", "ip": "10.0.0.${i % 3}", """ +
        s""""host": "h", "path": "/p$i", "status": "200", "referrer": "", """ +
        s""""user_agent": "curl/8.0", "length": $i, "generation_time_milli": 0.5, """ +
        s""""date": "2020-01-0${i % 2 + 1}T06:00:00+00:00"}"""
    }
    store.append(Ingest.pipeline(lines.toDF("value"), GeoIp.demoRanges(spark)))
    store
  }

  /** Jobs the service starts, seen by a listener on the shared
    * session: streaming micro-batches are left out, and so are the
    * fence jobs [[jobsOf]] runs to know the listener has caught up.
    */
  private final class JobLog extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val fences = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).getOrElse(new java.util.Properties)
      Option(p.getProperty("spark.jobGroup.id")) match {
        case Some(g) if g.startsWith("webapispec-fence") => fences.add(g)
        case _ if p.getProperty("sql.streaming.queryId") != null => ()
        case _ => jobs.incrementAndGet()
      }
    }
  }

  /** Wait until every job started before now has reached `log`: the
    * listener bus delivers events in order, so a fence job run after
    * them (on its own thread, so no job group leaks) arrives last.
    */
  private def fence(log: JobLog): Unit = {
    val id = s"webapispec-fence-${java.util.UUID.randomUUID()}"
    val t = new Thread(() => {
      spark.sparkContext.setJobGroup(id, "listener fence")
      spark.sparkContext.parallelize(Seq(1), 1).count()
    })
    t.start(); t.join()
    val deadline = System.nanoTime() + 60000000000L
    while (!log.fences.contains(id) && System.nanoTime() < deadline) Thread.sleep(10)
    assert(log.fences.contains(id), "listener bus did not catch up")
  }

  private def jobsOf(log: JobLog)(body: => Any): Int = {
    fence(log)
    val before = log.jobs.get()
    body
    fence(log)
    log.jobs.get() - before
  }

  /** Executed plans of one session's queries, in completion order
    * (delivered on the same listener queue as [[JobLog]], so a
    * [[fence]] covers them too).
    */
  private final class Plans extends QueryExecutionListener {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    def all: Seq[QueryExecution] =
      scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator).asScala.toSeq
  }

  test("small report requests run one job each; only a store's first read infers its schema") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val callerConfs = keys.map(spark.conf.getOption)
    val api = new WebApi(spark, seededStore())
    val port = api.start()
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      def jobs(path: String): Int = jobsOf(log) {
        val (code, body) = get(port, path)
        assert(code === 200, body)
      }
      val first = jobs("/api/blog/count")
      val again = jobs("/api/blog/count")
      assert(again === 1)
      assert(first === again + 1, "the first read runs the one schema job")
      assert(jobs("/api/shop/count") === 1, "a second service reuses the schema")
      assert(jobs("/api/blog/average/generation_time") === 1)
      assert(jobs("/api/blog/count-group/ip/path?limit=2") === 1)
      assert(jobs("/api/blog/report") <= 2)
      // the caller's session keeps its own planning confs
      assert(keys.map(spark.conf.getOption) === callerConfs)
    } finally {
      spark.sparkContext.removeSparkListener(log)
      api.stop()
    }
  }

  test("report bodies equal Reports on the caller's session, on either side of the size rule") {
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val callerAdvisory = spark.conf.getOption(advisory)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ SargableDates
    val store = seededStore()
    val api = new WebApi(spark, store, days = 5000)
    val port = api.start()
    val (smallPlans, callerPlans) = (new Plans, new Plans)
    api.smallSession.listenerManager.register(smallPlans)
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      val df = store.read("blog")
      val (a, b) = (Some("2020-01-01"), Some("2020-01-02"))
      def json(r: org.apache.spark.sql.DataFrame): String =
        r.toJSON.collect().mkString("[", ",", "]")
      val dated = "/api/blog/count?start=2020-01-01&stop=2020-01-01"
      val want = Seq(
        dated -> json(Reports.dailyCount(df, "datetime", None, a, a)),
        "/api/blog/count?field=ip&start=2020-01-01&stop=2020-01-02" ->
          json(Reports.dailyCount(df, "datetime", Some("ip"), a, b)),
        "/api/blog/average/generation_time" ->
          json(Reports.dailyAverage(df, "datetime", "generation_time")),
        "/api/blog/count-group/ip/path?limit=2" ->
          json(Reports.topNPerDay(df, "datetime", "ip", "path",
            distinct = true, ascending = false, n = 2)),
        "/api/blog/report" -> json(Reports.alignByDate(
          Reports.dailyCount(df, "datetime"),
          Reports.dailyCount(df, "datetime", Some("ip")))),
        "/api/blog/anomaly" -> json(Reports.anomalyDays(df, "datetime")),
        "/api/blog/ewma" -> json(Reports.ewmaDaily(df, "datetime")))
      // ewmaDaily ends in an aggregate with no ORDER BY: its rows are
      // compared as a set, every other body byte for byte
      def norm(path: String, body: String): Any =
        if (path.endsWith("/ewma")) body.stripPrefix("[").stripSuffix("]")
          .split("(?<=\\}),(?=\\{)").toSet
        else body
      // from here on, the caller's session runs only what the service sends it
      fence(log)
      spark.listenerManager.register(callerPlans)
      val paths = want.map(_._1) ++
        Seq("/api/dashboard?date=2020-01-01", "/services/blog", "/?date=2020-01-01")
      def bodies(): Map[String, String] = {
        fence(log)
        val got = paths.map { p =>
          val (c, body) = get(port, p); assert(c === 200, p); p -> body }.toMap
        fence(log)
        got
      }

      // a small store: every report runs in the one-partition session
      val small = bodies()
      for ((p, w) <- want) assert(norm(p, small(p)) === norm(p, w), p)
      val plans = smallPlans.all
      assert(plans.size >= paths.size)
      assert(callerPlans.seen.isEmpty, "a small report ran in the caller's session")
      val datedScan = plans.head.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(datedScan.nonEmpty, plans.head.executedPlan.toString)
      val pushed = datedScan.map(_.metadata.getOrElse("PushedFilters", "")).mkString
      assert(pushed.contains("GreaterThanOrEqual(datetime") &&
        pushed.contains("LessThan(datetime"), s"SargableDates not applied: $pushed")

      // an input larger than one advisory partition keeps the caller's session
      spark.conf.set(advisory, "1b")
      val large = bodies()
      for (p <- paths) assert(norm(p, large(p)) === norm(p, small(p)), p)
      assert(callerPlans.all.size === plans.size)
      assert(smallPlans.all.size === plans.size)
    } finally {
      spark.sparkContext.removeSparkListener(log)
      callerAdvisory match {
        case Some(v) => spark.conf.set(advisory, v)
        case None => spark.conf.unset(advisory)
      }
      spark.listenerManager.unregister(callerPlans)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == SargableDates)
      api.stop()
    }
  }

  test("routes: dashboard, catalog, count, average, top-N, report, sql, nginx") {
    val api = new WebApi(spark, seededStore())
    val port = api.start()
    try {
      val (c0, services) = get(port, "/api/services")
      assert(c0 === 200 && services === """["blog","shop"]""")

      val (c1, dash) = get(port, "/api/dashboard?date=2020-01-01")
      assert(c1 === 200)
      assert(dash === """[{"service":"blog","unique":2},{"service":"shop","unique":1}]""")

      val (c2, counts) = get(port, "/api/blog/count?field=ip")
      assert(c2 === 200)
      assert(counts.contains(""""d":"2020-01-01""""))

      val (c3, avg) = get(port, "/api/blog/average/generation_time")
      assert(c3 === 200 && avg.contains(""""avg_generation_time":0.5"""))

      val (c4, top) = get(port,
        "/api/blog/count-group/ip/path?distinct=true&limit=2")
      assert(c4 === 200)
      assert(top.split("\\{").length - 1 <= 4) // <= 2 per day * 2 days

      val (c5, report) = get(port, "/api/blog/report")
      assert(c5 === 200 && report.contains(""""visits":2"""))

      // monitoring endpoints ride the same daily series (the two-day
      // fixture has no 7-day trail, so anomaly returns header-only [];
      // ewma emits one smoothed row per day)
      val (c5a, anom) = get(port, "/api/blog/anomaly")
      assert(c5a === 200 && anom === "[]", anom)
      val (c5b, ewma) = get(port, "/api/blog/ewma")
      assert(c5b === 200 && ewma.contains(""""ewma":"""), ewma)

      val (c6, rows) = post(port, "/sql", "SELECT 1 AS one")
      assert(c6 === 200 && rows === """[{"one":1}]""")
      val (c7, err) = post(port, "/sql", "SELECT nope FROM nowhere")
      assert(c7 === 400 && err.contains("TABLE_OR_VIEW_NOT_FOUND"))

      // empty body falls back to the console's default query
      // (pragma_database_size parity, web_ballcone.py:134)
      val (c7b, dflt) = post(port, "/sql", "")
      assert(c7b === 200 && dflt.contains("database_size"))

      val (c8, conf) = get(port, "/nginx?service=blog&raw=1")
      assert(c8 === 200 && conf.contains("access_log syslog:server="))

      // unknowns
      assert(get(port, "/api/ghost/count")._1 === 404)
      assert(get(port, "/api/blog/bogus")._1 === 404)
    } finally api.stop()
  }

  test("html ui: dashboard, service page with rowspan grouping, sql console, nginx") {
    // the fixture's events are dated 2020 — widen the report window so
    // the service page's last-N-days queries see them
    val api = new WebApi(spark, seededStore(), days = 5000)
    val port = api.start()
    try {
      // dashboard page: cards per service + store size footer
      val (c1, root) = get(port, "/?date=2020-01-01")
      assert(c1 === 200 && root.startsWith("<!DOCTYPE html>"))
      assert(root.contains("""<a href="/services/blog">blog</a>"""))
      assert(root.contains("2 unique visits today"))
      assert(root.contains("byte"))

      // per-service report page: overview rows, avg table, rowspan
      // date-grouping on the popular-paths table (O19 presentation)
      val (c2, page) = get(port, "/services/blog")
      assert(c2 === 200 && page.contains("<h2 class=\"subtitle\">Overview</h2>"))
      assert(page.contains("rowspan="))
      assert(page.contains("0.5000"))
      // anomaly/EWMA series are wired into the page: canvases + the
      // Chart.js feeds pointing at the JSON endpoints
      assert(page.contains("""<canvas id="ewma""""), page.take(2000))
      assert(page.contains("""<canvas id="anomaly""""))
      assert(page.contains("/api/blog/ewma") && page.contains("/api/blog/anomaly"))
      // and the endpoints those feeds hit actually serve the series
      val (ce, ewmaJson) = get(port, "/api/blog/ewma")
      assert(ce === 200 && ewmaJson.contains("\"ewma\""), ewmaJson.take(300))
      val (ca, anomJson) = get(port, "/api/blog/anomaly")
      assert(ca === 200 && anomJson.contains("\"ratio\"") ||
        anomJson === "[]", anomJson.take(300))
      assert(get(port, "/services/ghost")._1 === 404)

      // sql console: GET renders the form and runs the default query
      val (c3, form) = get(port, "/sql")
      assert(c3 === 200 && form.contains("<textarea") &&
        form.contains("database_size"))
      // form-encoded POST renders the result table
      val enc = java.net.URLEncoder.encode("SELECT 41 + 1 AS answer", "UTF-8")
      val (c4, res) = post(port, "/sql", s"sql=$enc")
      assert(c4 === 200 && res.contains("<th>answer</th>") && res.contains("<td>42</td>"))
      // errors render in the page's error pane, not a 500
      val encBad = java.net.URLEncoder.encode("SELECT nope FROM nowhere", "UTF-8")
      val (c5, err) = post(port, "/sql", s"sql=$encBad")
      assert(c5 === 200 && err.contains("Error") && err.contains("TABLE_OR_VIEW_NOT_FOUND"))

      // nginx page wraps the stanza in HTML
      val (c6, ngx) = get(port, "/nginx?service=blog")
      assert(c6 === 200 && ngx.startsWith("<!DOCTYPE html>") &&
        ngx.contains("access_log syslog:server="))

      // bare /services redirects to the dashboard (reference parity)
      assert(get(port, "/services")._1 === 302)
    } finally api.stop()
  }

  test("sql console renders each engine exception class verbatim in the error pane") {
    // reference parity: web_ballcone.py:142-143 catches the engine
    // error and templates/sql.html:38-43 renders its message verbatim
    // in the page — one case per exception class, each asserting the
    // engine's own message text (not a generic "error") survives into
    // the pane, HTML-escaped, with the page still a 200 form render
    val api = new WebApi(spark, seededStore())
    val port = api.start()
    try {
      def consolePost(q: String): (Int, String) =
        post(port, "/sql", "sql=" + java.net.URLEncoder.encode(q, "UTF-8"))
      def engineMessage(q: String): String =
        try { spark.sql(q).limit(1).collect(); fail(s"expected $q to fail") }
        catch { case e: Throwable => e.getMessage }
      // same entity escaping Html.escape applies (it is package-private)
      def esc(s: String): String = s
        .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace("\"", "&quot;").replace("'", "&#39;")

      // ParseException: syntax error at the parser
      val (cp, parse) = consolePost("SELEC 1")
      val parseMsg = engineMessage("SELEC 1")
      assert(cp === 200 && parse.contains("<h2 class=\"subtitle\">Error</h2>"))
      assert(parse.contains("PARSE_SYNTAX_ERROR"), parse.take(800))
      // the engine's first message line renders verbatim (escaped)
      val parseFirst = esc(parseMsg.linesIterator.next())
      assert(parse.contains(parseFirst), s"missing: $parseFirst")

      // AnalysisException: unresolved relation
      val (ca, analysis) = consolePost("SELECT nope FROM nowhere")
      assert(ca === 200 && analysis.contains("TABLE_OR_VIEW_NOT_FOUND"),
        analysis.take(800))
      val analysisFirst = esc(
        engineMessage("SELECT nope FROM nowhere").linesIterator.next())
      assert(analysis.contains(analysisFirst), s"missing: $analysisFirst")

      // AnalysisException: unresolved routine (distinct error class)
      val (cr, routine) = consolePost("SELECT no_such_fn(1)")
      assert(cr === 200 && routine.contains("UNRESOLVED_ROUTINE"),
        routine.take(800))

      // runtime SparkArithmeticException: spark.sql() is lazy, so this
      // one only surfaces at the console's bounded collect — same pane
      val (cd, divide) = consolePost("SELECT 1/0 AS boom")
      assert(cd === 200 && divide.contains("DIVIDE_BY_ZERO"),
        divide.take(800))

      // the erroring page keeps the query in the textarea for editing
      // (reference keeps the form value: templates/sql.html)
      assert(divide.contains("SELECT 1/0 AS boom"), divide.take(800))
    } finally api.stop()
  }

  test("concurrent requests are served in parallel by the pooled executor") {
    val api = new WebApi(spark, seededStore())
    val port = api.start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val codes = Await.result(
        Future.sequence((0 until 8).map(_ =>
          Future(get(port, "/api/services")._1))),
        60.seconds)
      assert(codes.forall(_ === 200), codes.toString)
    } finally api.stop()
  }

  test("sql console caps driver-side materialization with a truncation marker") {
    val api = new WebApi(spark, seededStore(), maxRows = 10)
    val port = api.start()
    try {
      // a huge result must come back truncated at maxRows, not
      // materialize fully on the driver
      val (code, body) = post(port, "/sql", "SELECT id FROM range(500000)")
      assert(code === 200)
      assert(body.startsWith("""{"truncated":true,"limit":10,"rows":["""))
      assert(body.split("\\{\"id\"").length - 1 === 10)
      // small results keep the plain-array shape
      val (c2, small) = post(port, "/sql", "SELECT 1 AS one")
      assert(c2 === 200 && small === """[{"one":1}]""")
    } finally api.stop()
  }

  test("sql views follow the store: later appends show, and a compaction breaks none") {
    val store = new ServiceStore(spark,
      Files.createTempDirectory("graft-wh-views").toString)
    def rows(from: Int, n: Int) = Ingest.pipeline((from until from + n).map { i =>
      s"""<190>x: {"service": "views", "ip": "10.0.1.$i", "host": "h", """ +
        s""""path": "/v$i", "status": "200", "referrer": "", "user_agent": "curl/8.0", """ +
        s""""length": $i, "generation_time_milli": 0.5, "date": "2020-01-01T06:00:00+00:00"}"""
    }.toDF("value"), GeoIp.demoRanges(spark))
    store.append(rows(0, 10))
    val api = new WebApi(spark, store)
    val port = api.start()
    try {
      def count() = post(port, "/sql", "SELECT count(*) AS n FROM views")
      assert(count() === ((200, """[{"n":10}]""")))
      // an append right after the views were built
      store.append(rows(10, 5))
      assert(count() === ((200, """[{"n":15}]""")))
      // a compaction retires every file the views were built over
      store.compact("views")
      assert(count() === ((200, """[{"n":15}]""")))
    } finally api.stop()
  }
}
