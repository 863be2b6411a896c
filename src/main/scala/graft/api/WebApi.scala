package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Dates
import graft.operators.Reports
import graft.query.Console
import graft.store.ServiceStore

/** The HTTP surface of the reference (ballcone/__main__.py:72-80 routes;
  * handlers web_ballcone.py) on the JDK's built-in server — no
  * dependencies beyond Spark.
  *
  * HTML UI (reference templates/, rendered by [[Html]]):
  *   GET  /                                  dashboard page (O18)
  *   GET  /services                          redirect → /
  *   GET  /services/{s}                      per-service report page
  *   GET  /sql                               SQL console form
  *   POST /sql  (form-encoded `sql=`)        console results page
  *   GET  /nginx[?service={s}]               nginx config page
  *
  * JSON API (Chart.js endpoints + programmatic surface):
  *   GET  /api/dashboard[?date=]             dashboard rows (O18)
  *   GET  /api/services                      catalog list (O7)
  *   GET  /api/{s}/count[?field=&start=&stop=]          O11
  *   GET  /api/{s}/average/{field}[?start=&stop=]       O10
  *   GET  /api/{s}/count-group/{field}/{group}
  *         [?distinct=&ascending=&limit=&start=&stop=]  O12+O13
  *   GET  /api/{s}/report[?date=]            visits⟗unique merge (O17)
  *   POST /sql  (raw SQL body)               raw SQL console (O15)
  *
  * Results are encoded with Spark's row-to-JSON (dates → ISO strings,
  * O20). Query knobs mirror web_ballcone.py:117-120 (`distinct`'s value
  * doubles as the count field there; here `field` is explicit).
  *
  * Session choice: a report request (`/`, `/services/{s}`,
  * `/api/dashboard`, `/api/{s}/...`) whose input fits in one
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` of the caller's
  * session is planned in [[smallSession]]: one shuffle partition, no
  * AQE, so a small report is one job instead of one per stage plus
  * AQE's re-planning. The input is the service's directory, or the
  * whole warehouse for the dashboard. A report's shuffles carry less
  * than its input, so AQE would coalesce each into one partition
  * anyway. The rule is keyed to input bytes: a larger input keeps the
  * caller's session and plans exactly as before, at any store size.
  * `/sql` always runs in the caller's session: arbitrary SQL has no
  * size bound.
  *
  * Reads and maintenance: every handler runs under the store's read
  * guard ([[ServiceStore.reading]]). After each micro-batch append the
  * live loop rewrites any service's small files
  * ([[ServiceStore.compactSmallFiles]]) and swaps them in under the
  * exclusive side of that guard, so a request never reads a retired
  * file and never sees a service empty or half swapped. The swap waits
  * at most [[ServiceStore.SwapWaitMs]] for running requests, then
  * skips that pass. The `/sql` views are rebuilt whenever the store
  * changed since they were built, so they see every completed append.
  */
final class WebApi(spark: SparkSession, store: ServiceStore,
                   topLimit: Int = 5, maxRows: Int = 10000, days: Int = 30) {

  /** The caller's SQL confs and optimizer rules (the UTC zone and
    * SargableDates change results and pruning), then one shuffle
    * partition and no AQE. Per-session confs: the caller's session,
    * its stream and `/sql` keep their own. The scan split stays the
    * caller's, so partial sums add up in the same order and bodies
    * stay bit-identical.
    */
  private[graft] val smallSession: SparkSession = {
    val small = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) small.conf.set(k, v)
    }
    small.experimental.extraOptimizations = spark.experimental.extraOptimizations
    small.conf.set("spark.sql.adaptive.enabled", "false")
    small.conf.set("spark.sql.shuffle.partitions", "1")
    small
  }

  private def sessionFor(inputBytes: Long): SparkSession = {
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    if (inputBytes <= advisory) smallSession else spark
  }

  private val console = new Console(spark, store)
  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", handler(rootPage))
    server.createContext("/services", handler(servicePage))
    server.createContext("/api/services", handler(_ => listServices()))
    server.createContext("/api/dashboard", handler(dashboard))
    server.createContext("/api", handler(api))
    server.createContext("/sql", handler(sql))
    server.createContext("/nginx", handler(nginx))
    // a pooled executor so one long-running SQL console query cannot
    // block every other endpoint (handlers are stateless; the console
    // and its size cache guard their shared state)
    pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
  }

  // ------------------------------------------------------------- handlers

  /** Per-service unique-visitor counts for one day — ONE grouped
    * aggregate over the partitioned store, not one Spark job per
    * service (Reports.dashboard scaladoc; O18); services with no
    * events that day still render with 0, like the reference.
    */
  private def dashboardCounts(services: Seq[String],
                              day: String): Seq[(String, Long)] = {
    if (services.isEmpty) return Seq.empty
    val all = store.readAll(sessionFor(store.sizeBytes()))
    val agg = Reports.dashboard(all, "datetime", "service", "ip", day)
      .collect()
      .map(r => r.getAs[String]("service") -> r.getAs[Long]("cnt"))
      .toMap
    services.map(s => s -> agg.getOrElse(s, 0L))
      .sortBy { case (s, c) => (-c, s) }
  }

  private def dashboard(ex: HttpExchange): (Int, String) = {
    val day = param(ex, "date").getOrElse(Dates.todayUtc().toString)
    (200, dashboardCounts(store.list(), day).map { case (s, c) =>
      s"""{"service":${jsonString(s)},"unique":$c}"""
    }.mkString("[", ",", "]"))
  }

  /** GET / — the HTML dashboard (templates/root.html). */
  private def rootPage(ex: HttpExchange): (Int, String) = {
    if (ex.getRequestURI.getPath != "/") return (404, notFound)
    val day = param(ex, "date").getOrElse(Dates.todayUtc().toString)
    val services = store.list()
    (200, Html.root(services, dashboardCounts(services, day),
      console.cachedSizeBytes()))
  }

  /** GET /services/{s} — the HTML report page (templates/service.html):
    * overview (visits/unique aligned by date), average generation time,
    * top paths and browsers with rowspan date grouping — the same four
    * queries the reference issues per render (web_ballcone.py:49-96),
    * each over the last `days` days, rendered latest-first.
    */
  private def servicePage(ex: HttpExchange): (Int, String) = {
    val rest = ex.getRequestURI.getPath.stripPrefix("/services")
      .stripPrefix("/")
    if (rest.isEmpty) return (302, "/") // reference redirects /services → /
    val service = rest.takeWhile(_ != '/')
    if (!store.exists(service))
      return (404, s"""{"error":${jsonString(s"unknown service $service")}}""")
    val df = readService(service)
    val (startD, stopD) = Dates.window(Dates.todayUtc(), days)
    val (start, stop) = (Some(startD.toString), Some(stopD.toString))
    def str(v: Any): String = String.valueOf(v)
    val overview = Reports.alignByDate(
        Reports.dailyCount(df, "datetime", None, start, stop),
        Reports.dailyCount(df, "datetime", Some("ip"), start, stop))
      .collect()
      .map(r => (str(r.getAs[Any]("d")), str(r.getAs[Any]("visits")),
        str(r.getAs[Any]("uniq"))))
      .reverse.toSeq
    val time = Reports.dailyAverage(df, "datetime", "generation_time", start, stop)
      .collect()
      .map(r => (str(r.getAs[Any]("d")),
        "%.4f".format(r.getAs[Double]("avg_generation_time"))))
      .reverse.toSeq
    def topGrouped(group: String): Seq[(String, Seq[(String, String)])] =
      groupAdjacent(
        Reports.topNPerDay(df, "datetime", "ip", group, distinct = true,
            ascending = false, n = topLimit, start, stop)
          .collect()
          .map(r => (str(r.getAs[Any]("d")), str(r.getAs[Any]("grp")),
            str(r.getAs[Any]("cnt")))).toSeq)
    (200, Html.service(store.list(), service, overview, time,
      topGrouped("path"), topGrouped("browser_name")))
  }

  /** O19 presentation grouping: adjacent same-date rows fold into one
    * (date, rows) group; groups render latest-date-first like the
    * template's `| reverse`.
    */
  private def groupAdjacent(rows: Seq[(String, String, String)]):
      Seq[(String, Seq[(String, String)])] =
    rows.foldLeft(Vector.empty[(String, Vector[(String, String)])]) {
      case (acc, (d, g, c)) =>
        if (acc.nonEmpty && acc.last._1 == d)
          acc.init :+ (d -> (acc.last._2 :+ (g -> c)))
        else acc :+ (d -> Vector(g -> c))
    }.reverse

  private def readService(service: String): DataFrame =
    store.read(service, sessionFor(store.sizeBytes(service)))

  private val notFound = """{"error":"not found"}"""

  private def listServices(): (Int, String) =
    (200, store.list().map("\"" + _ + "\"").mkString("[", ",", "]"))

  private def api(ex: HttpExchange): (Int, String) = {
    val parts = ex.getRequestURI.getPath.stripPrefix("/api/").split("/")
    if (parts.length < 2) return (404, notFound)
    val service = parts(0)
    if (!store.exists(service))
      return (404, s"""{"error":${jsonString(s"unknown service $service")}}""")
    val df = readService(service)
    val start = param(ex, "start")
    val stop = param(ex, "stop")
    val result: Either[String, DataFrame] = parts(1) match {
      case "count" =>
        Right(Reports.dailyCount(df, "datetime", param(ex, "field"), start, stop))
      case "average" if parts.length == 3 =>
        Right(Reports.dailyAverage(df, "datetime", parts(2), start, stop))
      case "count-group" if parts.length == 4 =>
        val limit = param(ex, "limit") match {
          case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
            return (400, s"""{"error":${jsonString(s"limit must be a positive integer, got '$v'")}}"""))
          case None => topLimit
        }
        def boolParam(name: String, default: Boolean): Either[String, Boolean] =
          param(ex, name) match {
            case Some(v) => v.toBooleanOption
              .toRight(s"$name must be true or false, got '$v'")
            case None => Right(default)
          }
        (boolParam("distinct", default = true),
          boolParam("ascending", default = false)) match {
          case (Right(d), Right(a)) =>
            Right(Reports.topNPerDay(df, "datetime", parts(2), parts(3),
              distinct = d, ascending = a, n = limit, start, stop))
          case (Left(e), _) => return (400, s"""{"error":${jsonString(e)}}""")
          case (_, Left(e)) => return (400, s"""{"error":${jsonString(e)}}""")
        }
      case "report" =>
        Right(Reports.alignByDate(
          Reports.dailyCount(df, "datetime", None, start, stop),
          Reports.dailyCount(df, "datetime", Some("ip"), start, stop)))
      case "anomaly" =>
        Right(Reports.anomalyDays(df.filter(
          graft.operators.DateRange.pred(
            org.apache.spark.sql.functions.col("datetime"), start, stop)),
          "datetime"))
      case "ewma" =>
        Right(Reports.ewmaDaily(df.filter(
          graft.operators.DateRange.pred(
            org.apache.spark.sql.functions.col("datetime"), start, stop)),
          "datetime"))
      case _ => Left(s"unknown endpoint ${parts(1)}")
    }
    result match {
      case Right(r) => (200, toJsonArray(r))
      case Left(err) => (404, s"""{"error":${jsonString(err)}}""")
    }
  }

  /** /sql serves BOTH surfaces: a form-encoded POST (the reference's
    * sql.html form) or a GET renders the HTML console page; a raw-SQL
    * POST body keeps the JSON API. The reference always executes the
    * textarea content — default `pragma_database_size` on first load
    * (web_ballcone.py:130-155).
    */
  private def sql(ex: HttpExchange): (Int, String) = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    // the HTML form path is taken only when an actual `sql=` field is
    // present — a raw-SQL body that merely ARRIVES with a form
    // Content-Type (curl -d default) must still hit the JSON API, not
    // have its query silently replaced by the console default
    val mayBeForm = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .exists(_.startsWith("application/x-www-form-urlencoded")) ||
      body.startsWith("sql=")
    val formSql = if (mayBeForm) formField(body, "sql") else None
    console.refreshIfChanged()
    if (ex.getRequestMethod == "GET") sqlHtml(None)
    else formSql match {
      case Some(s) => sqlHtml(Some(s))
      case None => sqlJson(body)
    }
  }

  private def sqlJson(body: String): (Int, String) = {
    val text = if (body.trim.isEmpty) console.defaultQuery else body
    console.run(text) match {
      case Right(df) =>
        // spark.sql is lazy: runtime failures (not just parse/analysis)
        // surface here at materialization — map them to the same 400
        // error pane the reference renders, not a generic 500
        try (200, toJsonArray(df))
        catch { case scala.util.control.NonFatal(e) =>
          (400, s"""{"error":${jsonString(e.getMessage)}}""") }
      case Left(err) => (400, s"""{"error":${jsonString(err)}}""")
    }
  }

  private def sqlHtml(posted: Option[String]): (Int, String) = {
    val text = posted.map(_.trim).filter(_.nonEmpty)
      .getOrElse(console.defaultQuery)
    console.run(text) match {
      case Right(df) =>
        try {
          val rows = df.limit(maxRows + 1).collect()
          val cols = df.columns.toSeq
          val cells = rows.take(maxRows)
            .map(r => cols.indices.map(i => String.valueOf(r.get(i))).toSeq)
            .toSeq
          (200, Html.sql(store.list(), text,
            Some((cols, cells, rows.length > maxRows)), None))
        } catch { case scala.util.control.NonFatal(e) =>
          (200, Html.sql(store.list(), text, None, Some(e.getMessage))) }
      case Left(err) => (200, Html.sql(store.list(), text, None, Some(err)))
    }
  }

  private def formField(body: String, name: String): Option[String] = {
    def dec(s: String) = java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)
    body.split("&").map(_.split("=", 2)).collectFirst {
      case Array(k, v) if dec(k) == name => dec(v)
    }
  }

  /** nginx config generator (web_ballcone.py renders the log_format +
    * access_log stanza users paste into their server block). `?raw=1`
    * returns the bare stanza; default is the HTML page
    * (templates/nginx.html).
    */
  private def nginx(ex: HttpExchange): (Int, String) = {
    val service = param(ex, "service").getOrElse("example")
    if (!store.checkService(service))
      return (400, s"""{"error":"invalid service name"}""")
    val conf =
      s"""log_format graft_$service escape=json
         |  '{"service": "$service", "ip": "$$remote_addr", '
         |  '"host": "$$host", "path": "$$request_uri", '
         |  '"status": "$$status", "referrer": "$$http_referer", '
         |  '"user_agent": "$$http_user_agent", "length": $$bytes_sent, '
         |  '"generation_time_milli": $$request_time, '
         |  '"date": "$$time_iso8601"}';
         |access_log syslog:server=127.0.0.1:65140 graft_$service;
         |""".stripMargin
    if (param(ex, "raw").isDefined) (200, conf)
    else (200, Html.nginx(store.list(), service, conf))
  }

  // -------------------------------------------------------------- helpers

  private def handler(f: HttpExchange => (Int, String)):
      com.sun.net.httpserver.HttpHandler = { ex =>
    val (code, body) =
      try store.reading(f(ex))
      catch { case e: Throwable => (500, s"""{"error":${jsonString(e.getMessage)}}""") }
    if (code == 302) { // body carries the redirect target
      ex.getResponseHeaders.set("Location", body)
      ex.sendResponseHeaders(302, -1)
      ex.close()
    } else {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type",
        if (body.startsWith("<")) "text/html; charset=utf-8"
        else if (body.startsWith("{") || body.startsWith("[")) "application/json"
        else "text/plain")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
  }

  /** Query params from the RAW query string, percent-decoded per
    * component (the reference's aiohttp decodes too; `URI.getQuery`
    * would pre-decode and make an encoded '&' in a value split the
    * pair list).
    */
  private def param(ex: HttpExchange, name: String): Option[String] = {
    def dec(s: String) = java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)
    Option(ex.getRequestURI.getRawQuery).flatMap(
      _.split("&").map(_.split("=", 2)).collectFirst {
        case Array(k, v) if dec(k) == name && v.nonEmpty => dec(v)
      })
  }

  /** Driver-side materialization is CAPPED: `SELECT * FROM events` on
    * a 100 TB store must not OOM the driver. At most `maxRows` rows
    * are collected (limit is pushed into the plan, so Spark stops
    * early); one extra row detects overflow, reported as a
    * `{"rows": …, "truncated": true}` envelope instead of the plain
    * array — the reference fetchall()s unboundedly (dao.py:344-352),
    * this mirrors its semantics up to the cap and then says so.
    */
  private def toJsonArray(df: DataFrame): String = {
    val rows = df.limit(maxRows + 1).toJSON.collect()
    if (rows.length <= maxRows) rows.mkString("[", ",", "]")
    else rows.take(maxRows).mkString(
      s"""{"truncated":true,"limit":$maxRows,"rows":[""", ",", "]}")
  }

  private def jsonString(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
