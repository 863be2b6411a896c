package perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame

import graft.operators.Reports
import graft.sources.{GeoIp, Ingest}

/** `reports`: a closed loop of one HTTP client sending the report mix to
  * a store preloaded the way the live loop fills it, while a trickle of
  * background ingest keeps writing beside the reads.
  *
  * Set-up fills the store the way the live loop would have, had it
  * run for [[PreloadPeriods]] trigger periods at [[LiveRate]] rows/s:
  * one Ingest.pipeline + ServiceStore.append of a period's rows per
  * period, so each service holds one small file per period. Then it
  * sends one warm block of requests. The mix
  * covers the dashboard, count, count distinct, average, count-group
  * top-N, the merged report, the service page, the root page and one
  * `/sql` aggregate, over 1-day and 30-day windows so date pruning
  * shows. After the loop the background ingest is stopped and drained,
  * and one request of each kind is checked against the same report
  * computed straight from [[Reports]] on the store.
  */
object ReportsWorkload {
  /** The live rate the store was filled at, and the background rate. */
  val LiveRate = 100
  val PreloadPeriods = 24
  val PreloadRows = LiveRate * Service.PeriodS * PreloadPeriods
  val BackgroundRate = LiveRate
  val WarmStreamRows = 400
  val DrainRows = 10000
  val TopLimit = 5
  val Kinds = 9
  /** A block takes about 5 s on a 4-core box. */
  def blocksFor(seconds: Int): Int = math.max(1, (seconds + 4) / 5)
  val Days = 30

  final case class Req(kind: String, path: String, body: Option[String])

  def run(ctx: Main.Ctx): Outcome = {
    val spark = ctx.spark
    val all = Service.readLines(s"${ctx.dataDir}/lines.txt")
    require(all.length > PreloadRows, s"need more input lines than ${all.length}")
    val preload = all.take(PreloadRows)
    val background = all.drop(PreloadRows)
    val svc = new Service(ctx, s"${ctx.dataDir}/warehouse")
    val geo = GeoIp.demoRanges(spark).cache()
    Main.log("reports: service started")

    // set-up: the preload goes through the same pipeline and append as
    // the live loop, as a single-task append of one period's rows per
    // period
    preload.grouped(LiveRate * Service.PeriodS).foreach { slice =>
      svc.store.append(Ingest.pipeline(IngestWorkload.linesDf(ctx, slice.toSeq).coalesce(1), geo))
    }
    Main.log("reports: preloaded")
    new UdpSender(svc.udpPort, background.take(WarmStreamRows).toIndexedSeq,
      _ => System.currentTimeMillis().toDouble).start().join()
    val warmSentMs = System.currentTimeMillis()
    require(svc.awaitRows(WarmStreamRows, 60), "warm-up rows did not land")
    Main.log("reports: stream warm")
    val services = svc.store.list()
    val seq = requests(new scala.util.Random(ctx.seed), services, 1 + blocksFor(ctx.seconds))
    val firstOfKind = seq.groupBy(_.kind).map { case (k, rs) => k -> rs.head }
    // warm-up: one block, sent as the loop sends it
    seq.take(Kinds).foreach(send(svc, _))
    ctx.ready(svc.triggerWaitMs(warmSentMs, WarmStreamRows - 1) / 1000)
    // `/sql` reads views the service rebuilds at most every 30 s, so its
    // answer is checked here, on the quiet store its warm-up request
    // just rebuilt them from; every other kind is checked after the loop
    val checks = mutable.ArrayBuffer.empty[String]
    checks ++= verify(ctx, svc, firstOfKind("sql"))
    Main.log(s"reports: ${svc.store.list().size} services preloaded, ${seq.size} requests queued")

    // timed window: a closed loop of one client, which keeps the service
    // below saturation on a small box so latency is service time, not
    // queueing; it starts just after a trigger boundary so the background
    // micro-batches fall at the same offsets in every run
    val lat = new Latencies
    val windowAtMs = Service.nextBoundaryMs(100)
    while (System.currentTimeMillis() < windowAtMs) Thread.sleep(5)
    val cpu0 = Env.cpuSeconds()
    val winStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val bgStartMs = System.currentTimeMillis().toDouble
    val bgDue = (i: Int) => bgStartMs + i * 1000.0 / BackgroundRate
    val bg = new UdpSender(svc.udpPort, background.drop(WarmStreamRows).toIndexedSeq, bgDue).start()
    // a fixed number of whole blocks, about `seconds` of work, so every
    // run sends the same requests
    (Kinds until Kinds * (1 + blocksFor(ctx.seconds))).foreach { i =>
      val r = seq(i)
      val s0 = System.nanoTime()
      val ok = scala.util.Try(send(svc, r)._1 == 200).getOrElse(false)
      val s1 = System.nanoTime()
      lat.add(r.kind, (s1 - s0) / 1e6, ok)
      ctx.tracer.record(0L, s"http.${r.kind}", s0, s1, Map("path" -> r.path))
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = Env.cpuSeconds() - cpu0
    val winEndMs = System.currentTimeMillis()
    bg.stop()
    val drained = svc.awaitRows(WarmStreamRows + bg.sent, 60)
    val batches = svc.batches()
    val fresh = Service.freshnessMs(batches, WarmStreamRows, bg.sent, bgDue)

    Main.log(f"reports: ${lat.all.size} requests in $wallS%.1f s")
    // correctness: the background ingest has stopped and landed; each
    // kind's body must equal the report computed straight on the store
    if (!drained) checks += s"background ingest: only ${svc.rowsCommitted()} rows committed"
    checks ++= inParallel(Env.nproc, firstOfKind.values.toSeq.filter(_.kind != "sql")
      .sortBy(_.kind))(verify(ctx, svc, _)).flatten
    Main.log("reports: correctness checked")

    val times = lat.all
    val e2e = Map(
      "cpu_ms_per_op" -> cpuS * 1000 / math.max(1, times.size),
      "freshness_p50_s" -> Stats.median(fresh) / 1000)
    val layers = mutable.Map[String, Double](
      "api.p50_ms" -> Stats.median(times),
      "api.p90_ms" -> Stats.quantile(times, 0.9),
      "api.rps" -> times.size / wallS,
      "api.error_ratio" -> lat.failed.toDouble / math.max(1, times.size),
      "udp.sent" -> bg.sent.toDouble,
      "udp.landed" -> (svc.rowsCommitted() - WarmStreamRows).toDouble,
      "udp.drop_ratio" -> (WarmStreamRows + bg.sent - svc.rowsCommitted()).toDouble / math.max(1, bg.sent),
      "gen.late_p99_ms" -> Stats.quantile(bg.lateMs.take(bg.sent).toSeq, 0.99),
      "ingest.freshness_p99_s" -> Stats.quantile(fresh, 0.99) / 1000,
      "cpu_s" -> cpuS)
    lat.kinds.foreach { case (k, v) => layers(s"api.${k}_ms") = Stats.median(v) }
    if (ctx.tracer.enabled) {
      layers ++= Service.storeLayer(ctx, svc)
      layers("ingest.drain_rows_per_s") = drainProbe(svc, preload.take(DrainRows))
      svc.stop()
      layers ++= IngestWorkload.layerProbes(ctx, preload.toSeq, geo)
      layers ++= reportsLayer(ctx, svc)
      val (ops, opChecks) = OperatorsProbe.run(ctx)
      layers ++= ops
      checks ++= opChecks
      val timedBatches = batches.filter(_.toRow > WarmStreamRows)
      layers ++= Streaming.layer(timedBatches)
      val batchSpans = Streaming.emitSpans(ctx.tracer, timedBatches)
      ctx.sparkLayer.foreach { l =>
        Thread.sleep(500)
        layers ++= l.totals(winStartMs, winEndMs)
        val requestJobs = l.jobsIn(winStartMs, winEndMs).count(_.batchId.isEmpty)
        layers("spark.jobs_per_request") = requestJobs.toDouble / math.max(1, times.size)
        layers("stream.tasks_per_batch") = l.tasksOf(l.jobsIn(winStartMs, winEndMs)
          .filter(_.batchId.isDefined)) / math.max(1, timedBatches.size).toDouble
        l.emitSpans(ctx.tracer, Map.empty, batchSpans,
          ctx.tracer.all.filter(_.name.startsWith("http.")), winStartMs, winEndMs)
      }
    }
    Outcome(checks.isEmpty, times.size.toLong, lat.failed, e2e, layers.toMap, checks.toSeq)
  }

  /** A backlog sent all at once just after a trigger boundary, as in
    * `ingest`: rows of the batches that carried it per second of their
    * `triggerExecution`. The store keeps the extra rows.
    */
  private def drainProbe(svc: Service, lines: Seq[String]): Double = {
    val before = svc.rowsCommitted()
    val at = Service.nextBoundaryMs(100)
    while (System.currentTimeMillis() < at) Thread.sleep(5)
    new UdpSender(svc.udpPort, lines.toIndexedSeq, _ => System.currentTimeMillis().toDouble)
      .start().join()
    svc.awaitRows(before + lines.size, 60)
    val bs = svc.batches().filter(_.toRow > before)
    bs.map(_.rows).sum / (bs.map(_.phasesMs("triggerExecution")).sum / 1000.0)
  }

  /** One request of each kind, sequentially: p50 per kind, in ms. */
  def eachKindOnce(ctx: Main.Ctx, svc: Service): Map[String, Double] =
    requests(new scala.util.Random(ctx.seed), svc.store.list(), 1).map { r =>
      val s0 = System.nanoTime()
      send(svc, r)
      val s1 = System.nanoTime()
      ctx.tracer.record(0L, s"http.${r.kind}", s0, s1, Map("path" -> r.path))
      s"api.${r.kind}_ms" -> (s1 - s0) / 1e6
    }.toMap

  /** `f` over `xs` on `threads` threads, results in order. */
  private def inParallel[A, B](threads: Int, xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration(5, "min"))
    finally pool.shutdown()
  }

  /** None when the service answers `r` with exactly the direct result. */
  private def verify(ctx: Main.Ctx, svc: Service, r: Req): Option[String] = {
    val (code, body) = send(svc, r)
    val want = expected(ctx, svc, r)
    val got = if (r.kind == "root_page") graft.api.PageOracle.maskSize(body) else body
    if (code == 200 && got == want) None
    else Some(s"${r.kind} ${r.path}: HTTP $code body differs from the direct result " +
      s"(got ${got.take(160)}..., want ${want.take(160)}...)")
  }

  private def send(svc: Service, r: Req): (Int, String) = svc.request(r.path, r.body)

  /** The request sequence: blocks that hold each of the nine kinds
    * once, in an order the seed sets. Each kind always goes to the same
    * service with the same kind of window (the whole 30 days, or one
    * day the seed picks), so every block, and every run however many
    * blocks it completes, sends the same blend of heavy and light work.
    */
  def requests(rnd: scala.util.Random, services: Seq[String], blocks: Int): IndexedSeq[Req] = {
    val today = graft.core.Dates.todayUtc()
    (0 until blocks).flatMap(_ => rnd.shuffle((0 until Kinds).toList)).map { kind =>
      val s = services((kind * 2) % services.size)
      val (a, b) =
        if (kind % 2 == 0) { val d = today.minusDays(1L + rnd.nextInt(Days)); (d, d) }
        else (today.minusDays(Days.toLong), today.minusDays(1))
      val w = s"start=$a&stop=$b"
      kind match {
        case 0 => Req("dashboard", s"/api/dashboard?date=$a", None)
        case 1 => Req("count", s"/api/$s/count?$w", None)
        case 2 => Req("count_distinct", s"/api/$s/count?field=ip&$w", None)
        case 3 => Req("average", s"/api/$s/average/generation_time?$w", None)
        case 4 => Req("count_group", s"/api/$s/count-group/ip/path?$w&limit=$TopLimit", None)
        case 5 => Req("report", s"/api/$s/report?$w", None)
        case 6 => Req("service_page", s"/services/$s", None)
        case 7 => Req("root_page", s"/?date=$a", None)
        case _ => Req("sql", "/sql", Some(sqlOf(s, a, b)))
      }
    }
  }

  private def sqlOf(s: String, a: LocalDate, b: LocalDate): String =
    s"SELECT status, COUNT(*) AS n, ROUND(AVG(generation_time), 6) AS avg_gt FROM $s " +
      s"WHERE datetime >= TIMESTAMP'$a 00:00:00' AND datetime < TIMESTAMP'${b.plusDays(1)} 00:00:00' " +
      "GROUP BY status ORDER BY status"

  private def param(path: String, k: String): Option[String] =
    path.dropWhile(_ != '?').drop(1).split("&").map(_.split("=", 2)).collectFirst {
      case Array(`k`, v) => v
    }

  private def json(df: DataFrame): String = df.toJSON.collect().mkString("[", ",", "]")

  /** What the service should answer to `r`, computed without HTTP. */
  private def expected(ctx: Main.Ctx, svc: Service, r: Req): String = {
    val store = svc.store
    lazy val s = r.path.split("/")(2).takeWhile(_ != '?')
    lazy val df = store.read(s)
    lazy val (a, b) = (param(r.path, "start"), param(r.path, "stop"))
    r.kind match {
      case "dashboard" =>
        graft.api.PageOracle.dashboardCounts(store, param(r.path, "date").get)
          .map { case (sv, c) => s"""{"service":${Json.str(sv)},"unique":$c}""" }
          .mkString("[", ",", "]")
      case "count" => json(Reports.dailyCount(df, "datetime", None, a, b))
      case "count_distinct" => json(Reports.dailyCount(df, "datetime", Some("ip"), a, b))
      case "average" => json(Reports.dailyAverage(df, "datetime", "generation_time", a, b))
      case "count_group" => json(Reports.topNPerDay(df, "datetime", "ip", "path",
        distinct = true, ascending = false, n = TopLimit, a, b))
      case "report" => json(Reports.alignByDate(
        Reports.dailyCount(df, "datetime", None, a, b),
        Reports.dailyCount(df, "datetime", Some("ip"), a, b)))
      case "service_page" => graft.api.PageOracle.service(store, s, Days, TopLimit)
      case "root_page" => graft.api.PageOracle.root(store, param(r.path, "date").get)
      case "sql" =>
        val console = new graft.query.Console(ctx.spark, store)
        console.refreshShims()
        json(console.run(r.body.get).toOption.get)
    }
  }

  /** `operators.Reports` called directly, without HTTP, on the largest
    * service over the full window: median of three collects each.
    */
  def reportsLayer(ctx: Main.Ctx, svc: Service): Map[String, Double] = {
    val today = graft.core.Dates.todayUtc()
    val (a, b) = (Some(today.minusDays(Days.toLong).toString), Some(today.minusDays(1).toString))
    val df = svc.store.read(svc.store.list().head)
    def t(name: String)(q: => DataFrame): (String, Double) =
      s"reports.${name}_ms" -> Service.medianMs(ctx, s"reports.$name", 3)(q.collect())
    Map(
      t("daily_count")(Reports.dailyCount(df, "datetime", None, a, b)),
      t("daily_unique")(Reports.dailyCount(df, "datetime", Some("ip"), a, b)),
      t("daily_average")(Reports.dailyAverage(df, "datetime", "generation_time", a, b)),
      t("top_n_per_day")(Reports.topNPerDay(df, "datetime", "ip", "path",
        distinct = true, ascending = false, n = TopLimit, a, b)),
      t("align_by_date")(Reports.alignByDate(Reports.dailyCount(df, "datetime", None, a, b),
        Reports.dailyCount(df, "datetime", Some("ip"), a, b))),
      t("dashboard")(Reports.dashboard(svc.store.readAll(), "datetime", "service", "ip",
        b.get)))
  }
}
