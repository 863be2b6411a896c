package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{GeoIp, Ingest}

/** `ingest`: open-loop replay of nginx JSON syslog datagrams over
  * loopback UDP into the running service.
  *
  * The timed window starts just after a trigger boundary. For all but
  * its last period the sender runs at [[SteadyRate]], about a third of
  * the one-task micro-batch capacity; in the last period it sends a
  * paced burst of [[BurstRows]] at [[BurstRate]], which the loop drains
  * as a backlog. One dashboard poller reads in the background. Work
  * goes udp source → micro-batch loop → Ingest.pipeline →
  * ServiceStore.append and barely touches the report code.
  *
  * Freshness of a datagram: from its scheduled send to the end of the
  * micro-batch that committed it, rows mapped to batches through the
  * cumulative `numInputRows` of the query's progress.
  */
object IngestWorkload {
  val SteadyRate = 2000
  val BurstRate = 15000
  val BurstRows = 15000
  val WarmRows = 2000

  def run(ctx: Main.Ctx): Outcome = {
    val spark = ctx.spark
    val all = Service.readLines(s"${ctx.dataDir}/lines.txt")
    val steadyS = math.max(Service.PeriodS, ctx.seconds - Service.PeriodS)
    val steadyRows = SteadyRate * steadyS
    val burstRows = math.min(BurstRows, all.length - WarmRows - steadyRows)
    require(burstRows > 0, s"need more input lines than ${all.length}")
    val timedLines = all.slice(WarmRows, WarmRows + steadyRows + burstRows)
    val svc = new Service(ctx, s"${ctx.dataDir}/warehouse")
    val yesterday = graft.core.Dates.todayUtc().minusDays(1).toString
    val dashboardPath = s"/api/dashboard?date=$yesterday"

    // set-up: one warm micro-batch through the whole path, one report
    new UdpSender(svc.udpPort, all.take(WarmRows).toIndexedSeq,
      _ => System.currentTimeMillis().toDouble).start().join()
    val warmSentMs = System.currentTimeMillis()
    require(svc.awaitRows(WarmRows, 60), "warm-up rows did not land")
    svc.request(dashboardPath)
    ctx.ready(svc.triggerWaitMs(warmSentMs, WarmRows - 1) / 1000)

    // timed window: steady rate from just after a boundary, then the burst
    val t0Ms = Service.nextBoundaryMs(100).toDouble
    val burstAtMs = t0Ms + steadyS * 1000.0
    def due(i: Int): Double =
      if (i < steadyRows) t0Ms + i * 1000.0 / SteadyRate
      else burstAtMs + (i - steadyRows) * 1000.0 / BurstRate
    while (System.currentTimeMillis() < t0Ms - 50) Thread.sleep(10)
    val winStartMs = System.currentTimeMillis()
    val cpu0 = Env.cpuSeconds()
    val sender = new UdpSender(svc.udpPort, timedLines.toIndexedSeq, due).start()
    val api = new Latencies
    @volatile var polling = true
    val poller = new Thread(() => {
      while (polling) {
        val s0 = System.nanoTime()
        val ok = scala.util.Try(svc.request(dashboardPath)._1 == 200).getOrElse(false)
        val s1 = System.nanoTime()
        api.add("dashboard", (s1 - s0) / 1e6, ok)
        ctx.tracer.record(0L, "http./api/dashboard", s0, s1)
        Thread.sleep(math.max(0L, 1000L - (s1 - s0) / 1000000L))
      }
    }, "perfbench-poller")
    poller.setDaemon(true)
    poller.start()
    sender.join()
    val landed = svc.awaitRows(WarmRows + timedLines.length, 90)
    polling = false
    poller.join()
    val cpuS = Env.cpuSeconds() - cpu0
    Main.log(s"ingest: ${sender.sent} datagrams sent and committed: $landed")
    val batches = svc.batches().filter(_.toRow > WarmRows)
    val winEndMs = batches.map(_.endMs).maxOption.getOrElse(System.currentTimeMillis())

    val fresh = Service.freshnessMs(batches, WarmRows, steadyRows, due)
    val burstFirst = WarmRows.toLong + steadyRows
    val drainBatches = batches.filter(_.toRow > burstFirst)
    val drainRowsPerS = drainBatches.map(_.rows).sum /
      (drainBatches.map(_.phasesMs("triggerExecution")).sum / 1000.0)
    val rowsLanded = batches.map(b => b.toRow - math.max(b.fromRow, WarmRows)).sum

    // traced: one request of each report kind on the quiet service
    val kindsMs =
      if (ctx.tracer.enabled) ReportsWorkload.eachKindOnce(ctx, svc) else Map.empty[String, Double]

    // correctness, outside the timed window: the store holds exactly
    // what Ingest.pipeline makes of every line sent, as one batch
    svc.stop()
    val sentLines = all.take(WarmRows + sender.sent)
    val geo = GeoIp.demoRanges(spark)
    val expected = multisetHash(Ingest.pipeline(linesDf(ctx, sentLines), geo))
    val actual = multisetHash(svc.store.readAll())
    val checks = mutable.ArrayBuffer.empty[String]
    if (!landed) checks += s"only ${svc.rowsCommitted()} of ${WarmRows + timedLines.length} rows committed"
    if (expected != actual) checks += s"store differs from Ingest.pipeline: expected $expected, got $actual"

    Main.log("ingest: correctness checked")
    val e2e = Map(
      "cpu_ms_per_op" -> cpuS * 1000 / math.max(1L, rowsLanded),
      "freshness_p50_s" -> Stats.median(fresh) / 1000)

    val layers = mutable.Map[String, Double](
      "udp.sent" -> sender.sent.toDouble,
      "udp.landed" -> rowsLanded.toDouble,
      "udp.drop_ratio" -> (sender.sent - rowsLanded).toDouble / sender.sent,
      "gen.late_p99_ms" -> Stats.quantile(sender.lateMs.toSeq, 0.99),
      "ingest.freshness_p99_s" -> Stats.quantile(fresh, 0.99) / 1000,
      "ingest.drain_rows_per_s" -> drainRowsPerS,
      "api.p50_ms" -> Stats.median(api.all),
      "api.p90_ms" -> Stats.quantile(api.all, 0.9),
      "api.rps" -> api.all.size / ((winEndMs - winStartMs) / 1000.0),
      "api.error_ratio" -> api.failed.toDouble / math.max(1, api.all.size),
      "cpu_s" -> cpuS)
    layers ++= Streaming.layer(batches)
    if (ctx.tracer.enabled) {
      layers ++= kindsMs
      layers("api.dashboard_ms") = Stats.median(api.all) // the poller's, in the window
      layers ++= layerProbes(ctx, sentLines.takeRight(20000), geo)
      layers ++= Service.storeLayer(ctx, svc)
      layers ++= ReportsWorkload.reportsLayer(ctx, svc)
      val (ops, opChecks) = OperatorsProbe.run(ctx)
      layers ++= ops
      checks ++= opChecks
      val batchSpans = Streaming.emitSpans(ctx.tracer, batches)
      ctx.sparkLayer.foreach { l =>
        Thread.sleep(500)
        layers ++= l.totals(winStartMs, winEndMs)
        layers("spark.jobs_per_request") = l.jobsIn(winStartMs, winEndMs)
          .count(_.batchId.isEmpty).toDouble / math.max(1, api.all.size)
        layers("stream.tasks_per_batch") = l.tasksOf(
          l.jobsIn(winStartMs, winEndMs).filter(_.batchId.isDefined)) /
          math.max(1, batches.size).toDouble
        l.emitSpans(ctx.tracer, Map.empty, batchSpans,
          ctx.tracer.all.filter(_.name.startsWith("http.")), winStartMs, winEndMs)
      }
    }
    Outcome(checks.isEmpty, sender.sent.toLong + api.all.size, api.failed,
      e2e, layers.toMap, checks.toSeq)
  }

  def linesDf(ctx: Main.Ctx, lines: Seq[String]): DataFrame = {
    import ctx.spark.implicits._
    lines.toDF("value")
  }

  /** Per-service (rows, sum of row hashes): equal multisets of rows
    * give equal values, whatever the file or row order.
    */
  def multisetHash(df: DataFrame): Map[String, (Long, BigDecimal)] = {
    val cols = Seq("datetime", "host", "path", "status", "length", "generation_time",
      "referer", "ip", "country_iso_code", "platform_name", "platform_version",
      "browser_name", "browser_version", "is_robot").map(col)
    df.groupBy("service")
      .agg(count(lit(1)).as("n"), sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toMap
  }

  /** Each layer timed alone on the same lines, as one task like a live
    * micro-batch: parse (frame + wire), the full pipeline, and the
    * store append of already-enriched rows (into scratch stores).
    */
  def layerProbes(ctx: Main.Ctx, lines: Seq[String], geo: DataFrame): Map[String, Double] = {
    val spark = ctx.spark
    val df = linesDf(ctx, lines).coalesce(1)
    val n = lines.size.toDouble
    val parseS = Service.medianMs(ctx, "probe.parse", 3) {
      Ingest.parseWire(Ingest.parseFrame(df)).write.format("noop").mode("overwrite").save()
    } / 1000
    val enrichS = Service.medianMs(ctx, "probe.enrich", 3) {
      Ingest.pipeline(df, geo).write.format("noop").mode("overwrite").save()
    } / 1000
    val enriched = Ingest.pipeline(df, geo).localCheckpoint()
    var k = 0
    val appendS = Service.medianMs(ctx, "probe.append", 3) {
      k += 1
      new graft.store.ServiceStore(spark, s"${ctx.dataDir}/probe-store-$k").append(enriched)
    } / 1000
    Map(
      "ingest.parse_rows_per_s" -> n / parseS,
      "ingest.enrich_rows_per_s" -> n / enrichS,
      "store.append_rows_per_s" -> n / appendS)
  }
}

/** The `streaming` layer, from the query's own progress records. */
object Streaming {
  private val Phases = Seq("triggerExecution" -> "trigger", "addBatch" -> "add_batch",
    "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets",
    "queryPlanning" -> "query_planning")

  def layer(batches: Seq[Service.Batch]): Map[String, Double] =
    Map("stream.batches" -> batches.size.toDouble,
      "stream.rows_per_batch_p50" -> Stats.median(batches.map(_.rows.toDouble))) ++
      Phases.map { case (k, n) =>
        s"stream.${n}_ms_p50" -> Stats.median(batches.map(_.phasesMs(k).toDouble))
      }

  /** A span per micro-batch (parent: the workload) with its progress
    * phases as children, laid end to end in the order the engine runs
    * them; returns batchId → span id for job attribution.
    */
  def emitSpans(tracer: Tracer, batches: Seq[Service.Batch]): Map[String, Long] =
    batches.map { b =>
      val start = tracer.nanosOfEpochMs(b.startMs)
      val id = tracer.record(0L, "stream.batch", start, tracer.nanosOfEpochMs(b.endMs),
        Map("batch_id" -> b.id.toString, "rows" -> b.rows.toString))
      var at = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = b.phasesMs(k) * 1000000L
          tracer.record(id, s"stream.$k", at, at + d)
          at += d
        }
      b.id.toString -> id
    }.toMap
}
