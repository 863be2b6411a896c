package perfbench

import java.net.{DatagramPacket, DatagramSocket, InetAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQuery

/** The running service as a client sees it: [[graft.GraftMain.start]]
  * on loopback ports, a paced UDP sender, an HTTP client, and the
  * micro-batch record read back from the query's progress.
  */
final class Service(ctx: Main.Ctx, val warehouse: String) {
  graft.sources.udp.UdpSource.lastBoundPort = -1
  val (stream: StreamingQuery, api: graft.api.WebApi, webPort: Int) =
    graft.GraftMain.start(ctx.spark, graft.GraftMain.Config(
      syslogPort = 0, webPort = 0, warehouse = warehouse,
      checkpoint = s"${ctx.dataDir}/checkpoint", periodSeconds = Service.PeriodS))
  val udpPort: Int = {
    val deadline = System.nanoTime() + 60000000000L
    while (graft.sources.udp.UdpSource.lastBoundPort < 0 && System.nanoTime() < deadline)
      Thread.sleep(20)
    require(graft.sources.udp.UdpSource.lastBoundPort > 0, "udp source did not bind")
    graft.sources.udp.UdpSource.lastBoundPort
  }

  val store = new graft.store.ServiceStore(ctx.spark, warehouse)

  /** Rows the source has handed to committed micro-batches. */
  def rowsCommitted(): Long = stream.recentProgress.map(_.numInputRows).sum

  /** Block until `n` rows have been committed (or the timeout passes). */
  def awaitRows(n: Long, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (rowsCommitted() < n && System.nanoTime() < deadline) Thread.sleep(50)
    rowsCommitted() >= n
  }

  /** Every micro-batch so far, with its cumulative row range. */
  def batches(): Seq[Service.Batch] = {
    var cum = 0L
    stream.recentProgress.toSeq.sortBy(_.batchId).map { p =>
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val b = Service.Batch(p.batchId, startMs, startMs + ms("triggerExecution"),
        cum, cum + p.numInputRows,
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets", "triggerExecution").map(k => k -> ms(k)).toMap)
      cum += p.numInputRows
      b
    }
  }

  /** Milliseconds from `sentAtMs` to the start of the micro-batch that
    * committed row `row` (0-based, cumulative) in which no micro-batch
    * ran: how long rows sent by then sat in the source waiting for a
    * trigger. A batch that took part of the rows meanwhile is work, not
    * waiting, so its running time is not counted.
    */
  def triggerWaitMs(sentAtMs: Long, row: Long): Double = {
    val bs = batches()
    bs.find(b => b.fromRow <= row && row < b.toRow).map { carrier =>
      val busy = bs.map { b =>
        math.max(0L, math.min(b.endMs, carrier.startMs) - math.max(b.startMs, sentAtMs))
      }.sum
      math.max(0L, carrier.startMs - sentAtMs - busy).toDouble
    }.getOrElse(0.0)
  }

  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .build()

  /** GET (or POST with a body) on the web port: (status, body). */
  def request(path: String, body: Option[String] = None): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$webPort$path"))
      .timeout(Duration.ofSeconds(60))
    val req = body.fold(b.GET())(s => b.POST(HttpRequest.BodyPublishers.ofString(s))).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    (r.statusCode(), r.body())
  }

  def stop(): Unit = {
    try stream.stop() catch { case _: Throwable => () }
    try api.stop() catch { case _: Throwable => () }
  }
}

object Service {
  /** The service's persist period (the reference's 5 s flush). */
  val PeriodS = 5

  final case class Batch(id: Long, startMs: Long, endMs: Long, fromRow: Long,
                         toRow: Long, phasesMs: Map[String, Long]) {
    def rows: Long = toRow - fromRow
  }

  /** Epoch milliseconds of the next trigger boundary plus `offsetMs`:
    * a processing-time trigger fires on multiples of its period.
    */
  def nextBoundaryMs(offsetMs: Long): Long = {
    val now = System.currentTimeMillis()
    val p = PeriodS * 1000L
    (now / p + 1) * p + offsetMs
  }

  /** Freshness (ms) of rows `firstRow until firstRow + n`: from row
    * `i`'s due time to the end of the batch whose cumulative row range
    * holds it. Rows not yet committed are left out.
    */
  def freshnessMs(batches: Seq[Batch], firstRow: Long, n: Int,
                  dueMs: Int => Double): Seq[Double] = {
    val bs = batches.sortBy(_.fromRow).toIndexedSeq
    var b = 0
    (0 until n).flatMap { i =>
      val row = firstRow + i
      while (b < bs.length && bs(b).toRow <= row) b += 1
      if (b < bs.length && bs(b).fromRow <= row) Some(bs(b).endMs - dueMs(i)) else None
    }
  }

  /** The store's shape and its two metadata/scan costs. */
  def storeLayer(ctx: Main.Ctx, svc: Service): Map[String, Double] = {
    val root = new org.apache.hadoop.fs.Path(svc.warehouse)
    val files = root.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
      .listFiles(root, true)
    var nFiles = 0
    while (files.hasNext) if (files.next().getPath.getName.endsWith(".parquet")) nFiles += 1
    val bytes = svc.store.sizeBytes().toDouble
    Map(
      "store.files" -> nFiles.toDouble,
      "store.bytes" -> bytes,
      "store.bytes_per_row" -> bytes / math.max(1L, svc.store.readAll().count()),
      "store.list_ms" -> medianMs(ctx, "probe.list", 5)(svc.store.list()),
      "store.read_scan_ms" -> medianMs(ctx, "probe.scan", 3) {
        svc.store.readAll().write.format("noop").mode("overwrite").save()
      })
  }

  /** Median wall time (ms) of `reps` calls, each recorded as a span. */
  def medianMs(ctx: Main.Ctx, name: String, reps: Int)(body: => Any): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; val t1 = System.nanoTime()
      ctx.tracer.record(0L, name, t0, t1)
      (t1 - t0) / 1e6
    })

  def readLines(path: String): Array[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).toArray finally src.close()
  }
}

/** Open-loop datagram sender: line `i` is due at `dueMs(i)` (epoch ms)
  * and goes out as soon as the clock passes it, however late that is;
  * lateness is recorded per line.
  */
final class UdpSender(port: Int, lines: IndexedSeq[String], dueMs: Int => Double) {
  val lateMs = new Array[Double](lines.length)
  @volatile var sent = 0
  @volatile private var stopped = false

  private val thread = new Thread("perfbench-udp-sender") {
    override def run(): Unit = {
      val socket = new DatagramSocket()
      val addr = InetAddress.getLoopbackAddress
      try {
        var i = 0
        while (i < lines.length && !stopped) {
          val wait = dueMs(i) - System.currentTimeMillis()
          if (wait > 1) Thread.sleep(math.min(wait.toLong, 50L))
          else {
            // everything due by now goes out in one go
            val now = System.currentTimeMillis()
            while (i < lines.length && dueMs(i) <= now + 1) {
              val bytes = lines(i).getBytes(StandardCharsets.UTF_8)
              socket.send(new DatagramPacket(bytes, bytes.length, addr, port))
              lateMs(i) = math.max(0.0, System.currentTimeMillis() - dueMs(i))
              i += 1
              sent = i
            }
          }
        }
      } finally socket.close()
    }
  }
  thread.setDaemon(true)

  def start(): this.type = { thread.start(); this }
  def stop(): Unit = { stopped = true; thread.join() }
  def join(): Unit = thread.join()
}

/** Client-side request timings, by request kind. */
final class Latencies {
  private val byKind = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var failures = 0L
  def add(kind: String, ms: Double, ok: Boolean): Unit = synchronized {
    byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    if (!ok) failures += 1
  }
  def all: Seq[Double] = synchronized(byKind.values.flatten.toSeq)
  def kinds: Map[String, Seq[Double]] = synchronized(byKind.map { case (k, v) => k -> v.toSeq }.toMap)
  def failed: Long = synchronized(failures)
}
