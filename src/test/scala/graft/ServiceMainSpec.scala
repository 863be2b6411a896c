package graft

import java.net.{DatagramPacket, DatagramSocket, InetAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.sources.{GeoIp, Ingest}
import graft.sources.udp.UdpSource
import graft.store.ServiceStore

/** End-to-end service assembly (reference __main__.py:43-98): real UDP
  * datagrams → graft-udp source → ingest → partitioned store → web API,
  * with the drain-then-stop shutdown flush.
  */
class ServiceMainSpec extends SparkSpec {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("parseArgs mirrors the reference CLI surface") {
    val c = GraftMain.parseArgs(Array(
      "--syslog-port", "6514", "--web-port", "8081",
      "--warehouse", "/w", "--period", "2", "--top-limit", "7",
      "--days", "14"))
    assert(c.syslogPort === 6514 && c.webPort === 8081)
    assert(c.warehouse === "/w" && c.periodSeconds === 2)
    assert(c.topLimit === 7 && c.days === 14)
    intercept[IllegalArgumentException] {
      GraftMain.parseArgs(Array("--bogus", "1"))
    }
    intercept[IllegalArgumentException] {
      GraftMain.parseArgs(Array("--web-port"))
    }
  }

  test("the service's session sizes the codegen cache") {
    val conf = GraftMain.SessionConf.toMap
    assert(conf(org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) ===
      "1000")
    assert(conf("spark.sql.session.timeZone") === "UTC")
  }

  test("udp datagrams land in the store and surface through the api") {
    UdpSource.lastBoundPort = -1
    val conf = GraftMain.Config(
      syslogPort = 0, // ephemeral: test binds whatever is free
      webPort = 0,
      warehouse = tmp("graft-main-wh"),
      checkpoint = tmp("graft-main-ckpt"),
      periodSeconds = 1,
      days = 5000)
    val (stream, api, webPort) = GraftMain.start(spark, conf)
    try {
      // the DSv2 source binds its socket when the query materializes
      val deadline = System.currentTimeMillis() + 30000
      while (UdpSource.lastBoundPort < 0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val udpPort = UdpSource.lastBoundPort
      assert(udpPort > 0, "udp source never bound")

      val socket = new DatagramSocket()
      try {
        (0 until 5).foreach { i =>
          val line =
            s"""<190>x: {"service": "blog", "ip": "10.0.0.$i", "host": "h", """ +
              s""""path": "/p$i", "status": "200", "referrer": "", """ +
              s""""user_agent": "curl/8.0", "length": $i, """ +
              s""""generation_time_milli": 0.5, "date": "2020-01-01T06:00:0$i+00:00"}"""
          val bytes = line.getBytes(StandardCharsets.UTF_8)
          socket.send(new DatagramPacket(bytes, bytes.length,
            InetAddress.getLoopbackAddress, udpPort))
        }
      } finally socket.close()

      // wait for the datagrams to reach the driver buffer, then drain —
      // the same processAllAvailable the shutdown hook runs as its
      // final flush
      val bufDeadline = System.currentTimeMillis() + 30000
      var drained = false
      while (!drained && System.currentTimeMillis() < bufDeadline) {
        Thread.sleep(200)
        stream.processAllAvailable()
        drained = try {
          spark.read.parquet(conf.warehouse).count() >= 5
        } catch { case _: Throwable => false }
      }
      assert(drained, "ingested rows never landed in the warehouse")

      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$webPort/api/blog/count?field=ip")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200)
      assert(resp.body().contains(""""cnt":5"""))
    } finally {
      stream.stop()
      api.stop()
    }
  }

  test("the live loop compacts small files while requests keep answering") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
    UdpSource.lastBoundPort = -1
    val wh = tmp("graft-live-wh")
    val geo = GeoIp.demoRanges(spark)
    val services = Seq("live_a", "live_b")
    var n = 0
    def wave(): Seq[String] = services.flatMap { s =>
      (0 until 2).map { _ =>
        n += 1
        s"""<190>x: {"service": "$s", "ip": "10.0.${n / 256}.${n % 256}", "host": "h", """ +
          s""""path": "/p$n", "status": "200", "referrer": "", "user_agent": "curl/8.0", """ +
          s""""length": $n, "generation_time_milli": 0.5, """ +
          f""""date": "2020-01-01T${n / 60}%02d:${n % 60}%02d:00+00:00"}"""
      }
    }
    // two batches short of the trigger, as the loop would leave them
    val store = new ServiceStore(spark, wh)
    val preload = (0 until ServiceStore.MinSmallFiles - 2).map(_ => wave())
    preload.foreach(ls => store.append(Ingest.pipeline(ls.toDF("value").coalesce(1), geo)))
    def files(s: String): Int = new java.io.File(s"$wh/service=$s").list()
      .count(_.endsWith(".parquet"))

    val (stream, api, webPort) = GraftMain.start(spark, GraftMain.Config(
      syslogPort = 0, webPort = 0, warehouse = wh,
      checkpoint = tmp("graft-live-ckpt"), periodSeconds = 1, days = 5000))
    val client = HttpClient.newHttpClient()
    def status(path: String, body: Option[String]): Int = scala.util.Try {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$webPort$path"))
      client.send(body.fold(b.GET())(q => b.POST(HttpRequest.BodyPublishers.ofString(q))).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
    }.getOrElse(-1)
    @volatile var reading = true
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val maxFiles = new java.util.concurrent.atomic.AtomicInteger()
    val reader = new Thread(() => while (reading) services.foreach { s =>
      answers.add(s"/api/$s/count" -> status(s"/api/$s/count", None))
      answers.add(s"/sql $s" -> status("/sql", Some(s"SELECT count(*) AS n FROM $s")))
      maxFiles.accumulateAndGet(files(s), math.max)
    })
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (UdpSource.lastBoundPort < 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val udpPort = UdpSource.lastBoundPort
      assert(udpPort > 0, "udp source never bound")
      reader.start()
      def committed = stream.recentProgress.map(_.numInputRows).sum
      val socket = new DatagramSocket()
      // one wave per micro-batch: the second one reaches the trigger
      val sent = try (0 until 6).flatMap { _ =>
        val ls = wave()
        val target = committed + ls.size
        ls.foreach { l =>
          val bytes = l.getBytes(StandardCharsets.UTF_8)
          socket.send(new DatagramPacket(bytes, bytes.length,
            InetAddress.getLoopbackAddress, udpPort))
        }
        val waveDeadline = System.currentTimeMillis() + 60000
        while (committed < target && System.currentTimeMillis() < waveDeadline)
          Thread.sleep(50)
        assert(committed >= target, "a wave never landed")
        ls
      } finally socket.close()
      reading = false
      reader.join()

      val failed = scala.jdk.CollectionConverters.IteratorHasAsScala(answers.iterator)
        .asScala.filter(_._2 != 200).toSeq
      assert(answers.size > 0 && failed.isEmpty, failed.take(5).toString)
      services.foreach(s => assert(files(s) < ServiceStore.MinSmallFiles, s"$s: no compaction"))
      assert(maxFiles.get <= ServiceStore.MinSmallFiles + 1, maxFiles.get.toString)
      // the store holds every line sent, each once
      def multiset(df: org.apache.spark.sql.DataFrame) = {
        val cols = df.columns.sorted.map(col)
        df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)"))).head()
      }
      assert(multiset(store.readAll()) ===
        multiset(Ingest.pipeline((preload.flatten ++ sent).toDF("value"), geo)))
    } finally {
      reading = false
      stream.stop()
      api.stop()
    }
  }
}
