package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.api.WebApi
import graft.sources.GeoIp
import graft.sources.Ingest
import graft.store.ServiceStore

/** The runnable service — the reference's `__main__.py:29-98` wiring
  * re-expressed on Spark: UDP syslog source (DSv2 `graft-udp`) →
  * [[Ingest.pipeline]] → per-service partitioned [[ServiceStore]], with
  * the micro-batch persist timer as a `ProcessingTime` trigger and the
  * [[WebApi]] (HTML UI + JSON API) on top.
  *
  * ```
  * sbt "runMain graft.GraftMain --syslog-port 65140 --web-port 8080 \
  *   --warehouse /var/lib/graft/wh [--geoip-blocks b.csv --geoip-locations l.csv]"
  * ```
  *
  * Each micro-batch appends, then runs the store's bounded small-file
  * compaction ([[ServiceStore.compactSmallFiles]]) on the same thread,
  * so maintenance is serialized with the store's only writer.
  *
  * Shutdown (SIGINT/SIGTERM) mirrors the reference's finally-block
  * flush (`__main__.py:85-98`): drain everything already received
  * (`processAllAvailable` = the final `ballcone.persist()`), stop the
  * stream, stop the web server, stop Spark.
  */
object GraftMain {

  final case class Config(
      syslogPort: Int = 65140,
      webPort: Int = 8080,
      warehouse: String = "graft-warehouse",
      checkpoint: String = "graft-checkpoint",
      periodSeconds: Int = 5,
      topLimit: Int = 5,
      days: Int = 30,
      geoipBlocks: Option[String] = None,
      geoipBlocksV6: Option[String] = None,
      geoipLocations: Option[String] = None,
      flushTimeoutSeconds: Int = 15,
      master: String = "local[*]")

  /** argparse-equivalent (reference `__main__.py:29-39`). */
  def parseArgs(args: Array[String]): Config =
    args.sliding(2, 2).foldLeft(Config()) {
      case (c, Array("--syslog-port", v)) => c.copy(syslogPort = v.toInt)
      case (c, Array("--web-port", v)) => c.copy(webPort = v.toInt)
      case (c, Array("--warehouse", v)) => c.copy(warehouse = v)
      case (c, Array("--checkpoint", v)) => c.copy(checkpoint = v)
      case (c, Array("--period", v)) => c.copy(periodSeconds = v.toInt)
      case (c, Array("--top-limit", v)) => c.copy(topLimit = v.toInt)
      case (c, Array("--days", v)) => c.copy(days = v.toInt)
      case (c, Array("--geoip-blocks", v)) => c.copy(geoipBlocks = Some(v))
      case (c, Array("--geoip-blocks-v6", v)) => c.copy(geoipBlocksV6 = Some(v))
      case (c, Array("--geoip-locations", v)) => c.copy(geoipLocations = Some(v))
      case (c, Array("--flush-timeout", v)) => c.copy(flushTimeoutSeconds = v.toInt)
      case (c, Array("--master", v)) => c.copy(master = v)
      case (_, Array(flag, _)) =>
        throw new IllegalArgumentException(s"unknown flag: $flag")
      case (_, other) =>
        throw new IllegalArgumentException(
          s"dangling argument: ${other.mkString(" ")}")
    }

  /** Assemble and start every component; returns the running parts so
    * tests (and [[main]]) share one wiring path.
    */
  def start(spark: SparkSession, conf: Config):
      (org.apache.spark.sql.streaming.StreamingQuery, WebApi, Int) = {
    val store = new ServiceStore(spark, conf.warehouse)
    // a partial GeoIP flag set must fail fast, not silently fall back
    // to the demo ranges and enrich every real IP to null
    if ((conf.geoipBlocks.isDefined || conf.geoipBlocksV6.isDefined) !=
        conf.geoipLocations.isDefined)
      throw new IllegalArgumentException(
        "--geoip-blocks/--geoip-blocks-v6 and --geoip-locations must be given together")
    val geo = (conf.geoipBlocks, conf.geoipLocations) match {
      case (Some(b), Some(l)) => GeoIp.fromGeoLite2Csv(spark, b, l)
      case _ => GeoIp.demoRanges(spark)
    }
    val geo6 = (conf.geoipBlocksV6, conf.geoipLocations) match {
      case (Some(b), Some(l)) => Some(GeoIp.fromGeoLite2CsvV6(spark, b, l))
      case _ => None
    }
    // the geo dimensions are re-broadcast every micro-batch — cache once
    geo.cache().count()
    geo6.foreach(_.cache().count())

    // finishes a swap a crash cut short before the first request
    store.compactSmallFiles()
    val stream = spark.readStream
      .format("graft-udp")
      .option("port", conf.syslogPort.toString)
      .load()
      .writeStream
      .option("checkpointLocation", conf.checkpoint)
      .trigger(Trigger.ProcessingTime(s"${conf.periodSeconds} seconds"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        store.append(Ingest.pipeline(batch, geo, geoRangesV6 = geo6))
        // a failed pass must not fail the batch: its rows are already
        // in, and a replayed batch would append them twice. The next
        // pass finishes or retries it.
        try { store.compactSmallFiles(); () }
        catch { case NonFatal(e) =>
          System.err.println(s"graft: maintenance after batch $batchId failed: $e")
        }
      }
      .start()

    val api = new WebApi(spark, store, conf.topLimit, days = conf.days)
    val boundPort = api.start(conf.webPort)
    (stream, api, boundPort)
  }

  /** The settings [[main]] builds its session with. The codegen cache
    * is static (read when the session is built): Spark's default of 100
    * compiled classes thrashes under the report mix, which compiles
    * ~120 distinct class bodies per run, so most request plans would
    * recompile code compiled minutes before.
    */
  val SessionConf: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  def main(args: Array[String]): Unit = {
    val conf = parseArgs(args)
    val spark = SessionConf.foldLeft(
        SparkSession.builder().master(conf.master).appName("graft")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SargableDates
    graft.functions.DotProductExpr.register(spark)

    val (stream, api, port) = start(spark, conf)
    println(s"graft: syslog udp://0.0.0.0:${conf.syslogPort} -> " +
      s"${conf.warehouse}; web http://127.0.0.1:$port")

    val shutdown = new Thread(() => {
      // final flush before exit — the reference's `ballcone.persist()`
      // in its finally block. The drain is BOUNDED: the UDP socket
      // keeps receiving until stop(), so under sustained load an
      // unbounded processAllAvailable() would never return and the
      // supervisor's SIGKILL would skip the flush entirely.
      val drain = new Thread(() => {
        try stream.processAllAvailable()
        catch { case _: Throwable => () }
      }, "graft-drain")
      drain.setDaemon(true)
      drain.start()
      drain.join(conf.flushTimeoutSeconds * 1000L)
      try stream.stop() catch { case _: Throwable => () }
      try api.stop() catch { case _: Throwable => () }
      try spark.stop() catch { case _: Throwable => () }
    }, "graft-shutdown")
    Runtime.getRuntime.addShutdownHook(shutdown)

    stream.awaitTermination()
  }
}
