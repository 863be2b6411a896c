package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import graft.query.Console
import graft.sources.{GeoIp, Ingest}
import graft.store.ServiceStore
import graft.streaming.IngestStream

/** Store O4-O7/O14, streaming O6, console O15. */
class StoreStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private def lines(n: Int, service: String): Seq[String] =
    (0 until n).map { i =>
      s"""<190>x: {"service": "$service", "ip": "10.0.0.$i", "host": "h", """ +
        s""""path": "/p$i", "status": "200", "referrer": "", "user_agent": "curl/8.0", """ +
        s""""length": $i, "generation_time_milli": 0.1, "date": "2020-01-0${i % 3 + 1}T00:00:0$i+00:00"}"""
    }

  test("store: append partitions by service; list/exists/read/drop/size") {
    val store = new ServiceStore(spark, tmp("graft-wh"))
    val parsed = Ingest.pipeline(
      (lines(3, "alpha") ++ lines(2, "beta")).toDF("value"),
      GeoIp.demoRanges(spark))
    store.append(parsed)
    assert(store.list() === Seq("alpha", "beta"))
    assert(store.exists("alpha") && !store.exists("gamma"))
    assert(store.read("alpha").count() === 3)
    assert(store.read("beta").count() === 2)
    assert(store.sizeBytes() > 0)
    store.drop("beta")
    assert(store.list() === Seq("alpha"))
    // second append = first sight of a new service, no DDL needed
    store.append(parsed.filter($"service" === "beta"))
    assert(store.exists("beta"))
  }

  test("streaming micro-batch ingest equals the batch pipeline") {
    val in = tmp("graft-in")
    val store = new ServiceStore(spark, tmp("graft-wh-stream"))
    val all = lines(4, "svca") ++ lines(3, "svcb") :+ "garbage line"
    Files.write(java.nio.file.Paths.get(in, "batch1.log"),
      String.join("\n", all: _*).getBytes)
    val q = IngestStream.start(spark, in, store, GeoIp.demoRanges(spark),
      tmp("graft-ckpt"), Trigger.AvailableNow())
    q.awaitTermination(60000)
    val streamed = store.readAll()
    val batch = Ingest.pipeline(all.toDF("value"), GeoIp.demoRanges(spark))
    assert(streamed.count() === 7)
    assert(batch.count() === 7)
    // same rows, modulo column order from partitioned layout
    val cols = batch.columns.sorted.toSeq
    assert(streamed.selectExpr(cols: _*).except(batch.selectExpr(cols: _*)).isEmpty)
  }

  test("watermarked daily aggregate stream finalizes closed windows") {
    val in = tmp("graft-agg-in")
    val out = tmp("graft-agg-out")
    // one file per day -> one micro-batch per file, so the watermark
    // advances between batches and earlier windows can finalize
    for (day <- 1 to 5) {
      val dayLines = (0 until 4).map { i =>
        s"""<190>x: {"service": "agg", "ip": "10.0.$day.${i % 2}", "host": "h", """ +
          s""""path": "/", "status": "200", "referrer": "", "user_agent": "curl/8.0", """ +
          s""""length": 1, "generation_time_milli": 0.1, "date": "2020-01-0${day}T12:00:0$i+00:00"}"""
      }
      Files.write(java.nio.file.Paths.get(in, s"day$day.log"),
        String.join("\n", dayLines: _*).getBytes)
    }
    val q = graft.streaming.DailyAggStream.start(spark, in,
      GeoIp.demoRanges(spark), out, tmp("graft-agg-ckpt"),
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(120000)
    val got = spark.read.parquet(out)
      .select("d", "visits", "approx_unique").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
    // watermark = max event time - 1 day; at least the first few days close
    assert(got.nonEmpty, "no windows finalized")
    assert(got.forall { case (_, visits, uniq) => visits === 4L && uniq === 2L },
      got.toString)
    assert(got.map(_._1).forall(d => d.startsWith("2020-01-0")))
  }

  test("late events inside the watermark land in their (still-open) day") {
    val in = tmp("graft-late-in")
    val out = tmp("graft-late-out")
    val ckpt = tmp("graft-late-ckpt")
    def dayLine(day: Int, i: Int) =
      s"""<190>x: {"service": "late", "ip": "10.0.$day.$i", "host": "h", """ +
        s""""path": "/", "status": "200", "referrer": "", "user_agent": "curl/8.0", """ +
        s""""length": 1, "generation_time_milli": 0.1, "date": "2020-01-0${day}T12:00:0$i+00:00"}"""
    // run 1: days 1-2 -> watermark lands at day1 12:00 (max - 1 day),
    // so the day-1 window (ends day2 00:00) is NOT yet finalized
    Files.write(java.nio.file.Paths.get(in, "a.log"),
      ((0 until 4).map(dayLine(1, _)) ++ (0 until 4).map(dayLine(2, _)))
        .mkString("\n").getBytes)
    graft.streaming.DailyAggStream.start(spark, in, GeoIp.demoRanges(spark),
      out, ckpt, Trigger.AvailableNow()).awaitTermination(120000)
    // run 2 (same checkpoint — watermark restored): one LATE day-1
    // event still inside the watermark, plus day-4 rows that push the
    // watermark past the day-1 window end and finalize it
    Files.write(java.nio.file.Paths.get(in, "b.log"),
      (Seq(dayLine(1, 9)) ++ (0 until 4).map(dayLine(4, _)))
        .mkString("\n").getBytes)
    graft.streaming.DailyAggStream.start(spark, in, GeoIp.demoRanges(spark),
      out, ckpt, Trigger.AvailableNow()).awaitTermination(120000)
    val got = spark.read.parquet(out)
      .select("d", "visits").collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // the late event was ACCEPTED: day 1 finalized with 4 + 1 visits
    assert(got.get("2020-01-01") === Some(5L), got.toString)
  }

  test("streaming dashboard keeps live per-service counters (complete mode)") {
    val in = tmp("graft-dash-in")
    Files.write(java.nio.file.Paths.get(in, "a.log"),
      (lines(4, "blog") ++ lines(2, "shop")).mkString("\n").getBytes)
    val q = graft.streaming.DashboardStream.start(spark, in,
      GeoIp.demoRanges(spark), "dash_live", tmp("graft-dash-ckpt"),
      Trigger.AvailableNow())
    q.awaitTermination(120000)
    val got = spark.table("dash_live")
      .collect().map(r => r.getAs[String]("service") ->
        (r.getAs[Long]("visits"), r.getAs[Long]("approx_unique"))).toMap
    // the fixture's ips are distinct per service, so the HLL sketch is
    // exact at this cardinality
    assert(got === Map("blog" -> ((4L, 4L)), "shop" -> ((2L, 2L))), got.toString)
  }

  test("console: runs SQL, renders errors, exposes catalog shims") {
    val store = new ServiceStore(spark, tmp("graft-wh-sql"))
    store.append(Ingest.pipeline(lines(2, "svc").toDF("value"),
      GeoIp.demoRanges(spark)))
    val console = new Console(spark, store)
    console.refreshShims()
    assert(console.run(console.defaultQuery).toOption.get
      .head().getLong(0) > 0)
    assert(console.run("SELECT name FROM graft_tables").toOption.get
      .as[String].collect().toSeq === Seq("svc"))
    assert(console.run("SELECT count(*) AS n FROM svc").toOption.get
      .head().getLong(0) === 2)
    assert(console.run("SELECT definitely not sql !!").isLeft)
  }

  test("a service dropped after it was looked up reads as empty") {
    val wh = tmp("graft-wh-gone")
    val store = new ServiceStore(spark, wh)
    store.append(Ingest.pipeline((lines(3, "alpha") ++ lines(2, "beta"))
      .toDF("value"), GeoIp.demoRanges(spark)))
    val cols = store.read("beta").columns.toSeq
    store.drop("beta")
    // the read of a vanished directory: empty, same columns, no throw
    val gone = store.read("beta")
    assert(gone.count() === 0L && gone.columns.toSeq === cols)
    // also when the store's schema is first inferred after the drop
    val fresh = new ServiceStore(spark, wh)
    assert(fresh.read("beta").count() === 0L)
    assert(fresh.read("alpha").count() === 3L)
    // console views rebuilt from a listing taken before the drop
    val console = new Console(spark, store)
    console.refreshShims(Seq("alpha", "beta"))
    assert(console.run("SELECT count(*) FROM beta").toOption.get
      .head().getLong(0) === 0L)
    assert(console.run("SELECT count(*) FROM alpha").toOption.get
      .head().getLong(0) === 3L)
  }

  test("console: db-size scalar is TTL-cached (O21)") {
    val store = new ServiceStore(spark, tmp("graft-wh-ttl"))
    store.append(Ingest.pipeline(lines(2, "svc").toDF("value"),
      GeoIp.demoRanges(spark)))
    val console = new Console(spark, store)
    val first = console.cachedSizeBytes()
    store.append(Ingest.pipeline(lines(3, "other").toDF("value"),
      GeoIp.demoRanges(spark)))
    assert(console.cachedSizeBytes() === first)  // stale within TTL
    assert(console.cachedSizeBytes(0) > first)   // expired -> refreshed
  }

  test("export/import round-trip preserves every row (duck-upgrade parity)") {
    val src = new ServiceStore(spark, tmp("graft-wh-exp"))
    src.append(Ingest.pipeline((lines(4, "alpha") ++ lines(3, "beta"))
      .toDF("value"), GeoIp.demoRanges(spark)))
    val dump = tmp("graft-dump")
    assert(src.exportTo(dump) === 7L)
    val dst = new ServiceStore(spark, tmp("graft-wh-imp"))
    val (expected, landed) = dst.importFrom(dump)
    assert(expected === 7L && landed === 7L)
    assert(dst.list() === Seq("alpha", "beta"))
    val cols = src.readAll().columns.sorted.toSeq
    assert(dst.readAll().selectExpr(cols: _*)
      .except(src.readAll().selectExpr(cols: _*)).isEmpty)
  }

  test("bulk migration lands every source row (O22)") {
    val src = new ServiceStore(spark, tmp("graft-wh-src"))
    src.append(Ingest.pipeline((lines(5, "alpha") ++ lines(4, "beta"))
      .toDF("value"), GeoIp.demoRanges(spark)))
    val dst = new ServiceStore(spark, tmp("graft-wh-dst"))
    val (expected, landed) = dst.migrate(src.readAll(), "service")
    assert(expected === 9L)
    assert(landed === 9L)
    assert(dst.list() === Seq("alpha", "beta"))
  }
}
