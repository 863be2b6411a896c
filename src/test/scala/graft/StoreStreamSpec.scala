package graft

import java.nio.file.Files

import graft.query.Console
import graft.sources.{GeoIp, Ingest}
import graft.store.ServiceStore

/** Store O4-O7/O14, console O15 (the O6 live loop is ServiceMainSpec's). */
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
