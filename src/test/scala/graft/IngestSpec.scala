package graft

import org.apache.spark.sql.Row
import graft.sources.{GeoIp, Ingest}
import graft.store.ServiceStore

/** Ingest pipeline O1-O3: frame/JSON parsing, drop rules, enrichment
  * (reference semantics: ballcone/syslog_protocol.py:32-90).
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def parse(lines: String*) =
    Ingest.pipeline(lines.toDF("value"), GeoIp.demoRanges(spark))

  private def wire(service: String = "example", ip: String = "10.1.2.3",
                   path: String = "/", status: String = "200",
                   referrer: String = "", ua: String = "curl/8.0",
                   date: String = "2020-01-01T12:00:00+00:00"): String =
    s"""<190>Jan  1 12:00:00 host nginx: {"service": "$service", "ip": "$ip", """ +
      s""""host": "example.com", "path": "$path", "status": "$status", """ +
      s""""referrer": "$referrer", "user_agent": "$ua", "length": 1024, """ +
      s""""generation_time_milli": 0.25, "date": "$date"}"""

  test("valid line parses into one enriched entry") {
    val rows = parse(wire()).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[String]("service") === "example")
    assert(r.getAs[Short]("status") === 200)
    assert(r.getAs[Int]("length") === 1024)
    assert(r.getAs[Double]("generation_time") === 0.25)
    assert(r.getAs[String]("country_iso_code") === "US")
  }

  test("malformed frame, malformed JSON, missing/invalid service drop") {
    val rows = parse(
      "no syslog frame here",
      "<190>ok frame: but { not json",
      wire(service = "bad name!"),
      wire(service = ""),
      wire(service = "KeptOne"))
    assert(rows.count() === 1)
    assert(rows.head().getAs[String]("service") === "keptone") // lower+trim
  }

  test("service names strip whitespace at both ends; inner whitespace drops") {
    // JSON escapes: the parsed names are "shop\n", " Shop\t", "sh\nop"
    val rows = parse(wire(service = "shop\\n"), wire(service = " Shop\\t"),
      wire(service = "sh\\nop"))
    assert(rows.select("service").as[String].collect().toSeq ===
      Seq("shop", "shop"))
    val store = new ServiceStore(spark,
      java.nio.file.Files.createTempDirectory("graft-wh-names").toString)
    store.append(rows)
    assert(store.list() === Seq("shop") && store.exists("shop"))
    assert(!store.checkService("shop\n"))
  }

  test("ISO-8601 offset normalizes to UTC instant") {
    val r = parse(wire(date = "2020-01-01T12:00:00+03:00")).head()
    assert(r.getAs[java.sql.Timestamp]("datetime").toInstant.toString
      === "2020-01-01T09:00:00Z")
  }

  test("path is percent-decoded, '+' preserved, undecodable passes through") {
    val rows = parse(
      wire(path = "/%D0%B0?q=1"),
      wire(path = "/a+b"),
      wire(path = "/bad%zz"))
      .select("path").as[String].collect().toSet
    assert(rows === Set("/а?q=1", "/a+b", "/bad%zz"))
  }

  test("empty referrer becomes NULL") {
    val rows = parse(wire(referrer = ""), wire(referrer = "https://x.example/"))
      .select("referer").collect()
    assert(rows.map(r => Option(r.getString(0))).toSet
      === Set(None, Some("https://x.example/")))
  }

  test("user agents: Chrome/Windows, Firefox/Mac underscores, Googlebot robot") {
    def ua(s: String): Row = parse(wire(ua = s)).select(
      "platform_name", "platform_version", "browser_name", "browser_version",
      "is_robot").head()
    val chrome = ua("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36")
    assert(chrome === Row("Windows", "10.0", "Chrome", "120.0.0.0", false))
    val firefox = ua("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7; rv:109.0) Gecko/20100101 Firefox/115.0")
    assert(firefox === Row("Mac OS", "10.15.7", "Firefox", "115.0", false))
    val bot = ua("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)")
    assert(bot === Row(null, null, "Googlebot", "2.1", true))
  }

  test("geoip range join: private ranges hit, public misses, ipv6 misses") {
    val rows = parse(
      wire(ip = "10.200.0.9"), wire(ip = "192.168.1.1"),
      wire(ip = "8.8.8.8"), wire(ip = "2001:db8::1"),
      // octet > 255: numerically aliases 10.0.0.0 if folded naively
      wire(ip = "9.256.0.0"))
      .select("ip", "country_iso_code").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(rows("10.200.0.9") === Some("US"))
    assert(rows("192.168.1.1") === Some("DE"))
    assert(rows("8.8.8.8") === None)
    assert(rows("2001:db8::1") === None)
    assert(rows("9.256.0.0") === None)
  }
}
