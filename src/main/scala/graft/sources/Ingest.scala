package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.ServiceStore

/** The ingest pipeline O1-O3 as pure DataFrame transforms: syslog frame
  * → JSON wire record → validated, enriched Entry rows (reference:
  * ballcone/syslog_protocol.py:32-90).
  *
  * Pure transforms mean the exact same code serves the batch path, the
  * streaming path (readStream.text → [[pipeline]] → foreachBatch), and
  * tests. Malformed input is dropped, mirroring the reference's
  * at-most-once UDP semantics (syslog_protocol.py:34-49).
  */
object Ingest {

  /** Syslog frame: `<PRI>…: payload` (syslog_protocol.py:20). */
  val SyslogRegex = "^<[0-9]{1,3}>.*?: (.+)$"

  /** O1: datagram text → JSON payload. Non-matching frames drop. */
  def parseFrame(lines: DataFrame, column: String = "value"): DataFrame =
    lines
      .withColumn("__payload", nullif(regexp_extract(col(column), SyslogRegex, 1), lit("")))
      .filter(col("__payload").isNotNull)

  /** What the reference's `str.strip()` removes from a service name
    * (Python's `str.isspace` set); Spark's one-argument `trim` removes
    * spaces only.
    */
  private val Whitespace = " \t\n\u000B\f\r\u001C\u001D\u001E\u001F" +
    "\u0085\u00A0\u1680\u2000\u2001\u2002\u2003\u2004\u2005\u2006" +
    "\u2007\u2008\u2009\u200A\u2028\u2029\u202F\u205F\u3000"

  /** O1/O2: payload → wire columns; malformed JSON or missing/invalid
    * service drops (service stripped of whitespace at both ends,
    * lowered, then checked against [[ServiceStore.ServicePattern]] —
    * core.py:15,53-58).
    *
    * Performance note: the payload is parsed with `json_tuple` — a
    * GENERATOR producing all ten fields from ONE parse per row. The
    * earlier `from_json`-struct formulation parsed once in its own
    * projection, but `PushPredicateThroughNonJoin` substitutes aliases
    * into pushed filters regardless of expression cost, so the
    * validation predicates below re-inlined `from_json` into the
    * filter — four extra parses per row (measured in the physical
    * plan). Filters cannot be pushed below a Generate's output, so the
    * generator pins the parse count at one while staying usable from
    * both the batch and streaming paths. Numeric fields arrive as the
    * extracted JSON text and are `try_cast` (null on mismatch),
    * mirroring from_json's lenient coercion under ANSI mode.
    */
  def parseWire(framed: DataFrame): DataFrame =
    framed
      .select(json_tuple(col("__payload"),
        "service", "ip", "host", "path", "status", "referrer",
        "user_agent", "length", "generation_time_milli", "date"))
      .toDF("__svc", "__ip", "__host", "__rawpath", "__status",
        "__referrer", "__ua", "__rawlength", "__rawgt", "__rawdate")
      .select(
        lower(trim(col("__svc"), Whitespace)).as("service"),
        col("__ip"), col("__host"), col("__rawpath"), col("__status"),
        col("__referrer"), col("__ua"),
        expr("try_cast(__rawlength AS BIGINT)").as("__length"),
        expr("try_cast(__rawgt AS DOUBLE)").as("__gt"),
        col("__rawdate"))
      .filter(col("service").isNotNull &&
        col("service").rlike(ServiceStore.ServicePattern))

  /** O3: enrichment projection → (service, Entry columns...).
    *
    * - ISO-8601 (with offset) → UTC timestamp via string→timestamp cast
    * - URL percent-decode of path; '+' is pre-escaped so the semantics
    *   are percent-decoding ONLY (Python `unquote`, not form-decoding);
    *   undecodable paths pass through unchanged
    * - empty referrer → NULL (dao.py:102-105)
    * - user_agent exploded into 5 columns; GeoIP country via broadcast
    *   range join
    */
  def enrich(wired: DataFrame, geoRanges: DataFrame,
             geoRangesV6: Option[DataFrame] = None): DataFrame = {
    val projected = wired.select(
      col("service"),
      col("__rawdate").cast("timestamp").as("datetime"),
      col("__host").as("host"),
      coalesce(
        try_url_decode(replace(col("__rawpath"), lit("+"), lit("%2B"))),
        col("__rawpath")).as("path"),
      col("__status").cast("short").as("status"),
      col("__length").cast("int").as("length"),
      col("__gt").as("generation_time"),
      nullif(col("__referrer"), lit("")).as("referer"),
      col("__ip").as("ip"),
      UserAgent.parse(col("__ua")).as("__uainfo"))
      .filter(col("datetime").isNotNull && col("ip").isNotNull)
      .select(col("service"), col("datetime"), col("host"), col("path"),
        col("status"), col("length"), col("generation_time"), col("referer"),
        col("ip"), col("__uainfo.platform_name"), col("__uainfo.platform_version"),
        col("__uainfo.browser_name"), col("__uainfo.browser_version"),
        col("__uainfo.is_robot"))
    GeoIp.enrich(projected, "ip", geoRanges, geoRangesV6)
      .select("service", "datetime", "host", "path", "status", "length",
        "generation_time", "referer", "ip", "country_iso_code",
        "platform_name", "platform_version", "browser_name",
        "browser_version", "is_robot")
  }

  /** Full O1→O3 pipeline: raw syslog lines → enriched entries. */
  def pipeline(lines: DataFrame, geoRanges: DataFrame,
               column: String = "value",
               geoRangesV6: Option[DataFrame] = None): DataFrame =
    enrich(parseWire(parseFrame(lines, column)), geoRanges, geoRangesV6)
}
