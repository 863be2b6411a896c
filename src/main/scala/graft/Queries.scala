package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables
import graft.operators._

/** The declared-query registry: every implemented operator from
  * SURVEY.md §2 (plus the training-data-pipeline operators) instantiated
  * on the driver testdata, each paired with equivalent DuckDB SQL for the
  * oracle hash-check. Parameterizations follow FIXTURES.md §5 (events
  * plays the access-log table: ts→datetime, user_id→ip,
  * event_type→path/group, value→generation_time).
  */
object Queries {
  type QFn = (SparkSession, String) => DataFrame
  final case class Decl(fn: QFn, oracle: Option[String])

  private def ev(s: SparkSession, dir: String) = Tables.read(s, dir, "events")

  // documents/embeddings ship as single-row-group parquet (one scan
  // split), which would serialize the md5/shingle/vector map work onto
  // one core; spread them once up front — at real scale the inputs
  // arrive in many splits and this is a no-op by construction
  private def docs(s: SparkSession, dir: String) =
    Tables.read(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)

  /** Weak label for the declared NB-classifier queries: the Gopher
    * word-count band (the rule that splits the synthetic corpus —
    * the full battery's stopword rule fails every synthetic doc, which
    * would train a single-class model).
    */
  private def nbWcLabel: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    size(split(col("text"), " ", -1)).cast("long").between(50L, 100000L)
  }

  /** Shared oracle CTE chain for the NB classifier: token labeling →
    * per-bucket class counts `c` → totals `t` → vote table `v`.
    * HUGEINT cross-multiplies mirror Spark's DECIMAL(38,0).
    */
  private val nbModelCtes: String =
    """lt AS (SELECT len(string_split(text,' ')) BETWEEN 50 AND 100000 AS verdict,
      |       unnest(string_split(text,' ')) AS tok FROM documents),
      |c AS (SELECT CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % 64 AS dim,
      |        CAST(SUM(CASE WHEN verdict THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |        CAST(SUM(CASE WHEN verdict THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
      |      FROM lt GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS t_pos,
      |             CAST(SUM(n_neg) AS BIGINT) AS t_neg FROM c),
      |v AS (SELECT dim, n_pos, n_neg,
      |  CAST(CASE WHEN CAST(n_pos+1 AS HUGEINT)*(t_neg+64) > CAST(n_neg+1 AS HUGEINT)*(t_pos+64) THEN 1
      |            WHEN CAST(n_pos+1 AS HUGEINT)*(t_neg+64) < CAST(n_neg+1 AS HUGEINT)*(t_pos+64) THEN -1
      |            ELSE 0 END AS BIGINT) AS vote FROM c, t)""".stripMargin
  private def emb(s: SparkSession, dir: String) =
    Tables.read(s, dir, "embeddings").repartition(s.sparkContext.defaultParallelism)

  // Memoized embeddings row count per data dir: autoCells is derived
  // from COUNT(*), and every sim_* build calling corpus.count() inside
  // a timed bench path added one redundant column-pruned scan per
  // query construction (r13 ADVICE). The testdata dirs are immutable,
  // so a process-lifetime memo is sound; the count job runs at most
  // once per dir per JVM and bench passes reuse it.
  private val embCountMemo =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def embCount(s: SparkSession, dir: String): Long =
    embCountMemo.getOrElseUpdate(dir, Tables.read(s, dir, "embeddings").count())
  private def autoCellsFor(s: SparkSession, dir: String): Int =
    Similarity.autoCellsOf(embCount(s, dir))

  // The TPC-H fact joins are NOT pre-spread: a round-robin repartition
  // costs more (sort-before-repartition + exchange) than it saves
  // there — instead the fact⨝fact joins carry SHUFFLE_HASH hints in
  // [[Relational]], which parallelize the probe the scale-honest way.
  // tpch_q1 stays a single sequential aggregate: its full-table double
  // sums are bit-compared against DuckDB's sequential fold, which any
  // multi-partition partial-sum order would perturb.

  // ---------------------------------------------------------------- parity
  // O8-O18 (SURVEY §2.0) on `events`.

  private val parity: Seq[(String, Decl)] = Seq(
    "o08_select_range" -> Decl(
      (s, d) => Reports.selectRange(ev(s, d), "ts",
        Some("2024-01-05"), Some("2024-01-10"), 100, Seq("event_id")),
      Some("SELECT * FROM events WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-10' ORDER BY ts, event_id LIMIT 100")),

    "o09_date_eq" -> Decl(
      (s, d) => ev(s, d).filter(
        DateRange.pred(org.apache.spark.sql.functions.col("ts"),
          Some("2024-01-07"), Some("2024-01-07"))),
      Some("SELECT * FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-07'")),

    "o09_date_ge" -> Decl(
      (s, d) => ev(s, d).filter(
        DateRange.pred(org.apache.spark.sql.functions.col("ts"),
          Some("2024-01-25"), None)),
      Some("SELECT * FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-25'")),

    "o09_date_le" -> Decl(
      (s, d) => ev(s, d).filter(
        DateRange.pred(org.apache.spark.sql.functions.col("ts"),
          None, Some("2024-01-03"))),
      Some("SELECT * FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-03'")),

    "o10_daily_average" -> Decl(
      (s, d) => Reports.dailyAverage(ev(s, d), "ts", "value"),
      Some("SELECT CAST(ts AS DATE) AS d, AVG(\"value\") AS avg_value, SUM(\"value\") AS sum_value, COUNT(\"value\") AS cnt_value FROM events GROUP BY d ORDER BY d")),

    "o10_daily_average_ranged" -> Decl(
      (s, d) => Reports.dailyAverage(ev(s, d), "ts", "value",
        Some("2024-01-05"), Some("2024-01-15")),
      Some("SELECT CAST(ts AS DATE) AS d, AVG(\"value\") AS avg_value, SUM(\"value\") AS sum_value, COUNT(\"value\") AS cnt_value FROM events WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-15' GROUP BY d ORDER BY d")),

    // Percentile report (beyond the reference's avg — the latency view
    // an ops dashboard actually wants): Spark's exact `percentile` and
    // DuckDB's quantile_cont both use R-7 linear interpolation, so the
    // values agree to well past the compare rounding.
    "o10_daily_percentiles" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        ev(s, d).groupBy(to_date(col("ts")).as("d"))
          .agg(expr("percentile(value, 0.5)").as("p50"),
               expr("percentile(value, 0.95)").as("p95"),
               expr("percentile(value, 0.99)").as("p99"))
          .orderBy("d")
      },
      Some("""SELECT CAST(ts AS DATE) AS d,
             | quantile_cont("value", 0.5) AS p50,
             | quantile_cont("value", 0.95) AS p95,
             | quantile_cont("value", 0.99) AS p99
             |FROM events GROUP BY d ORDER BY d""".stripMargin)),

    // Coarser-than-daily rollup (month) via date_trunc — the granular
    // knob the reference's fixed daily grouping lacks.
    "o11_monthly_visits" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        ev(s, d)
          .groupBy(date_trunc("month", col("ts")).cast("date").as("m"))
          .agg(count(lit(1)).as("cnt"),
               countDistinct(col("user_id")).as("uniq"))
          .orderBy("m")
      },
      Some("""SELECT CAST(date_trunc('month', ts) AS DATE) AS m,
             | COUNT(*) AS cnt, COUNT(DISTINCT user_id) AS uniq
             |FROM events GROUP BY m ORDER BY m""".stripMargin)),

    "o11_daily_visits" -> Decl(
      (s, d) => Reports.dailyCount(ev(s, d), "ts"),
      Some("SELECT CAST(ts AS DATE) AS d, COUNT(*) AS cnt FROM events GROUP BY d ORDER BY d")),

    // NEAREST as-of (pandas direction="nearest"): smallest absolute
    // gap, backward wins ties; composed from the two directional
    // passes, checked against DuckDB's two native ASOF LEFT JOINs.
    "rel_asof_nearest" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = ev(s, d)
        Temporal.asOfNearest(
          left = e.filter(col("event_type") === "purchase"),
          right = e.filter(col("event_type") === "view"),
          key = "user_id", ts = "ts", idCol = "event_id")
      },
      Some("""WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
             |v AS (SELECT * FROM events WHERE event_type = 'view'),
             |b AS (SELECT p.event_id, p.user_id, p.ts, v.ts AS b_ts
             |      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts),
             |f AS (SELECT p.event_id, v.ts AS f_ts
             |      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts)
             |SELECT b.event_id, b.user_id, b.ts,
             |  CASE WHEN b_ts IS NULL THEN f_ts
             |       WHEN f_ts IS NULL THEN b_ts
             |       WHEN epoch_us(b.ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(b.ts)
             |       THEN b_ts ELSE f_ts END AS nearest_ts
             |FROM b JOIN f USING (event_id)
             |WHERE b_ts IS NOT NULL OR f_ts IS NOT NULL""".stripMargin)),

    // Per-user lifespan: the churn/engagement base table.
    "rel_user_lifespan" -> Decl(
      (s, d) => Reports.userLifespan(ev(s, d), "user_id", "ts"),
      Some("""SELECT user_id, COUNT(*) AS n_events,
             |  COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
             |  MIN(CAST(ts AS DATE)) AS first_day,
             |  MAX(CAST(ts AS DATE)) AS last_day,
             |  CAST(MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)) + 1 AS BIGINT) AS span_days
             |FROM events GROUP BY user_id""".stripMargin)),

    // Day-of-week seasonality: weekday via epoch-day arithmetic
    // (0 = Monday) because Spark and DuckDB dayofweek() builtins
    // disagree on the Sunday convention.
    "o11_dow_profile" -> Decl(
      (s, d) => Reports.dowProfile(ev(s, d), "ts"),
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS cnt
             |               FROM events GROUP BY 1)
             |SELECT CAST((d - DATE '1970-01-01' + 3) % 7 AS BIGINT) AS dow,
             |  COUNT(*) AS n_days, CAST(SUM(cnt) AS BIGINT) AS total,
             |  MIN(cnt) AS min_cnt, MAX(cnt) AS max_cnt,
             |  CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS avg_cnt
             |FROM daily GROUP BY 1""".stripMargin)),

    "o11_daily_unique" -> Decl(
      (s, d) => Reports.dailyCount(ev(s, d), "ts", Some("user_id")),
      Some("SELECT CAST(ts AS DATE) AS d, COUNT(DISTINCT user_id) AS cnt FROM events GROUP BY d ORDER BY d")),

    // Traffic-anomaly days over the O11 daily series: ratio to the
    // trailing 7-day mean, flagged outside [1/1.5, 1.5]. Deliberately
    // stddev-free — every derived column is exact rational arithmetic
    // over integer counts, so the boolean cannot flip between engines.
    "o11_anomaly_days" -> Decl(
      (s, d) => Reports.anomalyDays(ev(s, d), "ts", 7, 1.5),
      Some("""WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY d),
             |spine AS (SELECT CAST(unnest(generate_series(
             |    (SELECT MIN(d) FROM dc), (SELECT MAX(d) FROM dc),
             |    INTERVAL 1 DAY)) AS DATE) AS d),
             |dense AS (SELECT spine.d, CAST(COALESCE(dc.cnt, 0) AS BIGINT) AS cnt
             |  FROM spine LEFT JOIN dc USING (d)),
             |w AS (SELECT d, cnt,
             |  AVG(cnt) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail_avg,
             |  COUNT(cnt) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_trail
             | FROM dense)
             |SELECT d, cnt, trail_avg,
             |  CASE WHEN trail_avg > 0 THEN cnt/trail_avg END AS ratio,
             |  CASE WHEN trail_avg > 0
             |    THEN (cnt/trail_avg > 1.5 OR cnt/trail_avg < CAST(1.0 AS DOUBLE)/CAST(1.5 AS DOUBLE))
             |    ELSE cnt > 0 END AS is_anomaly
             |FROM w WHERE n_trail = 7""".stripMargin)),

    // EWMA smoothing of the daily series (pandas ewm adjust=True,
    // alpha=1/2, trailing 30-row horizon): weighted sum and normalizer
    // both scale by 2^29 into exact BIGINT arithmetic, one final double
    // division — bit-identical at ANY series length (the old running
    // 2^i rescale overflowed past i=1024 rows).
    "o11_ewma_daily" -> Decl(
      (s, d) => Reports.ewmaDaily(ev(s, d), "ts"),
      Some("""WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY d),
             |w AS (SELECT d, cnt, row_number() OVER (ORDER BY d) AS i FROM dc),
             |n AS (SELECT a.d, a.cnt, a.i,
             |  SUM(b.cnt * (CAST(1 AS BIGINT) << (29 - (a.i - b.i)))) AS num
             | FROM w a JOIN w b ON b.i <= a.i AND b.i > a.i - 30
             | GROUP BY a.d, a.cnt, a.i)
             |SELECT d, cnt, CAST(num AS DOUBLE) /
             |  CAST((CAST(1 AS BIGINT) << 30) - (CAST(1 AS BIGINT) << (30 - LEAST(i, 30))) AS DOUBLE) AS ewma
             |FROM n""".stripMargin)),

    "o12_group_count_desc" -> Decl(
      (s, d) => Reports.dailyGroupCount(ev(s, d), "ts", "user_id", "event_type",
        distinct = true, ascending = false),
      Some("SELECT CAST(ts AS DATE) AS d, event_type AS grp, COUNT(DISTINCT user_id) AS cnt FROM events GROUP BY d, grp ORDER BY d, cnt DESC, grp")),

    "o12_group_count_asc" -> Decl(
      (s, d) => Reports.dailyGroupCount(ev(s, d), "ts", "user_id", "event_type",
        distinct = true, ascending = true),
      Some("SELECT CAST(ts AS DATE) AS d, event_type AS grp, COUNT(DISTINCT user_id) AS cnt FROM events GROUP BY d, grp ORDER BY d, cnt ASC, grp")),

    // O10 + dispersion: per-day sample stddev from explicit sums in
    // one closed form (engine streaming variances disagree in
    // low-order bits; the reduced-sums tree is deterministic).
    "o10_daily_stddev" -> Decl(
      (s, d) => Reports.dailyStddev(ev(s, d), "ts", "value"),
      Some("""WITH a AS (SELECT CAST(ts AS DATE) AS d,
             |  CAST(COUNT("value") AS BIGINT) AS n,
             |  SUM("value") AS sx, SUM("value"*"value") AS sxx
             | FROM events GROUP BY 1)
             |SELECT d, n, sx / CAST(n AS DOUBLE) AS mean,
             |  CASE WHEN n > 1 THEN sqrt(greatest(
             |    (CAST(n AS DOUBLE) * sxx - sx * sx) /
             |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 0.0))
             |  ELSE 0.0 END AS stddev
             |FROM a ORDER BY d""".stripMargin)),

    // O12 + share-of-day: the proportion column every dashboard
    // renders next to the count; one scan, day totals broadcast back.
    "o12_group_share" -> Decl(
      (s, d) => Reports.dailyGroupShare(ev(s, d), "ts", "event_type"),
      Some("""WITH c AS (SELECT CAST(ts AS DATE) AS d, event_type AS grp,
             |           COUNT(*) AS cnt FROM events GROUP BY 1, 2),
             |t AS (SELECT d, CAST(SUM(cnt) AS BIGINT) AS day_total FROM c GROUP BY 1)
             |SELECT c.d, grp, cnt, day_total,
             |  CAST(cnt AS DOUBLE) / CAST(day_total AS DOUBLE) AS share
             |FROM c JOIN t USING (d)
             |ORDER BY d, cnt DESC, grp""".stripMargin)),

    "o13_top3_per_day" -> Decl(
      (s, d) => Reports.topNPerDay(ev(s, d), "ts", "user_id", "event_type",
        distinct = true, ascending = false, n = 3),
      Some("""SELECT d, grp, cnt FROM (
             |  SELECT q.*, ROW_NUMBER() OVER (PARTITION BY d ORDER BY cnt DESC, grp) AS rn
             |  FROM (SELECT CAST(ts AS DATE) AS d, event_type AS grp, COUNT(DISTINCT user_id) AS cnt
             |        FROM events GROUP BY d, grp) q)
             |WHERE rn <= 3 ORDER BY d, cnt DESC, grp""".stripMargin)),

    "o13_top1_per_day_asc" -> Decl(
      (s, d) => Reports.topNPerDay(ev(s, d), "ts", "user_id", "event_type",
        distinct = true, ascending = true, n = 1),
      Some("""SELECT d, grp, cnt FROM (
             |  SELECT q.*, ROW_NUMBER() OVER (PARTITION BY d ORDER BY cnt ASC, grp) AS rn
             |  FROM (SELECT CAST(ts AS DATE) AS d, event_type AS grp, COUNT(DISTINCT user_id) AS cnt
             |        FROM events GROUP BY d, grp) q)
             |WHERE rn <= 1 ORDER BY d, cnt ASC, grp""".stripMargin)),

    "o17_align_by_date" -> Decl(
      (s, d) => Reports.alignByDate(
        Reports.dailyCount(ev(s, d), "ts"),
        Reports.dailyCount(ev(s, d), "ts", Some("user_id"))),
      Some("""SELECT d, v.cnt AS visits, u.cnt AS uniq FROM
             |  (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS cnt FROM events GROUP BY d) v
             |  FULL OUTER JOIN
             |  (SELECT CAST(ts AS DATE) AS d, COUNT(DISTINCT user_id) AS cnt FROM events GROUP BY d) u
             |  USING (d) ORDER BY d""".stripMargin)),

    "o18_dashboard" -> Decl(
      (s, d) => Reports.dashboard(ev(s, d), "ts", "event_type", "user_id",
        "2024-01-15"),
      Some("SELECT event_type AS service, COUNT(DISTINCT user_id) AS cnt FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15' GROUP BY service ORDER BY cnt DESC, service")),

    // O19 — group-adjacent presentation rows: per-day ordered
    // "grp:cnt" row list (templates/service.html rowspan rendering).
    "o19_group_adjacent" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Reports.dailyGroupCount(ev(s, d), "ts", "user_id", "event_type",
            distinct = true, ascending = false)
          .groupBy(col("d"))
          .agg(expr(
            "concat_ws(',', transform(array_sort(collect_list(struct(-cnt, grp, cnt))), x -> concat(x.grp, ':', x.cnt)))")
            .as("adjacent"))
          .orderBy("d")
      },
      Some("""SELECT d, string_agg(grp||':'||cnt, ',' ORDER BY cnt DESC, grp) AS adjacent
             |FROM (SELECT CAST(ts AS DATE) AS d, event_type AS grp,
             |      COUNT(DISTINCT user_id) AS cnt FROM events GROUP BY d, grp)
             |GROUP BY d ORDER BY d""".stripMargin)),

    // O20 — JSON encoding of results for the HTTP API (core.py:18-26):
    // dates to ISO strings, counts embedded.
    "o20_json_encode" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Reports.dailyCount(ev(s, d), "ts")
          .select(col("d"), concat(
            lit("{\"date\":\""), date_format(col("d"), "yyyy-MM-dd"),
            lit("\",\"count\":"), col("cnt"), lit("}")).as("json"))
      },
      Some("""SELECT d, '{"date":"'||strftime(d, '%Y-%m-%d')||'","count":'||cnt||'}' AS json
             |FROM (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS cnt FROM events GROUP BY d)""".stripMargin)),
  )

  // ---------------------------------------------------------------- ingest
  // O1-O3 under the oracle gate: events are encoded into syslog/nginx
  // wire lines with Spark SQL functions, pushed through the REAL ingest
  // pipeline (frame regex → from_json → validate → enrich incl. UA
  // parse + GeoIP range join), and the oracle computes the expected
  // output directly from events — an independent end-to-end check of
  // the parser.

  private val UaChrome = "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36"
  private val UaFirefox = "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7; rv:109.0) Gecko/20100101 Firefox/115.0"
  private val UaBot = "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)"

  private val ingest: Seq[(String, Decl)] = Seq(
    "ingest_parse_roundtrip" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        // the driver parquet has ONE row group => a single scan split;
        // spread rows BEFORE the codegen-fallback json encode/parse so
        // the whole chain parallelizes (real ingest input is pre-split)
        val wire = ev(s, d).repartition(s.sparkContext.defaultParallelism)
          .select(concat(
          lit("<190>Aug 12 00:00:00 gw nginx: "),
          to_json(struct(
            col("event_type").as("service"),
            expr("concat('10.0.', user_id div 256, '.', user_id % 256)").as("ip"),
            expr("concat('h', event_id % 10, '.example.com')").as("host"),
            expr("concat('/p/', event_id, '%2Fx')").as("path"),
            expr("cast(200 + event_id % 5 as string)").as("status"),
            expr("case when event_id % 3 = 0 then '' else concat('https://ref.example/', event_id) end").as("referrer"),
            expr(s"case event_id % 3 when 0 then '$UaChrome' when 1 then '$UaFirefox' else '$UaBot' end").as("user_agent"),
            expr("cast(floor(value * 10) as long)").as("length"),
            col("value").as("generation_time_milli"),
            date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").as("date")
          ))).as("value"))
        // RDD fence: predicate pushdown would otherwise inline the
        // whole codegen-fallback to_json chain into every downstream
        // filter (one full re-encode per predicate evaluation). The
        // optimizer cannot cross an RDD boundary, so the lines are
        // encoded exactly once — like real ingest input, which arrives
        // already materialized.
        val lines = s.createDataFrame(wire.rdd, wire.schema)
        graft.sources.Ingest.pipeline(lines, graft.sources.GeoIp.demoRanges(s))
      },
      Some("""SELECT event_type AS service, ts AS datetime,
             | 'h'||(event_id % 10)||'.example.com' AS host,
             | '/p/'||event_id||'/x' AS path,
             | CAST(200 + event_id % 5 AS SMALLINT) AS status,
             | CAST(FLOOR("value" * 10) AS INTEGER) AS length,
             | "value" AS generation_time,
             | CASE WHEN event_id % 3 = 0 THEN NULL ELSE 'https://ref.example/'||event_id END AS referer,
             | '10.0.'||(user_id // 256)||'.'||(user_id % 256) AS ip,
             | 'US' AS country_iso_code,
             | CASE event_id % 3 WHEN 0 THEN 'Windows' WHEN 1 THEN 'Mac OS' END AS platform_name,
             | CASE event_id % 3 WHEN 0 THEN '10.0' WHEN 1 THEN '10.15.7' END AS platform_version,
             | CASE event_id % 3 WHEN 0 THEN 'Chrome' WHEN 1 THEN 'Firefox' ELSE 'Googlebot' END AS browser_name,
             | CASE event_id % 3 WHEN 0 THEN '120.0.0.0' WHEN 1 THEN '115.0' ELSE '2.1' END AS browser_version,
             | (event_id % 3 = 2) AS is_robot
             |FROM events""".stripMargin)),
  )

  // ------------------------------------------------------------ multimodal

  private val multimodal: Seq[(String, Decl)] = Seq(
    // Unified per-modality feature extraction (REAL decoders: ImageIO
    // images, hand-parsed WAV PCM, MJPEG-in-AVI frames). The synthetic
    // content is text bytes — decodable under NO modality — so every
    // row exercises the decoded=false fallback and the oracle gates the
    // full schema + passthrough semantics; the decoded=true branches
    // are pinned by MultimodalSpec against generated fixtures with
    // exact expected features per modality.
    "mm_decode_features" -> Decl(
      (s, d) => Multimodal.decodeFeatures(
        Multimodal.fromDocuments(docs(s, d))).toDF(),
      Some("""SELECT doc_id AS media_id,
             | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             | CAST(strlen(text) AS BIGINT) AS n_bytes,
             | FALSE AS decoded,
             | CAST(-1.0 AS DOUBLE) AS f0, CAST(-1.0 AS DOUBLE) AS f1,
             | CAST(-1.0 AS DOUBLE) AS f2, CAST(-1.0 AS DOUBLE) AS f3
             |FROM documents""".stripMargin)),

    // Video FRAME decode (MJPEG-in-AVI via RIFF walk + ImageIO): text
    // bytes carry no RIFF/AVI structure, so every row exercises the
    // decoded=false fallback — schema/passthrough oracle-gated; the
    // real frame-decode branch (exact luma/motion on lossless PNG
    // frames, real JPEG frames, step sampling, poisoned chunk
    // lengths) is pinned by MultimodalSpec on generated AVI fixtures.
    "mm_decode_video_frames" -> Decl(
      (s, d) => Multimodal.decodeVideoFrames(
        Multimodal.fromDocuments(docs(s, d))).toDF(),
      Some("""SELECT doc_id AS media_id,
             | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             | CAST(strlen(text) AS BIGINT) AS n_bytes,
             | FALSE AS decoded,
             | CAST(-1 AS INTEGER) AS n_frames, CAST(-1 AS INTEGER) AS n_decoded,
             | CAST(-1 AS INTEGER) AS width, CAST(-1 AS INTEGER) AS height,
             | CAST(-1.0 AS DOUBLE) AS fps, CAST(-1.0 AS DOUBLE) AS mean_luma,
             | CAST(-1.0 AS DOUBLE) AS motion
             |FROM documents""".stripMargin)),

    // Real-image decode path over the mixed media table: the synthetic
    // content is text bytes (no image magic), so every row exercises
    // the decoded=false fallback — the oracle gates the full schema and
    // passthrough semantics; the decoded=true branch (real PNG/JPEG via
    // javax.imageio) is pinned by MultimodalSpec against generated
    // fixtures with exact expected width/height/mean-RGB.
    "mm_decode_image" -> Decl(
      (s, d) => Multimodal.decodeImages(
        Multimodal.fromDocuments(docs(s, d))).toDF(),
      Some("""SELECT doc_id AS media_id,
             | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             | CAST(strlen(text) AS BIGINT) AS n_bytes,
             | FALSE AS decoded,
             | CAST(-1 AS INTEGER) AS width, CAST(-1 AS INTEGER) AS height,
             | CAST(-1.0 AS DOUBLE) AS mean_r, CAST(-1.0 AS DOUBLE) AS mean_g,
             | CAST(-1.0 AS DOUBLE) AS mean_b
             |FROM documents""".stripMargin)),

    // Audio decode path over the mixed media table: text bytes carry
    // no RIFF header, so every row exercises the decoded=false
    // fallback — the oracle gates the schema/passthrough; the real
    // WAV/PCM branch is pinned by MultimodalSpec against generated
    // fixtures with exact rate/bits/duration/RMS.
    "mm_decode_audio" -> Decl(
      (s, d) => Multimodal.decodeAudio(
        Multimodal.fromDocuments(docs(s, d))).toDF(),
      Some("""SELECT doc_id AS media_id,
             | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             | CAST(strlen(text) AS BIGINT) AS n_bytes,
             | FALSE AS decoded,
             | CAST(-1 AS INTEGER) AS sample_rate, CAST(-1 AS INTEGER) AS channels,
             | CAST(-1 AS INTEGER) AS bits, CAST(-1 AS BIGINT) AS n_samples,
             | CAST(-1.0 AS DOUBLE) AS duration_s, CAST(-1.0 AS DOUBLE) AS rms
             |FROM documents""".stripMargin)),

    // Per-frame audio features over deterministic 8-bit PCM WAVs
    // (audio twin of mm_resize_real's self-generating fixtures):
    // 64-sample frames, RMS over centered samples and zero-crossing
    // counts — every PCM value recomputable from doc_id, so DuckDB
    // re-derives the whole frame table in SQL.
    "mm_audio_frames" -> Decl(
      (s, d) => Multimodal.audioFrames(
        Multimodal.syntheticWavs(docs(s, d)), frameLen = 64).toDF(),
      Some("""WITH d AS (SELECT doc_id, CAST(256 + doc_id % 256 AS BIGINT) AS n FROM documents),
             |f AS (SELECT doc_id, n, unnest(range(CAST((n + 63) // 64 AS INT))) AS frame_id FROM d),
             |s AS (SELECT doc_id, frame_id,
             |        [ (CAST((doc_id*31 + i*17) % 256 AS DOUBLE) - 128.0) / 128.0
             |          for i in range(CAST(frame_id*64 AS INT), CAST(least((frame_id+1)*64, n) AS INT)) ] AS c
             |      FROM f)
             |SELECT doc_id AS media_id, CAST(frame_id AS INTEGER) AS frame_id,
             |  CAST(len(c) AS BIGINT) AS n_samples,
             |  sqrt(list_sum([x*x for x in c]) / len(c)) AS rms,
             |  CAST(coalesce(list_sum([CASE WHEN c[i+1]*c[i+2] < 0 THEN 1 ELSE 0 END
             |                          for i in range(len(c)-1)]), 0) AS BIGINT) AS zcross
             |FROM s""".stripMargin)),

    // Video container probe over the mixed media table: text bytes
    // have no box structure → probed=false passthrough, oracle-gated;
    // the real ISO-BMFF branch is spec-pinned on generated fixtures.
    "mm_probe_video" -> Decl(
      (s, d) => Multimodal.probeVideo(
        Multimodal.fromDocuments(docs(s, d))).toDF(),
      Some("""SELECT doc_id AS media_id,
             | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             | CAST(strlen(text) AS BIGINT) AS n_bytes,
             | FALSE AS probed,
             | CAST(-1 AS INTEGER) AS timescale, CAST(-1 AS BIGINT) AS duration_units,
             | CAST(-1.0 AS DOUBLE) AS duration_s, CAST(-1 AS INTEGER) AS n_tracks
             |FROM documents""".stripMargin)),

    "mm_frame_sample" -> Decl(
      (s, d) => Multimodal.frameSample(
        Multimodal.fromDocuments(docs(s, d)), 10),
      Some("""SELECT doc_id AS media_id,
             | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             | CAST(unnest(range(0, (n_chars % 100) + 1, 10)) AS INTEGER) AS frame_idx
             |FROM documents""".stripMargin)),

    // REAL resize/transcode over mixed media: document text bytes are
    // image-kinded but never decode, so they take the sentinel
    // passthrough (dst == src, byte-identical); audio/video take the
    // deterministic truncation fallback. The corpus is ASCII so the
    // oracle reproduces both branches with substr and the md5
    // fingerprints match exactly.
    "mm_resize" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Multimodal.resizeMedia(Multimodal.fromDocuments(docs(s, d)),
            16, 16, 4)
          .toDF().select(col("media_id"), col("kind"), col("src_bytes"),
            col("dst_bytes"), md5(col("content")).as("fp"))
      },
      Some("""SELECT doc_id AS media_id,
             | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             | CAST(length(text) AS BIGINT) AS src_bytes,
             | CASE WHEN doc_id % 3 = 0 THEN CAST(length(text) AS BIGINT)
             |      ELSE CAST((length(text) + 3) // 4 AS BIGINT) END AS dst_bytes,
             | CASE WHEN doc_id % 3 = 0 THEN md5(text)
             |      ELSE md5(substr(text, 1, CAST((length(text) + 3) // 4 AS INTEGER))) END AS fp
             |FROM documents""".stripMargin)),

    // REAL image resize end-to-end, exact-oracle-gated: a deterministic
    // solid-color PNG per doc (dims 8..32 and RGB fill derived from
    // doc_id by fixed moduli), box-fit downscaled into 16x16 via
    // Graphics2D, PNG re-encoded, then RE-DECODED — output dims follow
    // fitDims's IEEE-754 floor arithmetic and a solid color survives
    // bilinear + lossless PNG bit-exactly, so DuckDB recomputes every
    // column from doc_id alone.
    "mm_resize_real" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        import s.implicits._
        val resized = Multimodal.resizeMedia(
          Multimodal.syntheticPngs(docs(s, d)), 16, 16, 4)
        Multimodal.decodeImages(
            resized.map(r =>
              Multimodal.MediaRow(r.media_id, "image", r.content, 1)))
          .toDF().select(col("media_id"),
            col("width").as("dst_w"), col("height").as("dst_h"),
            col("mean_r"), col("mean_g"), col("mean_b"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |  8 + (doc_id % 25) AS w, 8 + ((doc_id * 7) % 25) AS h,
             |  (doc_id * 37) % 256 AS r, (doc_id * 59) % 256 AS g,
             |  (doc_id * 83) % 256 AS b
             | FROM documents)
             |SELECT doc_id AS media_id,
             | CAST(CASE WHEN w <= 16 AND h <= 16 THEN w
             |  ELSE GREATEST(1, CAST(floor(w * LEAST(16.0 / w, 16.0 / h)) AS BIGINT)) END
             |  AS INTEGER) AS dst_w,
             | CAST(CASE WHEN w <= 16 AND h <= 16 THEN h
             |  ELSE GREATEST(1, CAST(floor(h * LEAST(16.0 / w, 16.0 / h)) AS BIGINT)) END
             |  AS INTEGER) AS dst_h,
             | r / 255.0 AS mean_r, g / 255.0 AS mean_g, b / 255.0 AS mean_b
             |FROM p""".stripMargin)),

    // Perceptual image dedup: REAL PNG encode -> ImageIO decode ->
    // 8x8 average-hash (bit = gray*64 > sum, exact integer compare)
    // -> one hash-groupBy on the hex fingerprint. The gray pattern is
    // recomputable from doc_id, so the oracle re-derives every pixel,
    // every bit, and the full dedup WITHOUT touching a codec — the
    // Spark side's decode must round-trip bit-faithfully to match.
    "mm_phash_dedup" -> Decl(
      (s, d) => Multimodal.aHashDedup(
        Multimodal.syntheticGrayPngs(docs(s, d))),
      Some("""WITH g AS (SELECT doc_id,
             |  [ ((doc_id % 256) * (1 + 7*(j%8) + 13*(j//8)) + 31*(j%8) + 57*(j//8)) % 256
             |    for j in range(64) ] AS gr FROM documents),
             |s AS (SELECT doc_id, gr, list_sum(gr) AS total FROM g),
             |b AS (SELECT doc_id,
             |  [ CASE WHEN gr[j+1]*64 > total THEN 1 ELSE 0 END for j in range(64) ] AS bits FROM s),
             |hx AS (SELECT doc_id, array_to_string(
             |  [ substr('0123456789abcdef',
             |      CAST(bits[4*(15-k)+1] + 2*bits[4*(15-k)+2] + 4*bits[4*(15-k)+3]
             |           + 8*bits[4*(15-k)+4] AS INTEGER) + 1, 1)
             |    for k in range(16) ], '') AS ahash FROM b)
             |SELECT ahash, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  MIN(doc_id) AS keeper
             |FROM hx GROUP BY 1""".stripMargin)),

    // Gradient-hash near-dup pairs: 56-bit dHash from the REAL decode,
    // 4x14-bit band blocking (lossless for hamming <= 3 by
    // pigeonhole), rank-capped buckets, exact popcount verify. The
    // oracle re-derives every gradient bit from doc_id codec-free
    // (integer shifts only — no double ever holds the 56-bit key).
    "mm_dhash_pairs" -> Decl(
      (s, d) => Multimodal.dHashPairs(
        Multimodal.syntheticGrayPngs(docs(s, d)), 3, 64),
      Some("""WITH g AS (SELECT doc_id,
             |  [ ((doc_id % 256) * (1 + 7*(j%8) + 13*(j//8)) + 31*(j%8) + 57*(j//8)) % 256
             |    for j in range(64) ] AS gr FROM documents),
             |dh AS (SELECT doc_id, CAST(list_sum(
             |  [ CASE WHEN gr[(j//7)*8 + (j%7) + 2] > gr[(j//7)*8 + (j%7) + 1]
             |         THEN CAST(1 AS BIGINT) << j ELSE 0 END for j in range(56)]) AS BIGINT) AS dhash
             | FROM g),
             |bands AS (SELECT doc_id, dhash, b AS band,
             |   (dhash >> (14*b)) % 16384 AS bkey
             | FROM dh, range(4) t(b)),
             |bk AS (SELECT * FROM bands
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= 64)
             |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
             |  CAST(bit_count(xor(a.dhash, b2.dhash)) AS INTEGER) AS hamming
             |FROM bk a JOIN bk b2
             |  ON a.band = b2.band AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id
             |WHERE bit_count(xor(a.dhash, b2.dhash)) <= 3""".stripMargin)),
  )

  // ------------------------------------------------------------- relational
  // Tier-B surface exercised as standing queries (SURVEY §2.11).

  private val relational: Seq[(String, Decl)] = Seq(
    "tpch_q1_pricing" -> Decl(
      (s, d) => Relational.pricingSummary(
        Tables.read(s, d, "lineitem"), "1998-09-02"),
      Some("""SELECT l_returnflag, l_linestatus,
             | SUM(l_quantity) AS sum_qty, SUM(l_extendedprice) AS sum_base_price,
             | SUM(l_extendedprice*(1.0-l_discount)) AS sum_disc_price,
             | SUM(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)) AS sum_charge,
             | AVG(l_quantity) AS avg_qty, AVG(l_extendedprice) AS avg_price,
             | AVG(l_discount) AS avg_disc, COUNT(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    "tpch_q3_shipping" -> Decl(
      (s, d) => Relational.shippingPriority(
        Tables.read(s, d, "customer"), Tables.read(s, d, "orders"),
        Tables.read(s, d, "lineitem"), "BUILDING", "1999-01-01"),
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             | SUM(l_extendedprice*(1.0-l_discount)) AS revenue
             |FROM customer, orders, lineitem
             |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
             |  AND o_orderkey = l_orderkey
             |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
             |  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // revenue accumulates as DECIMAL(38,6) on BOTH sides (exact,
    // order-independent addition → immune to partial-agg ordering
    // across shuffle partitions), then the FINAL sum is cast to
    // DOUBLE so the compared column is a plain float: decimal-typed
    // outputs hash representation-sensitively in the driver's
    // comparator (r2: rows matched, hash didn't), doubles round-trip.
    "tpch_q5_local_supplier" -> Decl(
      (s, d) => Relational.localSupplierRevenue(
        Tables.read(s, d, "customer"), Tables.read(s, d, "orders"),
        Tables.read(s, d, "lineitem"), Tables.read(s, d, "supplier"),
        Tables.read(s, d, "nation"), Tables.read(s, d, "region")),
      Some("""SELECT n_name, CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
             |FROM lineitem, orders, customer, supplier, nation, region
             |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // Q6: the purest scan shape — all four predicates pushed to the
    // parquet scan, one scalar aggregate, DECIMAL(38,6)-exact revenue.
    "tpch_q6_forecast" -> Decl(
      (s, d) => Relational.forecastRevenue(
        Tables.read(s, d, "lineitem"), "1996-01-01", "1997-01-01",
        0.02, 0.06, 25.0),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
             | COUNT(*) AS n_items
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 25""".stripMargin)),

    // Q4 adapted to the schema (no commit/receipt dates): EXISTS as a
    // LEFT-SEMI join, counted per order priority.
    "tpch_q4_priority" -> Decl(
      (s, d) => Relational.orderPriorityCheck(
        Tables.read(s, d, "orders"), Tables.read(s, d, "lineitem"),
        "1996-01-01", "1996-07-01"),
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Q10: returned-item revenue ranking over a quarter.
    "tpch_q10_returns" -> Decl(
      (s, d) => Relational.returnedItems(
        Tables.read(s, d, "customer"), Tables.read(s, d, "orders"),
        Tables.read(s, d, "lineitem"), Tables.read(s, d, "nation"),
        "1996-01-01", "1996-04-01", 20),
      Some("""SELECT c_custkey, c_name, n_name,
             | CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
             |FROM lineitem, orders, customer, nation
             |WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
             |  AND o_custkey = c_custkey AND c_nationkey = n_nationkey
             |GROUP BY c_custkey, c_name, n_name
             |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // Q2 adapted (no partsupp table — lineitem is the part×supplier
    // cost relation): correlated per-part MIN subquery in the oracle,
    // hand-decorrelated aggregate+join-back on the Spark side. Cost
    // equality is a same-bits double compare (no arithmetic).
    "tpch_q2_mincost" -> Decl(
      (s, d) => Relational.minCostSupplier(
        Tables.read(s, d, "lineitem"), Tables.read(s, d, "part"),
        Tables.read(s, d, "supplier"), Tables.read(s, d, "nation"),
        Tables.read(s, d, "region"), "ASIA", 25, 100),
      Some("""SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name,
             | l_extendedprice AS cost
             |FROM lineitem, part, supplier, nation, region
             |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
             |  AND p_size = 25 AND s_nationkey = n_nationkey
             |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
             |  AND l_extendedprice = (
             |    SELECT MIN(l2.l_extendedprice)
             |    FROM lineitem l2, supplier s2, nation n2, region r2
             |    WHERE l2.l_partkey = p_partkey AND l2.l_suppkey = s2.s_suppkey
             |      AND s2.s_nationkey = n2.n_nationkey
             |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'ASIA')
             |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
             |LIMIT 100""".stripMargin)),

    // Q7: bidirectional two-nation revenue by ship year — nation joined
    // twice under different roles + a disjunctive pair predicate; the
    // one fact⨝fact join is SHUFFLE_HASH-pinned.
    "tpch_q7_volume" -> Decl(
      (s, d) => Relational.volumeShipping(
        Tables.read(s, d, "customer"), Tables.read(s, d, "orders"),
        Tables.read(s, d, "lineitem"), Tables.read(s, d, "supplier"),
        Tables.read(s, d, "nation"), "NATION_3", "NATION_7"),
      Some("""SELECT supp_nation, cust_nation, l_year,
             | CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS revenue
             |FROM (
             | SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
             |  l_extendedprice*(1.0-l_discount) AS volume
             | FROM supplier, lineitem, orders, customer, nation n1, nation n2
             | WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
             |  AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
             |  AND c_nationkey = n2.n_nationkey
             |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
             |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
             |) shipping
             |GROUP BY supp_nation, cust_nation, l_year
             |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // Q8: national market share within a region for one part type —
    // the conditional-sum/sum shape over the suite's widest join tree;
    // both fact-sized joins SHUFFLE_HASH-pinned, both sums exact.
    "tpch_q8_market_share" -> Decl(
      (s, d) => Relational.marketShare(
        Tables.read(s, d, "customer"), Tables.read(s, d, "orders"),
        Tables.read(s, d, "lineitem"), Tables.read(s, d, "supplier"),
        Tables.read(s, d, "part"), Tables.read(s, d, "nation"),
        Tables.read(s, d, "region"), "AMERICA", "ECONOMY", "NATION_1",
        "1996-01-01", "1997-12-31"),
      Some("""SELECT o_year,
             | CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) /
             | CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS mkt_share
             |FROM (
             | SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             |  l_extendedprice*(1.0-l_discount) AS volume, n2.n_name AS supp_nation
             | FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
             | WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
             |  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
             |  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
             |  AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
             |  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
             |  AND p_type = 'ECONOMY'
             |) shipping
             |GROUP BY o_year ORDER BY o_year""".stripMargin)),

    // Q17: revenue from lineitems under a fraction of their part's
    // average quantity — the correlated scalar-AVG shape, decorrelated
    // Spark-side. Integer-valued quantities keep the threshold exact.
    "tpch_q17_small_qty" -> Decl(
      (s, d) => Relational.smallQtyRevenue(
        Tables.read(s, d, "lineitem"), Tables.read(s, d, "part"),
        "Brand#23", 0.2),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0 AS avg_yearly
             |FROM lineitem, part
             |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
             |  AND l_quantity < (
             |    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
             |    WHERE l2.l_partkey = p_partkey)""".stripMargin)),

    // Q22 adapted (no phone column — grouped by nation key; "dormant"
    // = no orders since 1999, since every customer has history):
    // scalar-aggregate threshold + LEFT-ANTI against the orders fact.
    "tpch_q22_dormant" -> Decl(
      (s, d) => Relational.dormantCustomers(
        Tables.read(s, d, "customer"), Tables.read(s, d, "orders"),
        "1999-01-01"),
      Some("""SELECT c_nationkey, COUNT(*) AS numcust,
             | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
             |FROM customer
             |WHERE c_acctbal > (
             |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
             |  FROM customer WHERE c_acctbal > 0)
             | AND NOT EXISTS (SELECT 1 FROM orders
             |   WHERE o_custkey = c_custkey
             |     AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // Q12-style (adapted: shipping-LAG class instead of the absent
    // l_shipmode; no commit/receipt dates in the generator): the
    // CASE-sum priority audit, fact join SHUFFLE_HASH-hinted.
    "tpch_q12_ship_priority" -> Decl(
      (s, d) => Relational.shippingPriority12(
        Tables.read(s, d, "orders"), Tables.read(s, d, "lineitem"),
        "1996-01-01", "1997-01-01", 90),
      Some("""SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
             |  THEN 'LATE' ELSE 'ONTIME' END AS ship_class,
             | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |  THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
             |FROM lineitem, orders
             |WHERE l_orderkey = o_orderkey
             |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q13-style (adapted: no o_comment to exclude): zero-inclusive
    // customer order-count distribution via LEFT join — the
    // outer-join + double-aggregate shape verbatim.
    "tpch_q13_order_dist" -> Decl(
      (s, d) => Relational.custOrderDistribution(
        Tables.read(s, d, "customer"), Tables.read(s, d, "orders")),
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
             |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
             |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
             |  GROUP BY c_custkey) c_orders
             |GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // Q15: top supplier by quarterly revenue — view + scalar-MAX
    // subquery, tie-safe because the revenue equality compares exact
    // DECIMAL(38,6), not doubles.
    "tpch_q15_top_supplier" -> Decl(
      (s, d) => Relational.topSupplier(
        Tables.read(s, d, "supplier"), Tables.read(s, d, "lineitem"),
        "1996-01-01", "1996-04-01"),
      Some("""WITH revenue AS (
             |  SELECT l_suppkey AS supplier_no,
             |   SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,6))) AS rev
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
             |FROM supplier, revenue
             |WHERE s_suppkey = supplier_no
             |  AND rev = (SELECT MAX(rev) FROM revenue)
             |ORDER BY s_suppkey""".stripMargin)),

    // Q19-style (adapted: brand/size/quantity bands — the generator
    // has no container/shipmode/shipinstruct): disjunctive predicate
    // branches over a conjunctive broadcast join key.
    "tpch_q19_branded_revenue" -> Decl(
      (s, d) => Relational.brandedRevenue(
        Tables.read(s, d, "lineitem"), Tables.read(s, d, "part")),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
             |FROM lineitem, part
             |WHERE l_partkey = p_partkey AND (
             |  (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
             |    AND l_quantity BETWEEN 1 AND 11)
             |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
             |    AND l_quantity BETWEEN 10 AND 20)
             |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
             |    AND l_quantity BETWEEN 20 AND 30))""".stripMargin)),

    // Q21-style (adapted lateness = ship lag > 90 days): the
    // EXISTS / NOT-EXISTS correlated pair, decorrelated Spark-side
    // into one per-order aggregate; the oracle keeps the correlated
    // form so the two derivations check each other.
    "tpch_q21_waiting_supplier" -> Decl(
      (s, d) => Relational.waitingSuppliers(
        Tables.read(s, d, "supplier"), Tables.read(s, d, "orders"),
        Tables.read(s, d, "lineitem"), 90),
      Some("""SELECT s_name, COUNT(*) AS numwait
             |FROM supplier, lineitem l1, orders
             |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
             |  AND date_diff('day', o_orderdate, l1.l_shipdate) > 90
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = l1.l_orderkey
             |      AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |    WHERE l3.l_orderkey = l1.l_orderkey
             |      AND l3.l_suppkey <> l1.l_suppkey
             |      AND date_diff('day', o_orderdate, l3.l_shipdate) > 90)
             |GROUP BY s_name
             |ORDER BY numwait DESC, s_name""".stripMargin)),

    // Q11-style (adapted: no partsupp — "stock value" is per-part
    // discounted revenue): parts above a global-total fraction, the
    // group-then-global-threshold HAVING-subquery shape. DECIMAL
    // per-part sums; the threshold compares doubles derived from
    // those exact decimals, identically in both engines.
    "tpch_q11_important_parts" -> Decl(
      (s, d) => Relational.importantParts(
        Tables.read(s, d, "lineitem"), 0.0005),
      Some("""WITH pp AS (
             |  SELECT l_partkey,
             |    SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,6))) AS value
             |  FROM lineitem GROUP BY l_partkey)
             |SELECT l_partkey AS p_partkey, CAST(value AS DOUBLE) AS part_value
             |FROM pp
             |WHERE CAST(value AS DOUBLE) >
             |  (SELECT CAST(SUM(value) AS DOUBLE) FROM pp) * 0.0005
             |ORDER BY part_value DESC, p_partkey""".stripMargin)),

    // Q16-style (adapted: suppliers from lineitem, no partsupp or
    // s_comment): distinct-supplier count per retained
    // (brand, type, size) bucket — part dim filtered then broadcast,
    // partial-distinct map-side.
    "tpch_q16_supplier_cnt" -> Decl(
      (s, d) => Relational.partSupplierCount(
        Tables.read(s, d, "lineitem"), Tables.read(s, d, "part"),
        "Brand#45", Seq(1, 4, 9, 16, 25, 36, 49)),
      Some("""SELECT p_brand, p_type, p_size,
             |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
             |FROM lineitem, part
             |WHERE l_partkey = p_partkey
             |  AND p_brand <> 'Brand#45'
             |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
             |GROUP BY p_brand, p_type, p_size
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // Q14: promotion revenue share for a month; exact sums, the
    // division happens in doubles after.
    "tpch_q14_promo" -> Decl(
      (s, d) => Relational.promoRevenue(
        Tables.read(s, d, "lineitem"), Tables.read(s, d, "part"),
        "1996-03-01", "1996-04-01"),
      Some("""SELECT 100.0 *
             | CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
             |   THEN l_extendedprice*(1.0-l_discount) ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) /
             | CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS promo_pct
             |FROM lineitem, part
             |WHERE l_partkey = p_partkey
             |  AND l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin)),

    // Q9 SHAPE on available columns (partsupp is absent from this
    // star): per-(nation, year) profit over the 5-way
    // lineitem⨝orders⨝supplier⨝nation⨝part join with a part-name
    // pattern filter; unit cost substituted by the deterministic
    // 0.6·p_retailprice. Sums DECIMAL-quantized (the Q14 discipline).
    "tpch_q9_profit_shape" -> Decl(
      (s, d) => Relational.profitShape(
        Tables.read(s, d, "lineitem"), Tables.read(s, d, "orders"),
        Tables.read(s, d, "supplier"), Tables.read(s, d, "nation"),
        Tables.read(s, d, "part"), "bolt"),
      Some("""SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
             |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount)
             |       - 0.6*p_retailprice*l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS profit_proxy
             |FROM lineitem, orders, supplier, nation, part
             |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
             |  AND s_nationkey = n_nationkey AND l_partkey = p_partkey
             |  AND p_name LIKE '%bolt%'
             |GROUP BY 1, 2
             |ORDER BY nation, o_year DESC""".stripMargin)),

    // AS-OF join (composed union+window) checked against DuckDB's
    // NATIVE ASOF JOIN — an independent implementation of the same
    // semantics: for each purchase, the latest preceding (or equal)
    // view by the same user.
    "rel_asof_join" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = ev(s, d)
        Temporal.asOfJoin(
          left = e.filter(col("event_type") === "purchase"),
          right = e.filter(col("event_type") === "view"),
          key = "user_id", ts = "ts", idCol = "event_id")
      },
      Some("""SELECT p.event_id, p.user_id, p.ts, v.ts AS asof_ts
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
             |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin)),

    // Forward as-of: earliest FOLLOWING view per purchase (pandas
    // merge_asof direction='forward'), vs DuckDB's native ASOF with
    // the inequality flipped.
    "rel_asof_forward" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = ev(s, d)
        Temporal.asOfJoinDir(
          left = e.filter(col("event_type") === "purchase"),
          right = e.filter(col("event_type") === "view"),
          key = "user_id", ts = "ts", idCol = "event_id",
          forward = true, toleranceSeconds = None)
      },
      Some("""SELECT p.event_id, p.user_id, p.ts, v.ts AS asof_ts
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
             |  ON p.user_id = v.user_id AND p.ts <= v.ts""".stripMargin)),

    // Tolerance-bounded as-of (merge_asof tolerance=1h): nearest-match
    // + bound filter is equivalent to bounding inside the match.
    "rel_asof_tolerance" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = ev(s, d)
        Temporal.asOfJoinDir(
          left = e.filter(col("event_type") === "purchase"),
          right = e.filter(col("event_type") === "view"),
          key = "user_id", ts = "ts", idCol = "event_id",
          forward = false, toleranceSeconds = Some(3600L))
      },
      Some("""SELECT * FROM (
             |  SELECT p.event_id, p.user_id, p.ts, v.ts AS asof_ts
             |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |  ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
             |    ON p.user_id = v.user_id AND p.ts >= v.ts)
             |WHERE epoch_us(ts) - epoch_us(asof_ts) <= 3600000000""".stripMargin)),

    // Range join: value-band classification from a broadcast dim.
    "rel_range_join" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val bands = {
          import s.implicits._
          Seq((0.0, 50.0, "low"), (50.0, 120.0, "mid"),
            (120.0, 1e9, "high")).toDF("lo", "hi", "band")
        }
        Temporal.rangeJoin(ev(s, d), bands, col("value"))
          .groupBy(col("band")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("band"))
      },
      Some("""SELECT band, COUNT(*) AS cnt
             |FROM events e JOIN (VALUES (0.0, 50.0, 'low'), (50.0, 120.0, 'mid'),
             |                           (120.0, 1000000000.0, 'high')) t(lo, hi, band)
             |  ON e."value" >= t.lo AND e."value" < t.hi
             |GROUP BY band ORDER BY band""".stripMargin)),

    // Sessionization: 30-minute-gap sessions per user. Both cumulative
    // windows order by (ts, event_id): with ts alone, tied timestamps
    // would make the oracle's running sum nondeterministic and diverge
    // from the Spark side's (ts, idCol) ordering.
    "rel_sessionize" -> Decl(
      (s, d) => Temporal.sessionize(ev(s, d), "user_id", "ts", "event_id", 1800L),
      Some("""WITH t AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM t)
             |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             |  COUNT(*) AS n_events, MIN(ts) AS sess_start, MAX(ts) AS sess_end
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin)),

    // Inter-arrival gap log2 histogram: the traffic-shape audit whose
    // knee picks the sessionize gap threshold. Buckets via BIGINT bit
    // length (conv/bin string length), never a floating log.
    "rel_interarrival" -> Decl(
      (s, d) => Temporal.interArrival(ev(s, d), "user_id", "ts", "event_id"),
      Some("""WITH g AS (
             |  SELECT (epoch_us(ts) - epoch_us(lag(ts) OVER w)) // 1000000 AS gap_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |f AS (SELECT gap_s FROM g WHERE gap_s IS NOT NULL)
             |SELECT CAST(length(bin(gap_s + 1)) - 1 AS BIGINT) AS bucket,
             |  COUNT(*) AS n_gaps, MIN(gap_s) AS min_gap_s, MAX(gap_s) AS max_gap_s
             |FROM f GROUP BY 1""".stripMargin)),

    // Retention triangle: cohort = first-seen day, distinct actives
    // per day offset.
    "rel_retention_cohorts" -> Decl(
      (s, d) => Cohorts.retention(ev(s, d), "user_id", "ts"),
      Some("""WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort
             |          FROM events GROUP BY user_id)
             |SELECT cohort,
             |  CAST(CAST(ts AS DATE) - cohort AS BIGINT) AS day_offset,
             |  COUNT(DISTINCT e.user_id) AS active
             |FROM events e JOIN f USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Two-step funnel: earliest view strictly before earliest purchase.
    "rel_funnel" -> Decl(
      (s, d) => Cohorts.funnel(ev(s, d), "user_id", "ts", "event_type",
        "view", "purchase"),
      Some("""WITH a AS (SELECT user_id, MIN(ts) AS t_a FROM events
             |           WHERE event_type = 'view' GROUP BY user_id),
             |b AS (SELECT user_id, MIN(ts) AS t_b FROM events
             |      WHERE event_type = 'purchase' GROUP BY user_id)
             |SELECT CAST(t_a AS DATE) AS d, COUNT(*) AS entered,
             |  COUNT(CASE WHEN t_b > t_a THEN 1 END) AS converted
             |FROM a LEFT JOIN b USING (user_id)
             |GROUP BY d ORDER BY d""".stripMargin)),

    // Attribution-window funnel: converted-ever vs converted within
    // one hour of the first view; microsecond gap arithmetic.
    "rel_funnel_windowed" -> Decl(
      (s, d) => Cohorts.funnelWindowed(ev(s, d), "user_id", "ts",
        "event_type", "view", "purchase", 3600L),
      Some("""WITH a AS (SELECT user_id, MIN(ts) AS t_a FROM events
             |           WHERE event_type = 'view' GROUP BY user_id),
             |b AS (SELECT user_id, ts AS t_b FROM events WHERE event_type = 'purchase'),
             |u AS (SELECT a.user_id, t_a,
             |        MIN(CASE WHEN t_b > t_a THEN t_b END) AS t_conv
             |      FROM a LEFT JOIN b USING (user_id) GROUP BY 1, 2)
             |SELECT CAST(t_a AS DATE) AS d, COUNT(*) AS entered,
             |  COUNT(CASE WHEN t_conv IS NOT NULL THEN 1 END) AS converted_ever,
             |  COUNT(CASE WHEN t_conv IS NOT NULL
             |             AND epoch_us(t_conv) - epoch_us(t_a) <= 3600000000 THEN 1 END)
             |    AS converted_in_window
             |FROM u GROUP BY d ORDER BY d""".stripMargin)),

    // Three-step funnel (view → click → purchase): one conditional-min
    // aggregate per user, chained strict ordering, per-cohort-day depth.
    "rel_funnel3" -> Decl(
      (s, d) => Cohorts.funnelSteps(ev(s, d), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase")),
      Some("""WITH m AS (SELECT user_id,
             |  MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1,
             |  MIN(CASE WHEN event_type = 'click' THEN ts END) AS t2,
             |  MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
             | FROM events GROUP BY user_id)
             |SELECT CAST(t1 AS DATE) AS d, COUNT(*) AS step_1,
             |  COUNT(CASE WHEN t2 > t1 THEN 1 END) AS step_2,
             |  COUNT(CASE WHEN t2 > t1 AND t3 > t2 THEN 1 END) AS step_3
             |FROM m WHERE t1 IS NOT NULL GROUP BY d ORDER BY d""".stripMargin)),

    // GA-style per-day session quality rollup over the sessionize
    // output: ratios divide exact integer sums as doubles AFTER
    // aggregation, so every number is bit-deterministic.
    "rel_session_stats" -> Decl(
      (s, d) => Cohorts.sessionStats(ev(s, d), "user_id", "ts", "event_id", 1800L),
      Some("""WITH t AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM t),
             |g AS (SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             |        MIN(ts) AS sess_start, MAX(ts) AS sess_end
             |      FROM s GROUP BY user_id, session_id),
             |agg AS (SELECT CAST(sess_start AS DATE) AS d,
             |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
             |  CAST(SUM(n_events) AS BIGINT) AS total_events,
             |  CAST(SUM(epoch_us(sess_end) - epoch_us(sess_start)) AS BIGINT) AS total_dur_us,
             |  CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT) AS bounces
             | FROM g GROUP BY d)
             |SELECT d, n_sessions,
             |  CAST(total_events AS DOUBLE)/CAST(n_sessions AS DOUBLE) AS events_per_session,
             |  CAST(total_dur_us AS DOUBLE)/1000000.0/CAST(n_sessions AS DOUBLE) AS avg_duration_sec,
             |  CAST(bounces AS DOUBLE)/CAST(n_sessions AS DOUBLE) AS bounce_rate
             |FROM agg ORDER BY d""".stripMargin)),

    // Q18-style: HAVING-subquery shape as aggregate → filter → join.
    // Degree-oriented triangle count over the same constructed link
    // graph as rel_pagerank — every triangle counted once at its
    // lowest-(degree, id) apex; both engines agree on edge, wedge, and
    // triangle totals exactly.
    "rel_triangles" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val edges = ev(s, d).select(
          expr("concat('h', event_id % 1000)").as("src"),
          expr("concat('h', (event_id * 3 + user_id) % 997)").as("dst"))
        Graphs.triangleCount(edges)
      },
      Some("""WITH e0 AS (SELECT DISTINCT 'h'||(event_id % 1000) AS src,
             |                 'h'||((event_id * 3 + user_id) % 997) AS dst FROM events),
             |und AS (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b
             |        FROM e0 WHERE src <> dst),
             |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
             |        (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY node),
             |o AS (SELECT CASE WHEN (da.deg, a) < (db.deg, b) THEN a ELSE b END AS u,
             |             CASE WHEN (da.deg, a) < (db.deg, b) THEN b ELSE a END AS v,
             |             CASE WHEN (da.deg, a) < (db.deg, b) THEN db.deg ELSE da.deg END AS vd
             |      FROM und JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
             |w AS (SELECT o1.u, o1.v AS w1, o2.v AS w2
             |      FROM o o1 JOIN o o2 ON o1.u = o2.u AND (o1.vd, o1.v) < (o2.vd, o2.v)),
             |t AS (SELECT * FROM w WHERE EXISTS
             |      (SELECT 1 FROM o WHERE o.u = w.w1 AND o.v = w.w2))
             |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS n_wedges,
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_triangles""".stripMargin)),

    // Directed reciprocity of the raw (pre-canonicalization) link
    // graph: fraction of directed edges whose reverse exists.
    "rel_reciprocity" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val edges = ev(s, d).select(
          expr("concat('h', event_id % 1000)").as("src"),
          expr("concat('h', (event_id * 3 + user_id) % 997)").as("dst"))
        Graphs.reciprocity(edges)
      },
      Some("""WITH e AS (SELECT DISTINCT 'h'||(event_id % 1000) AS src,
             |                 'h'||((event_id * 3 + user_id) % 997) AS dst
             |        FROM events
             |        WHERE 'h'||(event_id % 1000) <> 'h'||((event_id * 3 + user_id) % 997)),
             |m AS (SELECT * FROM e WHERE EXISTS
             |      (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src))
             |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_mutual,
             |       CAST((SELECT COUNT(*) FROM m) AS DOUBLE) /
             |       CAST((SELECT COUNT(*) FROM e) AS DOUBLE) AS reciprocity""".stripMargin)),

    // Degree assortativity of the same link graph: integer-exact sums,
    // one closed-form double division — hubs-link-hubs vs hubs-link-
    // leaves in a single number.
    "rel_assortativity" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val edges = ev(s, d).select(
          expr("concat('h', event_id % 1000)").as("src"),
          expr("concat('h', (event_id * 3 + user_id) % 997)").as("dst"))
        Graphs.degreeAssortativity(edges)
      },
      Some("""WITH e0 AS (SELECT DISTINCT 'h'||(event_id % 1000) AS src,
             |                 'h'||((event_id * 3 + user_id) % 997) AS dst FROM events),
             |und AS (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b
             |        FROM e0 WHERE src <> dst),
             |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
             |        (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY node),
             |p AS (SELECT da.deg AS x, db.deg AS y
             |      FROM und JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
             |s AS (SELECT x, y FROM p UNION ALL SELECT y, x FROM p),
             |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             |        CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx FROM s)
             |SELECT n, CAST(n*sxy - sx*sx AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS assortativity
             |FROM agg""".stripMargin)),

    // Per-node local clustering coefficient over the same link graph:
    // cc(v) = 2T(v)/(deg(deg-1)); triangles come from the identical
    // degree-oriented closed-wedge set, fanned to each member node.
    "rel_clustering_coeff" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val edges = ev(s, d).select(
          expr("concat('h', event_id % 1000)").as("src"),
          expr("concat('h', (event_id * 3 + user_id) % 997)").as("dst"))
        Graphs.clusteringCoefficient(edges)
      },
      Some("""WITH e0 AS (SELECT DISTINCT 'h'||(event_id % 1000) AS src,
             |                 'h'||((event_id * 3 + user_id) % 997) AS dst FROM events),
             |und AS (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b
             |        FROM e0 WHERE src <> dst),
             |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
             |        (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY node),
             |o AS (SELECT CASE WHEN (da.deg, a) < (db.deg, b) THEN a ELSE b END AS u,
             |             CASE WHEN (da.deg, a) < (db.deg, b) THEN b ELSE a END AS v,
             |             CASE WHEN (da.deg, a) < (db.deg, b) THEN db.deg ELSE da.deg END AS vd
             |      FROM und JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
             |w AS (SELECT o1.u, o1.v AS w1, o2.v AS w2
             |      FROM o o1 JOIN o o2 ON o1.u = o2.u AND (o1.vd, o1.v) < (o2.vd, o2.v)),
             |t AS (SELECT * FROM w WHERE EXISTS
             |      (SELECT 1 FROM o WHERE o.u = w.w1 AND o.v = w.w2)),
             |tri3 AS (SELECT u AS node FROM t
             |         UNION ALL SELECT w1 FROM t UNION ALL SELECT w2 FROM t),
             |tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM tri3 GROUP BY 1)
             |SELECT deg.node, deg.deg, COALESCE(n_tri, 0) AS n_tri,
             |  CASE WHEN deg.deg >= 2
             |       THEN 2.0 * COALESCE(n_tri, 0) / (CAST(deg.deg AS DOUBLE) * (CAST(deg.deg AS DOUBLE) - 1.0))
             |       ELSE 0.0 END AS cc
             |FROM deg LEFT JOIN tc USING (node)""".stripMargin)),

    // Degree-distribution survey of the same link graph: node counts
    // per power-of-two degree class — the skew check run before
    // choosing graph strategies.
    "rel_degree_hist" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val edges = ev(s, d).select(
          expr("concat('h', event_id % 1000)").as("src"),
          expr("concat('h', (event_id * 3 + user_id) % 997)").as("dst"))
        Graphs.degreeStats(edges)
      },
      Some("""WITH e0 AS (SELECT DISTINCT 'h'||(event_id % 1000) AS src,
             |                 'h'||((event_id * 3 + user_id) % 997) AS dst FROM events),
             |und AS (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b
             |        FROM e0 WHERE src <> dst),
             |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
             |        (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY node)
             |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS deg_class,
             |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
             |  MIN(deg) AS min_deg, MAX(deg) AS max_deg
             |FROM deg GROUP BY 1 ORDER BY deg_class""".stripMargin)),

    // First-order Markov transitions over each user's time-ordered
    // event stream: the "where do users go next" paths report.
    "rel_top_transitions" -> Decl(
      (s, d) => Cohorts.topTransitions(ev(s, d), "user_id", "ts",
        "event_type", "event_id", 20),
      Some("""WITH t AS (SELECT user_id, event_type,
             |  LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_step
             | FROM events)
             |SELECT event_type AS from_step, to_step, CAST(COUNT(*) AS BIGINT) AS cnt
             |FROM t WHERE to_step IS NOT NULL
             |GROUP BY from_step, to_step
             |ORDER BY cnt DESC, from_step, to_step LIMIT 20""".stripMargin)),

    "tpch_q18_large_volume" -> Decl(
      (s, d) => Relational.largeVolumeCustomers(
        Tables.read(s, d, "customer"), Tables.read(s, d, "orders"),
        Tables.read(s, d, "lineitem"), 150.0, 100),
      Some("""WITH big AS (SELECT l_orderkey, SUM(l_quantity) AS total_qty
             |            FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 150)
             |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
             |FROM orders JOIN big ON o_orderkey = l_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin)),

    // Integerized PageRank over a link graph constructed from events
    // (sparse, asymmetric: ~1000 nodes) — 3 unrolled power iterations
    // in the oracle, all-floor integer arithmetic on both sides.
    "rel_pagerank" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val edges = ev(s, d).select(
          expr("concat('h', event_id % 1000)").as("src"),
          expr("concat('h', (event_id * 3 + user_id) % 997)").as("dst"))
        Graphs.pageRank(edges, 3)
      },
      Some("""WITH e AS (SELECT DISTINCT 'h'||(event_id % 1000) AS src,
             |                  'h'||((event_id * 3 + user_id) % 997) AS dst FROM events),
             |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION SELECT dst AS node FROM e)),
             |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
             |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
             |r0 AS (SELECT node, CAST(1000000 // n AS BIGINT) AS rank FROM nodes CROSS JOIN nn),
             |c1 AS (SELECT dst AS node, CAST(SUM(rank // deg) AS BIGINT) AS inr
             |       FROM e JOIN r0 ON e.src = r0.node JOIN deg USING (src) GROUP BY dst),
             |r1 AS (SELECT nodes.node, CAST((150000 // n) + ((85 * COALESCE(inr, 0)) // 100) AS BIGINT) AS rank
             |       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.node = c1.node),
             |c2 AS (SELECT dst AS node, CAST(SUM(rank // deg) AS BIGINT) AS inr
             |       FROM e JOIN r1 ON e.src = r1.node JOIN deg USING (src) GROUP BY dst),
             |r2 AS (SELECT nodes.node, CAST((150000 // n) + ((85 * COALESCE(inr, 0)) // 100) AS BIGINT) AS rank
             |       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.node = c2.node),
             |c3 AS (SELECT dst AS node, CAST(SUM(rank // deg) AS BIGINT) AS inr
             |       FROM e JOIN r2 ON e.src = r2.node JOIN deg USING (src) GROUP BY dst),
             |r3 AS (SELECT nodes.node, CAST((150000 // n) + ((85 * COALESCE(inr, 0)) // 100) AS BIGINT) AS rank
             |       FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.node = c3.node)
             |SELECT node, rank FROM r3""".stripMargin)),

    "rel_top_customers" -> Decl(
      (s, d) => Relational.topCustomers(
        Tables.read(s, d, "customer"), Tables.read(s, d, "orders"), 10),
      Some("""SELECT c_custkey, c_name, SUM(o_totalprice) AS total_spent,
             | COUNT(*) AS n_orders
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_custkey, c_name
             |ORDER BY total_spent DESC, c_custkey LIMIT 10""".stripMargin)),

    // 2-core of the link graph: the simultaneous peel to its unique
    // fixpoint (Seidman 1983) — the oracle UNROLLS 50 peel rounds,
    // comfortably past the measured layering depth (46 at sf0.001,
    // where long chains peel one layer per round; 0 at sf0.01, whose
    // denser graph is already its own 2-core), and since the peel is
    // monotone any unroll depth ≥ the fixpoint reproduces it exactly.
    "rel_kcore" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val edges = ev(s, d).select(
          expr("concat('h', event_id % 1000)").as("src"),
          expr("concat('h', (event_id * 3 + user_id) % 997)").as("dst"))
        Graphs.kCore(edges, 2, maxRounds = KcoreMaxRounds)
      },
      Some(kcoreOracle(2, KcoreMaxRounds))),

    // Fixed-4-round h-index refinement toward coreness (Lü et al.
    // 2016) — the bounded-round coreness the exact peel can't give on
    // chain topologies; the rel_pagerank treatment: same iteration
    // count unrolled in both engines, integer-exact throughout.
    "rel_coreness" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val edges = ev(s, d).select(
          expr("concat('h', event_id % 1000)").as("src"),
          expr("concat('h', (event_id * 3 + user_id) % 997)").as("dst"))
        Graphs.corenessHIndex(edges, 4)
      },
      Some(corenessOracle(4))),

    // Bounded-radius multi-source BFS from a fixed seed set over the
    // DIRECTED link graph: hop distance within 4 — exact by
    // construction (round t settles exactly distance-t nodes), so
    // the unroll depth IS the declared radius, no convergence bound
    // to argue.
    "rel_bfs_hops" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val edges = ev(s, d).select(
          expr("concat('h', event_id % 1000)").as("src"),
          expr("concat('h', (event_id * 3 + user_id) % 997)").as("dst"))
        Graphs.bfsHops(edges, Seq("h0", "h17", "h42"), 4)
      },
      Some(bfsOracle(Seq("h0", "h17", "h42"), 4))),

    // Weighted PageRank over the MULTIPLICITY link graph (no distinct:
    // each repeated event adds weight) — the repeat-link signal the
    // plain rel_pagerank discards; 3 unrolled integer iterations.
    "rel_pagerank_weighted" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val edges = ev(s, d).select(
          expr("concat('h', event_id % 1000)").as("src"),
          expr("concat('h', (event_id * 3 + user_id) % 997)").as("dst"),
          lit(1L).as("weight"))
        Graphs.pageRankWeighted(edges, 3)
      },
      Some(pagerankWeightedOracle(3))),

    // Personalized PageRank from the same trusted-seed set as
    // rel_bfs_hops: teleport mass returns only to seeds (TrustRank),
    // 3 unrolled integer iterations — BFS answers "how far from the
    // seeds", this answers "how much authority flows from them".
    "rel_ppr" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val edges = ev(s, d).select(
          expr("concat('h', event_id % 1000)").as("src"),
          expr("concat('h', (event_id * 3 + user_id) % 997)").as("dst"))
        Graphs.personalizedPageRank(edges, Seq("h0", "h17", "h42"), 3)
      },
      Some(pprOracle(Seq("h0", "h17", "h42"), 3))),

    // TPC-H Q20 shape (see Relational.potentialPromoSuppliers for the
    // documented partsupp substitution): nested semi-joins over a
    // correlated per-pair aggregate, excess test in exact BIGINTs.
    "tpch_q20_potential_promo" -> Decl(
      (s, d) => Relational.potentialPromoSuppliers(
        Tables.read(s, d, "lineitem"), Tables.read(s, d, "part"),
        Tables.read(s, d, "supplier"), Tables.read(s, d, "nation"),
        "cold", "1996-01-01", "1997-01-01"),
      Some("""WITH promo AS (SELECT p_partkey FROM part WHERE p_name LIKE 'cold%'),
             |sh AS (SELECT l_partkey, l_suppkey,
             |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |       FROM lineitem JOIN promo ON l_partkey = p_partkey
             |       WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |         AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |       GROUP BY 1, 2),
             |pairs AS (SELECT DISTINCT l_partkey, l_suppkey
             |          FROM lineitem JOIN promo ON l_partkey = p_partkey),
             |pa AS (SELECT l_partkey, l_suppkey,
             |         (l_partkey * 37 + l_suppkey * 11) % 1000 + 1 AS availqty
             |       FROM pairs),
             |ex AS (SELECT DISTINCT pa.l_suppkey
             |       FROM pa JOIN sh USING (l_partkey, l_suppkey)
             |       WHERE availqty * 2 > sum_qty)
             |SELECT s_suppkey, s_name, n_name
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |WHERE s_suppkey IN (SELECT l_suppkey FROM ex)
             |ORDER BY s_name""".stripMargin)),
  )

  /** The link-graph base CTEs shared by the generated graph oracles:
    * canonical undirected edge set over the events-derived graph.
    */
  private lazy val undCtes: String =
    """e0 AS (SELECT DISTINCT 'h'||(event_id % 1000) AS src,
      |                 'h'||((event_id * 3 + user_id) % 997) AS dst FROM events),
      |u0 AS MATERIALIZED (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b
      |      FROM e0 WHERE src <> dst)""".stripMargin

  /** Generated k-core peel: `rounds` unrolled simultaneous-deletion
    * rounds (each a degree aggregate + survivor semi-filter),
    * MATERIALIZED per round — DuckDB's default CTE inlining is
    * exponential on a chain where each round reads its predecessor
    * three times. Any depth ≥ the peel fixpoint reproduces the exact
    * k-core (deleting from a fixpoint is a no-op).
    */
  /** Shared peel budget for `rel_kcore`: the operator's maxRounds and
    * the oracle's unroll depth derive from this ONE constant so they
    * can never drift (a corpus peeling deeper than the oracle unroll
    * would gate-fail confusingly — operator converged, oracle not).
    */
  private final val KcoreMaxRounds = 60 // compile-time constant: inlined, immune to object-init order

  private def kcoreOracle(k: Int, rounds: Int): String = {
    val b = new StringBuilder("WITH ")
    b ++= undCtes
    for (i <- 1 to rounds) {
      b ++= s""",
               |d$i AS (SELECT node, COUNT(*) AS deg FROM
               |  (SELECT a AS node FROM u${i - 1} UNION ALL SELECT b FROM u${i - 1}) GROUP BY node),
               |k$i AS (SELECT node FROM d$i WHERE deg >= $k),
               |u$i AS MATERIALIZED (SELECT a, b FROM u${i - 1}
               |  WHERE a IN (SELECT node FROM k$i) AND b IN (SELECT node FROM k$i))""".stripMargin
    }
    b ++= s"""
             |SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg
             |FROM (SELECT a AS node FROM u$rounds UNION ALL SELECT b FROM u$rounds)
             |GROUP BY node HAVING COUNT(*) >= $k""".stripMargin
    b.toString
  }

  /** Generated h-index refinement: `rounds` unrolled rounds of
    * value = h-index of neighbor values (a descending rank window +
    * max(least(rank, value)) — tie order cannot move the h-index
    * because the sorted VALUE sequence is tie-invariant), starting
    * from degrees. Mirrors `Graphs.corenessHIndex` exactly.
    */
  private def corenessOracle(rounds: Int): String = {
    val b = new StringBuilder("WITH ")
    b ++= undCtes
    b ++= """,
            |nbr AS MATERIALIZED (SELECT a AS node, b AS nbr FROM u0
            |       UNION ALL SELECT b AS node, a AS nbr FROM u0),
            |v0 AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS h FROM nbr GROUP BY node)""".stripMargin
    for (i <- 1 to rounds) {
      b ++= s""",
               |j$i AS (SELECT nbr.node, v.h FROM nbr JOIN v${i - 1} v ON v.node = nbr.nbr),
               |r$i AS (SELECT node, least(ROW_NUMBER() OVER
               |        (PARTITION BY node ORDER BY h DESC), h) AS cand FROM j$i),
               |v$i AS MATERIALIZED (SELECT node, CAST(MAX(cand) AS BIGINT) AS h
               |       FROM r$i GROUP BY node)""".stripMargin
    }
    b ++= s"""
             |SELECT node, h FROM v$rounds""".stripMargin
    b.toString
  }

  /** Generated bounded-radius BFS: `maxHops` unrolled frontier
    * expansions over the DIRECTED link graph from a literal seed
    * set. Round t adds exactly the distance-t nodes, so the unroll
    * depth is the declared radius — no convergence argument needed.
    */
  private def bfsOracle(sources: Seq[String], maxHops: Int): String = {
    val seeds = sources.map(s => s"'$s'").mkString(", ")
    val b = new StringBuilder(
      """WITH e AS MATERIALIZED (SELECT DISTINCT 'h'||(event_id % 1000) AS src,
        |                 'h'||((event_id * 3 + user_id) % 997) AS dst FROM events
        |        WHERE 'h'||(event_id % 1000) <> 'h'||((event_id * 3 + user_id) % 997)),
        |nodes AS (SELECT DISTINCT node FROM
        |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),""".stripMargin)
    b ++= s"""
             |s0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS hops
             |     FROM nodes WHERE node IN ($seeds))""".stripMargin
    for (t <- 1 to maxHops) {
      b ++= s""",
               |f$t AS (SELECT DISTINCT e.dst AS node FROM e
               |       JOIN s${t - 1} st ON e.src = st.node AND st.hops = ${t - 1}),
               |s$t AS MATERIALIZED (SELECT node, hops FROM s${t - 1} UNION ALL
               |       SELECT node, CAST($t AS BIGINT) AS hops FROM f$t
               |       WHERE node NOT IN (SELECT node FROM s${t - 1}))""".stripMargin
    }
    b ++= s"""
             |SELECT node, hops FROM s$maxHops""".stripMargin
    b.toString
  }

  /** Generated weighted-PageRank oracle: the rel_pagerank unroll with
    * edge multiplicities — w = per-(src, dst) event count, wdeg = the
    * node's total out-weight, contributions (rank·w) div wdeg.
    */
  private def pagerankWeightedOracle(iters: Int): String = {
    val b = new StringBuilder(
      """WITH e AS (SELECT 'h'||(event_id % 1000) AS src,
        |                  'h'||((event_id * 3 + user_id) % 997) AS dst,
        |                  CAST(COUNT(*) AS BIGINT) AS w FROM events GROUP BY 1, 2),
        |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION SELECT dst AS node FROM e)),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        |wdeg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wdeg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000 // n AS BIGINT) AS rank FROM nodes CROSS JOIN nn)""".stripMargin)
    for (i <- 1 to iters) {
      b ++= s""",
               |c$i AS (SELECT dst AS node, CAST(SUM((rank * w) // wdeg) AS BIGINT) AS inr
               |       FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node JOIN wdeg USING (src) GROUP BY dst),
               |r$i AS (SELECT nodes.node, CAST((150000 // n) + ((85 * COALESCE(inr, 0)) // 100) AS BIGINT) AS rank
               |       FROM nodes CROSS JOIN nn LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }
    b ++= s"""
             |SELECT node, rank FROM r$iters""".stripMargin
    b.toString
  }

  /** Generated personalized-PageRank oracle: the rel_pagerank unroll
    * with the teleport term restricted to the literal seed set —
    * seeds start at scale div |S|, non-seeds at 0, and each round
    * adds the seed-conditional teleport before the damped floor-div
    * contribution sum. |S| is the literal list size (seeds absent
    * from the graph contribute nothing, as in the operator).
    */
  private def pprOracle(seeds: Seq[String], iters: Int): String = {
    val s = seeds.length
    val inList = seeds.map(x => s"'$x'").mkString(", ")
    val b = new StringBuilder(
      s"""WITH e AS (SELECT DISTINCT 'h'||(event_id % 1000) AS src,
         |                  'h'||((event_id * 3 + user_id) % 997) AS dst FROM events),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION SELECT dst AS node FROM e)),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT node, CAST(CASE WHEN node IN ($inList)
         |       THEN 1000000 // $s ELSE 0 END AS BIGINT) AS rank FROM nodes)""".stripMargin)
    for (i <- 1 to iters) {
      b ++= s""",
               |c$i AS (SELECT dst AS node, CAST(SUM(rank // deg) AS BIGINT) AS inr
               |       FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node JOIN deg USING (src) GROUP BY dst),
               |r$i AS (SELECT nodes.node, CAST(CASE WHEN nodes.node IN ($inList)
               |         THEN (150000 // $s) ELSE 0 END
               |         + ((85 * COALESCE(inr, 0)) // 100) AS BIGINT) AS rank
               |       FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }
    b ++= s"""
             |SELECT node, rank FROM r$iters""".stripMargin
    b.toString
  }

  /** The DoReMi-shape reweighting rounds as CTEs (final CTE `w2` has
    * source, n_tokens, n_rare, rare_ppm, w_0, w_1, w_2) — shared by
    * the reweight query and the apply capstone so the update rule
    * cannot drift between them. Mirrors `Sampling.mixtureReweight`
    * exactly: integer 10⁶ grid, floor division, zero-loss rounds
    * keep the previous weights.
    */
  private lazy val mixReweightCtes: String =
    """toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |cf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf FROM toks GROUP BY tok),
      |per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |        CAST(SUM(CASE WHEN cf <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
      |       FROM toks JOIN cf USING (tok) GROUP BY source),
      |ppm AS (SELECT source, n_tokens, n_rare,
      |        CAST((n_rare * 1000000) // n_tokens AS BIGINT) AS rare_ppm FROM per),
      |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ppm),
      |w0 AS (SELECT source, n_tokens, n_rare, rare_ppm,
      |        CAST(1000000 // n AS BIGINT) AS w_0 FROM ppm, ns),
      |p1 AS (SELECT CAST(SUM(w_0 * rare_ppm) AS BIGINT) AS p FROM w0),
      |w1 AS (SELECT w0.*, CAST(CASE WHEN p = 0 THEN w_0
      |        ELSE (w_0 * rare_ppm * 1000000) // p END AS BIGINT) AS w_1
      |       FROM w0, p1),
      |p2 AS (SELECT CAST(SUM(w_1 * rare_ppm) AS BIGINT) AS p FROM w1),
      |w2 AS (SELECT w1.*, CAST(CASE WHEN p = 0 THEN w_1
      |        ELSE (w_1 * rare_ppm * 1000000) // p END AS BIGINT) AS w_2
      |       FROM w1, p2)""".stripMargin

  /** The HLL oracle mirroring `Reports.dailyUniqueHll` at p = 8:
    * register index/rho from the shared md5 hash60, the harmonic
    * term as the exact BIGINT Σ 2^(53−M_j) (so no float-summation
    * order exists to drift), and the Flajolet constant α·m²·2^53
    * interpolated from the SAME Scala double the operator inlines —
    * shortest-round-trip printing parses back to the identical
    * IEEE value, so the one float division and the linear-counting
    * branch agree bit-for-bit across engines.
    */
  private lazy val hllOracle: String = {
    val m = 256
    val alpha = 0.7213 / (1.0 + 1.079 / m.toDouble)
    val numer = alpha * m.toDouble * m.toDouble * 9007199254740992L.toDouble
    s"""WITH h AS (SELECT CAST(ts AS DATE) AS d,
       |  CAST('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15) AS BIGINT) AS hv
       |  FROM events WHERE user_id IS NOT NULL),
       |b AS (SELECT d, hv % $m AS idx, hv // $m AS rem FROM h),
       |rr AS (SELECT d, idx,
       |  CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END AS rho FROM b),
       |regs AS (SELECT d, idx, MAX(rho) AS mj FROM rr GROUP BY d, idx),
       |pd AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_regs,
       |  CAST(SUM(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT) AS z_present
       |  FROM regs GROUP BY d),
       |fin AS (SELECT d, CAST($m - n_regs AS BIGINT) AS v_zero,
       |  CAST(z_present + ($m - n_regs) * 9007199254740992 AS BIGINT) AS z_scaled
       |  FROM pd),
       |est AS (SELECT d, v_zero,
       |  CASE WHEN $numer / CAST(z_scaled AS DOUBLE) <= 640.0 AND v_zero > 0
       |       THEN $m.0 * ln($m.0 / CAST(v_zero AS DOUBLE))
       |       ELSE $numer / CAST(z_scaled AS DOUBLE) END AS hll_est FROM fin),
       |ex AS (SELECT CAST(ts AS DATE) AS d,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM events GROUP BY d)
       |SELECT d, n_exact, v_zero, hll_est,
       |  abs(hll_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
       |FROM est JOIN ex USING (d) ORDER BY d""".stripMargin
  }

  // ------------------------------------------------------------------ text

  /** The trained char-bigram NB language-ID model as a VALUES CTE —
    * the SAME integer weight table `TextAnalysis.langIdOn` broadcasts
    * (computed once in plain Scala from the seeded fixture and inlined
    * into both engines, so scoring is pure BIGINT addition with zero
    * cross-engine float risk). Yields `model` plus `oovN` scalars via
    * [[langIdScoreCtes]].
    */
  private lazy val langIdModelCte: String = {
    import graft.functions.LangIdModel
    val rows = LangIdModel.vocab.map { case (g, ws) =>
      s"('${g.replace("'", "''")}', ${ws.mkString(", ")})"
    }.mkString(", ")
    s"model(gram, w_de, w_en, w_es, w_fr, w_zh) AS (VALUES $rows)"
  }

  /** Scoring + argmax CTEs over a `src(doc_id, text)` CTE: bigram
    * explode, LEFT join to `model` with per-language OOV literals,
    * BIGINT sums, lexicographic-tie argmax → `pred(doc_id, s_de …
    * s_zh, lang_pred)`. Mirrors `TextAnalysis.langIdOn` exactly.
    */
  private lazy val langIdScoreCtes: String = {
    val oov = graft.functions.LangIdModel.oov
    s"""$langIdModelCte,
       |g AS (SELECT doc_id, unnest([substr(p, i+1, 2) for i in range(length(p)-1)]) AS gram
       |      FROM (SELECT doc_id, ' '||lower(text)||' ' AS p FROM src)),
       |sc AS (SELECT doc_id,
       |   CAST(SUM(COALESCE(w_de, ${oov(0)})) AS BIGINT) AS s_de,
       |   CAST(SUM(COALESCE(w_en, ${oov(1)})) AS BIGINT) AS s_en,
       |   CAST(SUM(COALESCE(w_es, ${oov(2)})) AS BIGINT) AS s_es,
       |   CAST(SUM(COALESCE(w_fr, ${oov(3)})) AS BIGINT) AS s_fr,
       |   CAST(SUM(COALESCE(w_zh, ${oov(4)})) AS BIGINT) AS s_zh
       |  FROM g LEFT JOIN model USING (gram) GROUP BY doc_id),
       |pred AS (SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
       |   CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
       |        WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
       |        WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
       |        WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_pred
       |  FROM sc)""".stripMargin
  }

  /** The held-out fixture split as a VALUES CTE `src(doc_id, lang,
    * text)` — the rows `TextAnalysis.langIdFixtureConfusion` builds.
    */
  private lazy val langIdHeldOutCte: String = {
    val rows = graft.functions.LangIdModel.HeldOut.zipWithIndex.map {
      case ((l, t), i) => s"($i, '$l', '${t.replace("'", "''")}')"
    }.mkString(", ")
    s"src(doc_id, lang, text) AS (VALUES $rows)"
  }

  private val text: Seq[(String, Decl)] = Seq(
    "text_stats" -> Decl(
      (s, d) => TextAnalysis.textStats(docs(s, d)),
      Some("SELECT doc_id, CAST(length(text) AS BIGINT) AS len_chars, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens, CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq_tokens, CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_word_tokens FROM documents")),

    // Language ID by the fixture-trained char-bigram NB classifier
    // (integer literal weights in both engines — exact BIGINT sums).
    "text_lang_id" -> Decl(
      (s, d) => TextAnalysis.langId(docs(s, d)),
      Some(s"""WITH src AS (SELECT doc_id, text FROM documents),
              |$langIdScoreCtes
              |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh, lang_pred FROM pred""".stripMargin)),

    "text_quality" -> Decl(
      (s, d) => TextAnalysis.qualityScore(docs(s, d)),
      Some("""SELECT doc_id, n_tokens,
             | CAST(n_uniq AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS ttr,
             | CAST(stops AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS stop_ratio,
             | CASE WHEN n_tokens BETWEEN 20 AND 2000
             |       AND CAST(n_uniq AS DOUBLE)/CAST(n_tokens AS DOUBLE) > 0.2
             |      THEN 'keep' ELSE 'drop' END AS verdict
             |FROM (SELECT doc_id,
             |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
             |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq,
             |  CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5 AS BIGINT) AS stops
             | FROM documents)""".stripMargin)),

    // Shard packing: deterministic fixed-token-budget shards from a
    // two-level distributed prefix sum, vs the oracle's single global
    // window (integer arithmetic → bit-identical). DuckDB's window
    // SUM(BIGINT) yields HUGEINT, which the driver's comparator hashes
    // differently from Spark's BIGINT (r2 failure) → CAST back.
    "pipeline_pack_shards" -> Decl(
      (s, d) => TextAnalysis.packShards(docs(s, d), 5000L),
      Some("""SELECT doc_id, n_tokens,
             |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 5000 AS BIGINT) AS shard
             |FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |      FROM documents)""".stripMargin)),

    // Shard manifest over the same pack: per-shard doc/token counts,
    // id range, and an order-independent bit_xor content checksum —
    // the integrity artifact a corpus delivery ships with its shards.
    "pipeline_shard_manifest" -> Decl(
      (s, d) => TextAnalysis.shardManifest(docs(s, d), 5000L),
      Some("""WITH p AS (SELECT doc_id, n_tokens,
             |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 5000 AS BIGINT) AS shard
             | FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |       FROM documents)),
             |f AS (SELECT doc_id, CAST('0x'||substr(md5(lower(text)),1,15) AS BIGINT) AS fp60 FROM documents)
             |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
             |  bit_xor(fp60) AS checksum
             |FROM p JOIN f USING (doc_id) GROUP BY shard ORDER BY shard""".stripMargin)),

    // TF-IDF top-3 keywords per document — tf·ln(N/df), term tie-break.
    "text_tfidf_topk" -> Decl(
      (s, d) => TextAnalysis.tfidfTopTerms(docs(s, d), 3),
      Some("""WITH tf AS (
             |  SELECT doc_id, term, COUNT(*) AS tf FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
             |  GROUP BY doc_id, term),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents),
             |s AS (SELECT doc_id, tf.term,
             |        CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
             |      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
             |SELECT doc_id, term, tfidf, rn FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
             |  FROM s)
             |WHERE rn <= 3""".stripMargin)),

    // TextRank (Mihalcea & Tarau 2004): per-document PageRank on the
    // adjacent-word co-occurrence graph, every document's graph
    // iterating simultaneously on a (doc_id, word) node key; the
    // integer rank grid makes the 3-iteration fixpoint bit-exact, so
    // DuckDB reproduces it with an unrolled CTE chain (the
    // rel_pagerank treatment, per-doc keyed).
    "text_textrank" -> Decl(
      (s, d) => TextAnalysis.textrank(docs(s, d), 3, 3),
      Some(textrankOracleSql(3, 3))),

    "text_fingerprint" -> Decl(
      (s, d) => TextAnalysis.fingerprint(docs(s, d)),
      Some("SELECT doc_id, md5(lower(text)) AS fp, CAST('0x'||substr(md5(lower(text)),1,15) AS BIGINT) AS fp60 FROM documents")),

    // Repetition quality: most-frequent-bigram and duplicated-bigram
    // fractions per document, vs an oracle that rebuilds the same
    // bigrams with a 1-indexed lateral range. SUM(BIGINT) is HUGEINT
    // in DuckDB → CAST back everywhere.
    "text_repetition" -> Decl(
      (s, d) => TextAnalysis.repetitionStats(docs(s, d)),
      Some("""WITH g AS (
             |  SELECT doc_id, unnest([w[i+1] || ' ' || w[i+2] for i in range(len(w)-1)]) AS gram
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
             |  WHERE len(w) >= 2),
             |c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
             |a AS (SELECT doc_id,
             |  CAST(SUM(c) AS BIGINT) AS n_grams,
             |  CAST(MAX(c) AS BIGINT) AS top_gram,
             |  CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS dup_grams
             | FROM c GROUP BY doc_id)
             |SELECT doc_id, n_grams, top_gram, dup_grams,
             |  CAST(top_gram AS DOUBLE) / CAST(n_grams AS DOUBLE) AS top_frac,
             |  CAST(dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac,
             |  CASE WHEN CAST(top_gram AS DOUBLE) / CAST(n_grams AS DOUBLE) > 0.2
             |         OR CAST(dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE) > 0.5
             |       THEN 'drop' ELSE 'keep' END AS verdict
             |FROM a""".stripMargin)),

    // Full Gopher repetition battery (Rae et al. 2021 A1): duplicate
    // lines + top 2/3/4-gram + duplicated 5..10-gram char fractions,
    // published thresholds conjoined into verdict. The per-n CTEs are
    // generated; ties on "most frequent n-gram" break by char mass via
    // the packed-long (c·2³⁶ + c·len) max, identical in both engines.
    "text_gopher_repetition" -> Decl(
      (s, d) => TextAnalysis.gopherRepetition(docs(s, d)),
      Some(s"WITH ${gopherRepetitionCtes("documents")}\nSELECT * FROM gre")),

    // PII scrubbing. The synthetic documents table contains no
    // PII-shaped text at all, so the query CONSTRUCTS it — both
    // engines build the identical string from the same events columns
    // (the established pattern for exercising a transform the fixtures
    // don't reach), then scrub it with the same staged regexes.
    "pii_scrub" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val text = concat(
          lit("contact u"), col("user_id").cast("string"),
          lit("@mail"), (col("user_id") % 10).cast("string"),
          lit(".com from 10.0."), (col("user_id") % 256).cast("string"),
          lit("."), (col("event_id") % 200).cast("string"),
          lit(" ref "), col("props"),
          lit(" phone "), (col("event_id") * 7 + 5550000000L).cast("string"))
        TextAnalysis.scrubPii(
          ev(s, d).select(col("event_id"), text.as("text")),
          "event_id", "text")
      },
      Some("""WITH t AS (SELECT event_id,
             |  'contact u' || CAST(user_id AS VARCHAR) || '@mail' || CAST(user_id % 10 AS VARCHAR) ||
             |  '.com from 10.0.' || CAST(user_id % 256 AS VARCHAR) || '.' || CAST(event_id % 200 AS VARCHAR) ||
             |  ' ref ' || props || ' phone ' || CAST(event_id * 7 + 5550000000 AS VARCHAR) AS text
             | FROM events),
             |s1 AS (SELECT event_id, text,
             |  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS a FROM t),
             |s2 AS (SELECT event_id, text, a,
             |  regexp_replace(a, '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g') AS b FROM s1)
             |SELECT event_id,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(a, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS BIGINT) AS n_ips,
             |  CAST(len(regexp_extract_all(b, '\d{7,}')) AS BIGINT) AS n_digit_runs,
             |  regexp_replace(b, '\d{7,}', '<NUM>', 'g') AS scrubbed
             |FROM s2""".stripMargin)),

    // Lang-ID confusion: the marker heuristic's predictions against
    // the labeled lang column, with per-true-language fractions.
    // The NB classifier's confusion against the table's labels. The
    // synthetic corpus draws every document from the same English-ish
    // token soup regardless of `lang` (token distributions per label
    // are identical by construction), so a real classifier CORRECTLY
    // reads most rows as 'en' — the genuine diagonal is evidenced on
    // the held-out fixture split (text_langid_fixture_confusion).
    "text_langid_confusion" -> Decl(
      (s, d) => TextAnalysis.langIdConfusion(docs(s, d)),
      Some(s"""WITH src AS (SELECT doc_id, text FROM documents),
              |$langIdScoreCtes,
              |j AS (SELECT d.lang AS lang_true, p.lang_pred
              |      FROM pred p JOIN documents d USING (doc_id)),
              |tot AS (SELECT lang_true, CAST(COUNT(*) AS BIGINT) AS n_true
              |        FROM j GROUP BY 1)
              |SELECT j.lang_true, j.lang_pred, CAST(COUNT(*) AS BIGINT) AS n,
              |  MAX(n_true) AS n_true,
              |  CAST(COUNT(*) AS DOUBLE) / CAST(MAX(n_true) AS DOUBLE) AS frac
              |FROM j JOIN tot USING (lang_true)
              |GROUP BY 1, 2""".stripMargin)),

    // Held-out fixture evaluation of the SAME classifier: sentences
    // never trained on, all five languages — the confusion matrix is
    // perfectly diagonal (25/25), the evidence the synthetic corpus
    // cannot provide. Both engines classify the identical VALUES rows
    // with the identical literal weight table.
    "text_langid_fixture_confusion" -> Decl(
      (s, _) => TextAnalysis.langIdFixtureConfusion(s),
      Some(s"""WITH $langIdHeldOutCte,
              |$langIdScoreCtes,
              |j AS (SELECT s.lang AS lang_true, p.lang_pred
              |      FROM pred p JOIN src s USING (doc_id)),
              |tot AS (SELECT lang_true, CAST(COUNT(*) AS BIGINT) AS n_true
              |        FROM j GROUP BY 1)
              |SELECT j.lang_true, j.lang_pred, CAST(COUNT(*) AS BIGINT) AS n,
              |  MAX(n_true) AS n_true,
              |  CAST(COUNT(*) AS DOUBLE) / CAST(MAX(n_true) AS DOUBLE) AS frac
              |FROM j JOIN tot USING (lang_true)
              |GROUP BY 1, 2""".stripMargin)),

    // Lang-ID routing confidence: best vs runner-up integer score and
    // their margin per document — the threshold a pipeline applies
    // before trusting an assignment. Small margins here are the
    // honest reading of a corpus with little language signal.
    "text_langid_margin" -> Decl(
      (s, d) => TextAnalysis.langIdMargin(docs(s, d)),
      Some(s"""WITH src AS (SELECT doc_id, text FROM documents),
              |$langIdScoreCtes
              |SELECT doc_id, lang_pred,
              |  list_sort([s_de, s_en, s_es, s_fr, s_zh])[5] AS s_best,
              |  list_sort([s_de, s_en, s_es, s_fr, s_zh])[4] AS s_second,
              |  list_sort([s_de, s_en, s_es, s_fr, s_zh])[5]
              |    - list_sort([s_de, s_en, s_es, s_fr, s_zh])[4] AS margin
              |FROM pred""".stripMargin)),

    // PMI collocations: the cutoff is an exact integer
    // cross-multiplication (c12·N ≥ 2·c1·c2) carried in DECIMAL(38,0)
    // on BOTH engines (BIGINT would overflow at 100 TB token counts —
    // Spark wraps, DuckDB raises), so no float comparison decides the
    // row set; the ln-ratio pmi is a value column only.
    "text_pmi_colloc" -> Decl(
      (s, d) => TextAnalysis.pmiCollocations(docs(s, d), 3, 2),
      Some("""WITH toks AS (SELECT string_split(text,' ') AS w FROM documents),
             |e AS (SELECT w, unnest(range(len(w)-1)) AS i FROM toks WHERE len(w) >= 2),
             |p AS (SELECT w[i+1] AS w1, w[i+2] AS w2 FROM e),
             |uc AS (SELECT t, COUNT(*) AS c
             |       FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t),
             |tot AS (SELECT SUM(c) AS n FROM uc),
             |pc AS (SELECT w1, w2, COUNT(*) AS c12 FROM p GROUP BY 1, 2
             |       HAVING COUNT(*) >= 3)
             |SELECT pc.w1, pc.w2, c12, a.c AS c1, b.c AS c2,
             |  ln(CAST(c12 AS DOUBLE) * CAST(tot.n AS DOUBLE) /
             |     (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))) AS pmi
             |FROM pc JOIN uc a ON a.t = pc.w1 JOIN uc b ON b.t = pc.w2, tot
             |WHERE CAST(c12 AS DECIMAL(38,0)) * CAST(tot.n AS DECIMAL(38,0))
             |  >= CAST(2 AS DECIMAL(38,0)) * CAST(a.c AS DECIMAL(38,0)) * CAST(b.c AS DECIMAL(38,0))""".stripMargin)),

    // Flesch reading ease from regex-countable proxies (vowel-group
    // syllables with a min of 1 per word) — a pure codegen projection.
    "text_readability" -> Decl(
      (s, d) => TextAnalysis.readability(docs(s, d)),
      Some("""WITH c AS (SELECT doc_id,
             |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
             |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
             |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
             |    + len([x for x in string_split(text,' ')
             |           if NOT regexp_matches(lower(x), '[aeiouy]')]) AS BIGINT) AS n_syllables
             |FROM documents)
             |SELECT doc_id, n_words, n_sentences, n_syllables,
             |  206.835 - 1.015 * (CAST(n_words AS DOUBLE)/CAST(n_sentences AS DOUBLE))
             |          - 84.6 * (CAST(n_syllables AS DOUBLE)/CAST(n_words AS DOUBLE)) AS flesch
             |FROM c""".stripMargin)),

    // Zipf's-law fit: distributed top-200 vocabulary (rank ties break
    // on the term) then an O(k) least-squares regression of ln(count)
    // on ln(rank). Doubles agree to the compare's 6-decimal rounding.
    "text_zipf_slope" -> Decl(
      (s, d) => TextAnalysis.zipfSlope(docs(s, d), 200),
      Some("""WITH uc AS (SELECT t, COUNT(*) AS c
             |  FROM (SELECT unnest(string_split(text,' ')) AS t FROM documents) GROUP BY t),
             |top AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rk
             |        FROM uc ORDER BY c DESC, t LIMIT 200),
             |xy AS (SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y FROM top),
             |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
             |             SUM(x*x) AS sxx, SUM(x*y) AS sxy FROM xy)
             |SELECT CAST(n AS BIGINT) AS n_terms,
             |  (n*sxy - sx*sy)/(n*sxx - sx*sx) AS slope,
             |  (sy - (n*sxy - sx*sy)/(n*sxx - sx*sx)*sx)/n AS intercept
             |FROM s""".stripMargin)),

    // Per-doc token Shannon entropy + type-normalized form: the
    // position-blind lexical-diversity gate (low entropy = few tokens
    // looping). All shuffles ride the doc_id key.
    "text_token_entropy" -> Decl(
      (s, d) => TextAnalysis.tokenEntropy(docs(s, d)),
      Some("""WITH tc AS (SELECT doc_id, t, COUNT(*) AS c
             |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents)
             |  GROUP BY 1, 2),
             |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             |        CAST(COUNT(*) AS BIGINT) AS n_types FROM tc GROUP BY 1),
             |e AS (SELECT tc.doc_id, MAX(n) AS n_tokens, MAX(n_types) AS n_types,
             |  -SUM(CAST(c AS DOUBLE)/CAST(n AS DOUBLE) * ln(CAST(c AS DOUBLE)/CAST(n AS DOUBLE))) AS entropy
             |  FROM tc JOIN tot USING (doc_id) GROUP BY 1)
             |SELECT doc_id, n_tokens, n_types, entropy,
             |  CASE WHEN n_types > 1 THEN entropy / ln(CAST(n_types AS DOUBLE)) ELSE 0.0 END AS norm_entropy
             |FROM e""".stripMargin)),

    // Per-doc sentence-length profile: count / token total / longest
    // sentence; empty segments and tokens dropped explicitly on both
    // sides so split-semantics edge cases never decide a row.
    "text_sentence_stats" -> Decl(
      (s, d) => TextAnalysis.sentenceStats(docs(s, d)),
      Some("""WITH l AS (SELECT doc_id,
             |  [x for x in
             |    [len([t for t in string_split(trim(seg), ' ') if t <> ''])
             |     for seg in string_split_regex(text, '[.!?]+')]
             |   if x > 0] AS lens
             | FROM documents)
             |SELECT doc_id,
             |  CAST(len(lens) AS BIGINT) AS n_sentences,
             |  CAST(COALESCE(list_sum(lens), 0) AS BIGINT) AS sent_tokens,
             |  CAST(COALESCE(list_max(lens), 0) AS BIGINT) AS max_sent_tokens,
             |  CASE WHEN len(lens) > 0
             |       THEN CAST(COALESCE(list_sum(lens), 0) AS DOUBLE) / len(lens)
             |       ELSE 0.0 END AS mean_sent_tokens
             |FROM l""".stripMargin)),

    // RAKE keyword extraction: the integer frequency cutoff decides
    // the row set; the degree/frequency score is a value column.
    "text_rake_phrases" -> Decl(
      (s, d) => TextAnalysis.rakePhrases(docs(s, d),
        Seq("a", "the", "of", "and", "to"), 2),
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
             |e AS (SELECT doc_id, w, unnest(range(len(w))) AS pos FROM t),
             |f AS (SELECT doc_id, pos, w[pos+1] AS word,
             |       w[pos+1] IN ('a','the','of','and','to') AS is_stop FROM e),
             |p AS (SELECT doc_id, pos, word, is_stop,
             |  SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id FROM f),
             |ph AS (SELECT doc_id, phrase_id,
             |  string_agg(word, ' ' ORDER BY pos) AS phrase,
             |  CAST(COUNT(*) AS BIGINT) AS n_words
             | FROM p WHERE NOT is_stop GROUP BY 1, 2),
             |wr AS (SELECT unnest(string_split(phrase,' ')) AS word, n_words FROM ph),
             |ws AS (SELECT word, COUNT(*) AS freq, CAST(SUM(n_words) AS BIGINT) AS deg
             |       FROM wr GROUP BY 1),
             |dp AS (SELECT DISTINCT phrase FROM ph),
             |pw AS (SELECT phrase, unnest(string_split(phrase,' ')) AS word FROM dp),
             |sc AS (SELECT phrase, SUM(CAST(deg AS DOUBLE)/CAST(freq AS DOUBLE)) AS score
             |       FROM pw JOIN ws USING (word) GROUP BY 1),
             |pc AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS freq_phrase,
             |       MAX(n_words) AS n_words FROM ph GROUP BY 1)
             |SELECT pc.phrase, pc.n_words, freq_phrase, score
             |FROM pc JOIN sc USING (phrase) WHERE freq_phrase >= 2""".stripMargin)),

    // DEFLATE compression ratio (the Gopher/RefinedWeb quality gate):
    // REAL zlib in a typed narrow map. ROWS-ONLY tier — SQL engines
    // don't expose zlib, so like the HLL and approx-percentile rows
    // this is driver rows-checked and spec-pinned (CompressRatioSpec:
    // determinism across partitionings, template-vs-prose-vs-junk
    // ordering, exact empty/tiny cases).
    "text_compress_ratio" -> Decl(
      (s, d) => TextAnalysis.compressionRatio(docs(s, d)), None),
  )

  // ------------------------------------------------------------- composite

  /** The end-to-end corpus-cleaning pipeline a training-data job runs:
    * quality gate ∧ language gate ∧ exact-dedup keeper, composed from
    * the SAME operators the individual queries gate. All three joins
    * key on doc_id: at tiny SF the planner broadcasts the filter
    * sides (observed — zero hash exchanges), and at scale, where they
    * exceed the broadcast threshold, the corpus side is
    * hash-partitioned on doc_id by the FIRST join and that
    * partitioning satisfies the rest of the chain — one corpus
    * shuffle total. The per-row verdicts could also be fused into a
    * single projection, trading the operator seams for zero joins.
    */
  private val composite: Seq[(String, Decl)] = Seq(
    "pipeline_clean_corpus" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val base = docs(s, d)
        base
          .join(TextAnalysis.qualityScore(base)
            .select(col("doc_id"), col("verdict")), "doc_id")
          .join(TextAnalysis.langId(base)
            .select(col("doc_id"), col("lang_pred")), "doc_id")
          .filter(col("verdict") === "keep" && col("lang_pred") === "en")
          .join(Dedup.exact(base).select(col("keeper").as("doc_id")), "doc_id")
          .select(col("doc_id"), col("n_chars"))
      },
      Some(s"""WITH src AS (SELECT doc_id, text FROM documents),
              |$langIdScoreCtes,
              |q AS (SELECT doc_id FROM (
              |    SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
              |           CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq
              |    FROM documents)
              |  WHERE n_tokens BETWEEN 20 AND 2000
              |    AND CAST(n_uniq AS DOUBLE)/CAST(n_tokens AS DOUBLE) > 0.2),
              |l AS (SELECT doc_id FROM pred WHERE lang_pred = 'en'),
              |k AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(lower(text)))
              |SELECT d.doc_id, d.n_chars FROM documents d
              |JOIN q USING (doc_id) JOIN l USING (doc_id) JOIN k USING (doc_id)""".stripMargin)),

    // The capstone composite: the full curation chain — repetition
    // gate ∧ quality gate ∧ exact-dedup keeper — then vocabulary-id
    // tokenization of the SURVIVORS (vocab built from the cleaned
    // corpus, as a real pipeline would). Every stage is the same
    // operator its standalone query gates; the joins all key on
    // doc_id, so one corpus hash-partitioning serves the whole chain.
    "pipeline_curate_tokenize" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val base = docs(s, d)
        val cleaned = base
          .join(TextAnalysis.qualityScore(base)
            .filter(col("verdict") === "keep").select("doc_id"), "doc_id")
          .join(TextAnalysis.repetitionStats(base)
            .filter(col("verdict") === "keep").select("doc_id"), "doc_id")
          .join(Dedup.exact(base).select(col("keeper").as("doc_id")), "doc_id")
        TextAnalysis.tokenize(cleaned, 20)
      },
      Some("""WITH q AS (SELECT doc_id FROM (
             |    SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
             |           CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq
             |    FROM documents)
             |  WHERE n_tokens BETWEEN 20 AND 2000
             |    AND CAST(n_uniq AS DOUBLE)/CAST(n_tokens AS DOUBLE) > 0.2),
             |g AS (SELECT doc_id, unnest([w[i+1] || ' ' || w[i+2] for i in range(len(w)-1)]) AS gram
             |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
             |      WHERE len(w) >= 2),
             |gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
             |rep AS (SELECT doc_id FROM (
             |    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams, CAST(MAX(c) AS BIGINT) AS top_gram,
             |           CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS dup_grams
             |    FROM gc GROUP BY doc_id)
             |  WHERE NOT (CAST(top_gram AS DOUBLE)/CAST(n_grams AS DOUBLE) > 0.2
             |          OR CAST(dup_grams AS DOUBLE)/CAST(n_grams AS DOUBLE) > 0.5)),
             |k AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(lower(text))),
             |f AS (SELECT d.doc_id, d.text FROM documents d
             |      JOIN q USING (doc_id) JOIN rep USING (doc_id) JOIN k USING (doc_id)),
             |vc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM (SELECT unnest(string_split(text,' ')) AS term FROM f)
             |  GROUP BY term ORDER BY cnt DESC, term LIMIT 20),
             |v AS (SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS tid FROM vc),
             |e AS (SELECT doc_id, CAST(unnest(range(len(w))) AS BIGINT) AS pos, unnest(w) AS tok
             |      FROM (SELECT doc_id, string_split(text,' ') AS w FROM f)),
             |m AS (SELECT doc_id, pos, COALESCE(tid, 0) AS tid FROM e LEFT JOIN v ON e.tok = v.term)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |  string_agg(tid, ',' ORDER BY pos) AS ids
             |FROM m GROUP BY doc_id""".stripMargin)),

    // Deterministic hash-split sampling: the reproducible train/val
    // split a training pipeline needs — membership depends only on the
    // document id (stable across runs, engines, and cluster sizes; a
    // pure map-side filter at any scale), checked bit-for-bit because
    // the hash derives from md5.
    "pipeline_sample_hash" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        docs(s, d)
          .filter((graft.functions.TextFunctions
            .hash60(col("doc_id").cast("string")) % 100) < 10)
          .select(col("doc_id"), col("n_chars"))
      },
      Some("""SELECT doc_id, n_chars FROM documents
             |WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 100 < 10""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis-Spirakis):
    // md5-derived u, rank key ln(u)/w, k survivors via the
    // distributed top-k. Longer documents are proportionally likelier
    // but nothing is guaranteed a slot — the standard corpus
    // subsampling that respects document mass.
    "pipeline_sample_weighted" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Sampling.weightedSample(
          docs(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id", col("n_chars"), 100)
      },
      Some("""WITH b AS (SELECT doc_id, n_chars, CAST(n_chars AS DOUBLE) AS w,
             |  ln(greatest(CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) + 1 AS DOUBLE)
             |               / 1152921504606846976.0,
             |              8.673617379884035e-19)) / CAST(n_chars AS DOUBLE) AS es_key
             |FROM documents WHERE n_chars > 0)
             |SELECT * FROM b ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin)),

    // Stratified sampling: a fixed-size, class-balanced subset — the
    // 25 smallest hash ranks per language. WindowGroupLimit truncates
    // each map task to k rows per stratum before the shuffle.
    "pipeline_sample_stratified" -> Decl(
      (s, d) => Sampling.stratified(
        docs(s, d).select("doc_id", "lang"), "lang", "doc_id", 25),
      Some("""SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank FROM (
             |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
             |    ORDER BY CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT), doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 25""".stripMargin)),

    // Temperature-scaled multilingual sampling (mT5/UniMax): quotas
    // ∝ ⌊√n_lang⌋ over a 40% budget, integer-quantized end-to-end so
    // both engines agree bit-for-bit; within-language membership is
    // the shared md5-rank order. The oracle keeps the one-reducer
    // ROW_NUMBER form while Spark ranks via the two-level bucket
    // offsets — the derivations check each other.
    "pipeline_sample_temperature" -> Decl(
      (s, d) => Sampling.temperatureSample(
        docs(s, d).select("doc_id", "lang"), "lang", "doc_id", 40),
      Some("""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM documents GROUP BY 1),
             |w AS (SELECT lang, n_l, CAST(FLOOR(SQRT(CAST(n_l AS DOUBLE))) AS BIGINT) AS s_l FROM c),
             |t AS (SELECT CAST(SUM(n_l) AS BIGINT) AS n_total, CAST(SUM(s_l) AS BIGINT) AS s_total FROM w),
             |tg AS (SELECT lang, ((t.n_total * 40) // 100) * s_l // t.s_total AS target_n FROM w, t),
             |r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
             |        ORDER BY CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT), doc_id) AS rk
             |      FROM documents)
             |SELECT r.doc_id, r.lang, CAST(rk AS BIGINT) AS sample_rank, tg.target_n
             |FROM r JOIN tg USING (lang) WHERE rk <= tg.target_n""".stripMargin)),

    // UniMax mixing (Chung et al. 2023): cap every language at 2
    // epochs and water-fill a 150%-of-corpus token budget smallest
    // capacity first — tail languages repeat their FULL data exactly
    // twice (n_copies = 2), the head language absorbs the leftover
    // without repetition. The oracle replays the sequential
    // water-filling recurrence as a recursive CTE over the
    // |languages|-row histogram (the same bounded fold Spark runs
    // driver-side); membership and remainder assignment reuse the
    // shared md5-rank order, so both engines agree bit-for-bit.
    "pipeline_sample_unimax" -> Decl(
      (s, d) => Sampling.unimaxSample(
        docs(s, d).select("doc_id", "lang"), "lang", "doc_id",
        budgetPct = 150, epochs = 2),
      Some("""WITH RECURSIVE c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM documents GROUP BY 1),
             |caps AS (SELECT lang, n_l, 2 * n_l AS cap,
             |         CAST(ROW_NUMBER() OVER (ORDER BY 2 * n_l, lang) AS BIGINT) AS i FROM c),
             |tot AS (SELECT CAST(SUM(n_l) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS m FROM c),
             |alloc(i, lang, n_l, quota, b_rem, m_rem) AS (
             |  SELECT CAST(0 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |         (SELECT total * 150 // 100 FROM tot), (SELECT m FROM tot)
             |  UNION ALL
             |  SELECT caps.i, caps.lang, caps.n_l,
             |         LEAST(caps.cap, alloc.b_rem // alloc.m_rem),
             |         alloc.b_rem - LEAST(caps.cap, alloc.b_rem // alloc.m_rem),
             |         alloc.m_rem - 1
             |  FROM alloc JOIN caps ON caps.i = alloc.i + 1),
             |q AS (SELECT lang, n_l, quota FROM alloc WHERE i > 0),
             |r AS (SELECT doc_id, lang, CAST(ROW_NUMBER() OVER (PARTITION BY lang
             |        ORDER BY CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT), doc_id) AS BIGINT) AS sample_rank
             |      FROM documents)
             |SELECT r.doc_id, r.lang, r.sample_rank,
             |  (q.quota // q.n_l) + CASE WHEN r.sample_rank <= q.quota % q.n_l THEN 1 ELSE 0 END AS n_copies,
             |  q.quota
             |FROM r JOIN q USING (lang)
             |WHERE (q.quota // q.n_l) + CASE WHEN r.sample_rank <= q.quota % q.n_l THEN 1 ELSE 0 END >= 1""".stripMargin)),

    // Decontamination: train docs sharing >= 2 trigrams with a
    // hash-held-out "benchmark" slice (~4% of docs). The eval shingles
    // broadcast; the train corpus streams past map-side; only real
    // collisions shuffle. COUNT(*) is BIGINT in DuckDB only after a
    // CAST (driver hashes by representation).
    "pipeline_decontaminate" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val all = docs(s, d)
        val split = graft.functions.TextFunctions
          .hash60(col("doc_id").cast("string")) % 25
        Decontaminate.overlaps(
          all.filter(split =!= 0), all.filter(split === 0), 3, 2)
      },
      Some(s"""WITH ${shinglesCteFrom("documents")},
              |e AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
              |ev AS (SELECT doc_id AS eval_id, shingle FROM e
              |       WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 25 = 0),
              |tr AS (SELECT * FROM e
              |       WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 25 <> 0)
              |SELECT tr.doc_id AS doc_id, ev.eval_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
              |FROM tr JOIN ev ON tr.shingle = ev.shingle
              |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin)),
    // The eval-side audit of the same split: per eval doc, colliding
    // train docs and the fraction of its distinct trigrams seen
    // anywhere in train (exact int/int double).
    "pipeline_eval_contamination" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val all = docs(s, d)
        val split = graft.functions.TextFunctions
          .hash60(col("doc_id").cast("string")) % 25
        Decontaminate.evalContamination(
          all.filter(split =!= 0), all.filter(split === 0), 3)
      },
      Some(s"""WITH ${shinglesCteFrom("documents")},
              |e AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
              |ev AS (SELECT doc_id AS eval_id, shingle FROM e
              |       WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 25 = 0),
              |tr AS (SELECT * FROM e
              |       WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 25 <> 0),
              |sizes AS (SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM ev GROUP BY 1),
              |hits AS (SELECT ev.eval_id,
              |    CAST(COUNT(DISTINCT tr.doc_id) AS BIGINT) AS n_train_docs,
              |    CAST(COUNT(DISTINCT tr.shingle) AS BIGINT) AS n_seen
              |  FROM tr JOIN ev ON tr.shingle = ev.shingle GROUP BY 1)
              |SELECT s.eval_id, s.n_shingles,
              |  coalesce(h.n_train_docs, 0) AS n_train_docs,
              |  coalesce(h.n_seen, 0) AS n_seen,
              |  CAST(coalesce(h.n_seen, 0) AS DOUBLE)/CAST(s.n_shingles AS DOUBLE) AS contamination_frac
              |FROM sizes s LEFT JOIN hits h USING (eval_id)""".stripMargin)),

    // Embedding-space decontamination — the semantic complement of
    // the n-gram collision check (paraphrased benchmark items share
    // no n-grams but sit next to the eval set in embedding space):
    // corpus vectors whose max cosine against the first-10 eval slice
    // reaches tau. The eval set inlines as literals, so the operator
    // is ONE corpus scan with a per-row greatest-fold — no join, no
    // shuffle (plan-pinned). tau = 0.35 exercises the distribution's
    // tail on this synthetic corpus (no cross-slice near-dups are
    // planted; the threshold is the caller's knob).
    "pipeline_semantic_decon" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Decontaminate.semanticDecontaminate(
          e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
          tau = 0.35)
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |ev AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10)
              |SELECT c.vec_id, MAX(${duckCosine("v", "qv")}) AS max_eval_sim
              |FROM c, ev WHERE c.vec_id >= 10
              |GROUP BY c.vec_id
              |HAVING MAX(${duckCosine("v", "qv")}) >= 0.35""".stripMargin)),

    // THE INTAKE CAPSTONE: what actually runs when a new crawl dump
    // arrives at a training-data pipeline's door. The documents table
    // splits into at-rest corpus (doc_id%5 ∈ {0,3,4}), the incoming
    // dump (%5=1), and a held-out eval set (%5=2); the dump is then
    // (1) quality-gated — cheapest filter first, everything downstream
    // shrinks; (2) near-dup'd AGAINST the corpus via the cross-LSH
    // band join (corpus rank-capped, never self-paired, pair-scoped
    // exact-Jaccard verify); (3) decontaminated against eval (3-gram
    // overlap ≥ 2, eval side broadcast); survivors ship. Every stage
    // is the same operator its standalone query gates; both anti-joins
    // key on doc_id.
    "pipeline_intake_dump" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val all = docs(s, d)
        val slice = col("doc_id") % 5
        val corpus = all.filter(slice.isin(0, 3, 4))
          .select(col("doc_id"), col("text"))
        val dump = all.filter(slice === 1)
        val evalSet = all.filter(slice === 2)
          .select(col("doc_id"), col("text"))
        // The gate-survivor id set feeds THREE consumers (near-dup,
        // decontamination, the final anti-joins); left inline, Spark
        // re-tokenizes the whole dump once per consumer (8 scans, 0
        // reused exchanges measured). Ids are tiny relative to the
        // corpus — ~8 bytes/doc, cluster-memory-resident even at
        // 100 TB — so one eager materialization of the id frame is
        // the honest trade at every scale.
        val keepIds = TextAnalysis.qualityScore(dump)
          .filter(col("verdict") === "keep").select("doc_id")
          .localCheckpoint(true)
        val dumpQ = dump.join(keepIds, "doc_id")
        val dupIds = Dedup.minhashLshAgainst(
            dumpQ.select(col("doc_id"), col("text")), corpus, 3, 0.5)
          .select(col("doc_b").as("doc_id")).distinct()
        val contamIds = Decontaminate.overlaps(
            dumpQ.select(col("doc_id"), col("text")), evalSet, 3, 2)
          .select(col("doc_id")).distinct()
        dumpQ
          .join(dupIds, Seq("doc_id"), "left_anti")
          .join(contamIds, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_chars"))
      },
      Some(s"""WITH q AS (SELECT doc_id FROM (
              |    SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
              |           CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq
              |    FROM documents WHERE doc_id % 5 = 1)
              |  WHERE n_tokens BETWEEN 20 AND 2000
              |    AND CAST(n_uniq AS DOUBLE)/CAST(n_tokens AS DOUBLE) > 0.2),
              |$minhashConstsCte,
              |$shinglesCte,
              |$lshBandsCte,
              |corp_k AS (
              |  SELECT * FROM bands WHERE doc_id % 5 IN (0, 3, 4)
              |  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= ${Dedup.MaxBucket}),
              |new_b AS (SELECT * FROM bands
              |  WHERE doc_id % 5 = 1 AND doc_id IN (SELECT doc_id FROM q)),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
              |  FROM corp_k a JOIN new_b b ON a.band = b.band AND a.bkey = b.bkey),
              |dup AS (SELECT DISTINCT doc_b AS doc_id FROM (
              |    SELECT doc_b,
              |      CAST(len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS BIGINT) AS common,
              |      len(sh_a) AS na, len(sh_b) AS nb
              |    FROM cands)
              |  WHERE CAST(common AS DOUBLE)/CAST(na+nb-common AS DOUBLE) >= 0.5),
              |e AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
              |ev AS (SELECT doc_id AS eval_id, shingle FROM e WHERE doc_id % 5 = 2),
              |tr AS (SELECT * FROM e
              |  WHERE doc_id % 5 = 1 AND doc_id IN (SELECT doc_id FROM q)),
              |contam AS (SELECT DISTINCT doc_id FROM (
              |  SELECT tr.doc_id, ev.eval_id FROM tr JOIN ev ON tr.shingle = ev.shingle
              |  GROUP BY tr.doc_id, ev.eval_id HAVING COUNT(*) >= 2))
              |SELECT d.doc_id, d.n_chars FROM documents d JOIN q USING (doc_id)
              |WHERE d.doc_id NOT IN (SELECT doc_id FROM dup)
              |  AND d.doc_id NOT IN (SELECT doc_id FROM contam)""".stripMargin)),

    // The intake AUDIT TRAIL: one row per (rejected dump doc, stage) —
    // the report an operator reads to see WHY the door turned each
    // document away (quality gate, corpus near-dup, eval
    // contamination; a doc failing several gates appears once per
    // gate). Same stage computations as pipeline_intake_dump.
    "pipeline_intake_report" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val all = docs(s, d)
        val slice = col("doc_id") % 5
        val corpus = all.filter(slice.isin(0, 3, 4))
          .select(col("doc_id"), col("text"))
        val dump = all.filter(slice === 1)
        val evalSet = all.filter(slice === 2)
          .select(col("doc_id"), col("text"))
        // same one-materialization trade as pipeline_intake_dump: the
        // verdict table (id + verdict, tiny) feeds three consumers
        val verdicts = TextAnalysis.qualityScore(dump)
          .select(col("doc_id"), col("verdict")).localCheckpoint(true)
        val qualityDrop = verdicts.filter(col("verdict") =!= "keep")
          .select(col("doc_id"), lit("quality").as("stage"))
        val dumpQ = dump.join(
          verdicts.filter(col("verdict") === "keep").select("doc_id"),
          "doc_id")
        val dupDrop = Dedup.minhashLshAgainst(
            dumpQ.select(col("doc_id"), col("text")), corpus, 3, 0.5)
          .select(col("doc_b").as("doc_id")).distinct()
          .select(col("doc_id"), lit("near_dup").as("stage"))
        val contamDrop = Decontaminate.overlaps(
            dumpQ.select(col("doc_id"), col("text")), evalSet, 3, 2)
          .select(col("doc_id")).distinct()
          .select(col("doc_id"), lit("decontaminate").as("stage"))
        qualityDrop.unionByName(dupDrop).unionByName(contamDrop)
      },
      Some(s"""WITH qa AS (
              |    SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
              |           CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq
              |    FROM documents WHERE doc_id % 5 = 1),
              |q AS (SELECT doc_id FROM qa
              |  WHERE n_tokens BETWEEN 20 AND 2000
              |    AND CAST(n_uniq AS DOUBLE)/CAST(n_tokens AS DOUBLE) > 0.2),
              |$minhashConstsCte,
              |$shinglesCte,
              |$lshBandsCte,
              |corp_k AS (
              |  SELECT * FROM bands WHERE doc_id % 5 IN (0, 3, 4)
              |  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= ${Dedup.MaxBucket}),
              |new_b AS (SELECT * FROM bands
              |  WHERE doc_id % 5 = 1 AND doc_id IN (SELECT doc_id FROM q)),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
              |  FROM corp_k a JOIN new_b b ON a.band = b.band AND a.bkey = b.bkey),
              |dup AS (SELECT DISTINCT doc_b AS doc_id FROM (
              |    SELECT doc_b,
              |      CAST(len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS BIGINT) AS common,
              |      len(sh_a) AS na, len(sh_b) AS nb
              |    FROM cands)
              |  WHERE CAST(common AS DOUBLE)/CAST(na+nb-common AS DOUBLE) >= 0.5),
              |e AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
              |ev AS (SELECT doc_id AS eval_id, shingle FROM e WHERE doc_id % 5 = 2),
              |tr AS (SELECT * FROM e
              |  WHERE doc_id % 5 = 1 AND doc_id IN (SELECT doc_id FROM q)),
              |contam AS (SELECT DISTINCT doc_id FROM (
              |  SELECT tr.doc_id, ev.eval_id FROM tr JOIN ev ON tr.shingle = ev.shingle
              |  GROUP BY tr.doc_id, ev.eval_id HAVING COUNT(*) >= 2))
              |SELECT doc_id, 'quality' AS stage FROM qa
              |WHERE NOT (n_tokens BETWEEN 20 AND 2000
              |       AND CAST(n_uniq AS DOUBLE)/CAST(n_tokens AS DOUBLE) > 0.2)
              |UNION ALL SELECT doc_id, 'near_dup' FROM dup
              |UNION ALL SELECT doc_id, 'decontaminate' FROM contam""".stripMargin)),
  )

  // -------------------------------------------------------------- curation
  // Structure-aware and distribution-based curation passes (Curation /
  // TextAnalysis): line-level dedup, URL canonicalization, relative
  // quality cutoff, hashed-n-gram importance selection, vocabulary
  // extraction.

  private val curation: Seq[(String, Decl)] = Seq(
    // CCNet-style line dedup. The corpus is single-line, so both
    // engines derive a multi-line variant the same way: ' scan ' →
    // newline (left-to-right non-overlapping replace — identical
    // semantics in Java and DuckDB). First global occurrence of each
    // line (by (doc_id, pos)) survives; docs reassemble in order.
    "dedup_lines" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val mt = docs(s, d).select(col("doc_id"),
          expr("replace(concat(' ', text, ' '), ' scan ', '\n')").as("mt"))
        Curation.dedupLines(mt, "doc_id", "mt")
      },
      Some("""WITH t AS (SELECT doc_id, replace(' '||text||' ', ' scan ', chr(10)) AS mt FROM documents),
             |ll AS (SELECT doc_id, string_split(mt, chr(10)) AS l FROM t),
             |e AS (SELECT doc_id, CAST(unnest(range(len(l))) AS BIGINT) AS pos, unnest(l) AS line FROM ll),
             |k AS (SELECT doc_id, pos, line FROM e
             |      QUALIFY row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) = 1),
             |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             |        string_agg(line, chr(10) ORDER BY pos) AS cleaned FROM k GROUP BY doc_id)
             |SELECT ll.doc_id, CAST(len(l) AS BIGINT) AS n_lines,
             |       COALESCE(n_kept, 0) AS n_kept, COALESCE(cleaned, '') AS cleaned
             |FROM ll LEFT JOIN agg USING (doc_id)""".stripMargin)),

    // PARAGRAPH-granularity global dedup (the Gopher/Dolma unit above
    // lines): same first-seen-wins machinery, '\n\n' separator — both
    // engines derive paragraphs by replacing ' the ' markers.
    "dedup_paragraphs" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val mt = docs(s, d).select(col("doc_id"),
          expr("replace(concat(' ', text, ' '), ' the ', '\n\n')").as("mt"))
        Curation.dedupLines(mt, "doc_id", "mt", sep = "\n\n")
      },
      Some("""WITH t AS (SELECT doc_id, replace(' '||text||' ', ' the ', chr(10)||chr(10)) AS mt FROM documents),
             |ll AS (SELECT doc_id, string_split(mt, chr(10)||chr(10)) AS l FROM t),
             |e AS (SELECT doc_id, CAST(unnest(range(len(l))) AS BIGINT) AS pos, unnest(l) AS line FROM ll),
             |k AS (SELECT doc_id, pos, line FROM e
             |      QUALIFY row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) = 1),
             |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             |        string_agg(line, chr(10)||chr(10) ORDER BY pos) AS cleaned FROM k GROUP BY doc_id)
             |SELECT ll.doc_id, CAST(len(l) AS BIGINT) AS n_lines,
             |       COALESCE(n_kept, 0) AS n_kept, COALESCE(cleaned, '') AS cleaned
             |FROM ll LEFT JOIN agg USING (doc_id)""".stripMargin)),

    // ExactSubstr duplicated-span removal (Lee et al. 2021) at 5-token
    // granularity: any 5-gram occurring twice anywhere in the corpus is
    // cut from every document; both engines share the same positional
    // gram hashes (hash60) and the same running-max coverage window, so
    // the reassembled texts agree byte-for-byte.
    "dedup_exact_substr" -> Decl(
      (s, d) => Dedup.exactSubstrDedup(docs(s, d), 5),
      Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
             |g AS (SELECT doc_id, u.pos AS pos,
             |   CAST('0x'||substr(md5(u.gram),1,15) AS BIGINT) AS gh
             |  FROM (SELECT doc_id,
             |    unnest([{'pos': i, 'gram': array_to_string(w[i+1:i+5], ' ')} for i in range(len(w)-4)]) AS u
             |   FROM toks WHERE len(w) >= 5)),
             |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
             |ds AS (SELECT DISTINCT doc_id, pos FROM g JOIN dup USING (gh)),
             |t AS (SELECT doc_id, u.p AS p, u.tok AS tok
             |  FROM (SELECT doc_id, unnest([{'p': i, 'tok': w[i+1]} for i in range(len(w))]) AS u FROM toks)),
             |c AS (SELECT t.doc_id, t.p, t.tok,
             |   MAX(CASE WHEN ds.pos IS NOT NULL THEN t.p END)
             |     OVER (PARTITION BY t.doc_id ORDER BY t.p) AS cov
             |  FROM t LEFT JOIN ds ON t.doc_id = ds.doc_id AND t.p = ds.pos),
             |k AS (SELECT doc_id, p, tok FROM c WHERE cov IS NULL OR p > cov + 4),
             |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             |    string_agg(tok, ' ' ORDER BY p) AS cleaned FROM k GROUP BY doc_id)
             |SELECT toks.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
             |  COALESCE(n_kept, 0) AS n_kept, COALESCE(cleaned, '') AS cleaned
             |FROM toks LEFT JOIN agg USING (doc_id)""".stripMargin)),

    // Canonical-URL dedup over crawl-frontier URLs CONSTRUCTED from
    // events in both engines (mixed-case host, default port, utm_*
    // params, trailing slashes, fragments — the variants that hide
    // duplicate fetches).
    "pipeline_url_normalize" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val url = expr("""concat('HTTPS://H', event_id % 10, '.Example.COM',
          CASE event_id % 4 WHEN 0 THEN ':443' ELSE '' END,
          '/p/', user_id % 50, CASE event_id % 3 WHEN 0 THEN '/' ELSE '' END,
          CASE event_id % 5 WHEN 0 THEN concat('?utm_source=x&q=', user_id % 7)
               WHEN 1 THEN concat('?q=', user_id % 7, '&utm_campaign=y')
               WHEN 2 THEN '?utm_only=z' ELSE concat('?q=', user_id % 7) END,
          CASE event_id % 2 WHEN 0 THEN '#frag' ELSE '' END)""")
        Curation.urlDedup(ev(s, d).select(col("event_id"), url.as("url")),
          "event_id", "url")
      },
      Some("""WITH u AS (SELECT event_id,
             |  'HTTPS://H' || (event_id % 10) || '.Example.COM' || (CASE event_id % 4 WHEN 0 THEN ':443' ELSE '' END) ||
             |  '/p/' || (user_id % 50) || (CASE event_id % 3 WHEN 0 THEN '/' ELSE '' END) ||
             |  (CASE event_id % 5 WHEN 0 THEN '?utm_source=x&q=' || (user_id % 7)
             |        WHEN 1 THEN '?q=' || (user_id % 7) || '&utm_campaign=y'
             |        WHEN 2 THEN '?utm_only=z' ELSE '?q=' || (user_id % 7) END) ||
             |  (CASE event_id % 2 WHEN 0 THEN '#frag' ELSE '' END) AS url
             | FROM events),
             |nf AS (SELECT event_id, regexp_replace(url, '#.*$', '') AS u0 FROM u),
             |parts AS (SELECT event_id,
             |  lower(regexp_extract(u0, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             |  regexp_replace(lower(regexp_extract(u0, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':(443|80)$', '') AS host,
             |  regexp_extract(u0, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
             |  regexp_extract(u0, '\?([^#]*)', 1) AS query
             | FROM nf),
             |q1 AS (SELECT *, regexp_replace('&' || query, '&utm_[A-Za-z0-9_]+=[^&]*', '', 'g') AS qq FROM parts),
             |q2 AS (SELECT event_id, scheme, host,
             |  CASE WHEN path = '' OR regexp_replace(path, '/+$', '') = '' THEN '/'
             |       ELSE regexp_replace(path, '/+$', '') END AS npath,
             |  regexp_replace(qq, '^&', '') AS nq
             | FROM q1)
             |SELECT scheme || '://' || host || npath || (CASE WHEN nq = '' THEN '' ELSE '?' || nq END) AS norm_url,
             |  CAST(COUNT(*) AS BIGINT) AS cnt, MIN(event_id) AS canonical_id
             |FROM q2 GROUP BY 1""".stripMargin)),

    // Gopher rule battery (Rae et al. 2021 A1): every rule an integer
    // cross-multiplied comparison, so the booleans agree bit-for-bit.
    "text_gopher_rules" -> Decl(
      (s, d) => TextAnalysis.gopherRules(docs(s, d)),
      Some(s"WITH ${gopherRulesCtes("documents")}\nSELECT * FROM gr")),

    // C4 §2.2 line gate: pure per-row higher-order filter, no shuffle.
    "pipeline_c4_line_filter" -> Decl(
      (s, d) => Curation.c4LineFilter(docs(s, d)),
      Some(s"WITH ${c4Ctes("documents")}\nSELECT * FROM c4")),

    // The composed quality capstone: C4 line gate → Gopher rule
    // battery → Gopher repetition battery over the SURVIVING lines.
    // The synthetic documents carry no terminal punctuation, so the
    // fixture CONSTRUCTS three-line docs from each text (punctuated
    // body / too-short line / unpunctuated tail) identically in both
    // engines — the established pattern for exercising a chain the
    // fixtures don't reach. One doc_id-keyed partitioning serves the
    // whole join chain.
    "pipeline_gopher_gate" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val src = docs(s, d).select(col("doc_id"),
          concat(col("text"), lit(".\nshort.\n"), col("text"),
            lit(" no end")).as("text"))
        val cleaned = Curation.c4LineFilter(src)
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("n_kept"), col("cleaned").as("text"))
        val rules = TextAnalysis.gopherRules(
            cleaned.select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("verdict").as("rules_ok"))
        val rep = TextAnalysis.gopherRepetition(
            cleaned.select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("verdict").as("rep_verdict"))
        cleaned.select(col("doc_id"), col("n_kept"))
          .join(rules, "doc_id").join(rep, "doc_id")
          .withColumn("verdict",
            when(col("rules_ok") && col("rep_verdict") === "keep", "keep")
              .otherwise("drop"))
      },
      Some(s"""WITH src AS (SELECT doc_id,
              |  text || '.' || chr(10) || 'short.' || chr(10) || text || ' no end' AS text
              | FROM documents),
              |${c4Ctes("src")},
              |cleaned_t AS (SELECT doc_id, n_kept, cleaned AS text FROM c4 WHERE n_kept > 0),
              |${gopherRulesCtes("cleaned_t")},
              |${gopherRepetitionCtes("cleaned_t")}
              |SELECT c.doc_id, c.n_kept, gr.verdict AS rules_ok,
              |  gre.verdict AS rep_verdict,
              |  CASE WHEN gr.verdict AND gre.verdict = 'keep' THEN 'keep'
              |       ELSE 'drop' END AS verdict
              |FROM cleaned_t c JOIN gr USING (doc_id) JOIN gre USING (doc_id)""".stripMargin)),

    // Relative quality gate: docs at/above the corpus-wide 25th
    // percentile of type-token ratio. Both engines interpolate R-7
    // over the same exact integer-ratio doubles.
    "pipeline_quality_cutoff" -> Decl(
      (s, d) => Curation.qualityCutoff(docs(s, d), 0.25),
      Some("""WITH s AS (SELECT doc_id,
             |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) /
             |  CAST(len(string_split(text,' ')) AS DOUBLE) AS ttr
             | FROM documents),
             |c AS (SELECT quantile_cont(ttr, 0.25) AS cutoff FROM s)
             |SELECT doc_id, ttr, cutoff FROM s, c WHERE ttr >= cutoff""".stripMargin)),

    // In-engine weak-supervision quality classifier, train step:
    // multinomial NB over 64 hashed token buckets, weak label
    // evaluated inline (here the Gopher word-count band — the rule
    // that splits the synthetic corpus, so BOTH classes train; on
    // real data the full battery is the default). The bucket vote is
    // the SIGN of the Laplace-smoothed log-odds via a
    // cross-multiplied integer compare (DECIMAL(38,0) / HUGEINT — no
    // float log), so the model is bit-identical across engines.
    "pipeline_nb_model" -> Decl(
      (s, d) => Curation.nbQualityModel(docs(s, d), 64, label = nbWcLabel),
      Some(s"""WITH $nbModelCtes
              |SELECT dim, n_pos, n_neg, vote FROM v""".stripMargin)),

    // Score step: per-doc sum of bucket votes, predicted_keep =
    // score > 0 — the distilled gate that generalizes past the hard
    // rule conjunction, the role shipped fastText classifiers play.
    // r17: the vote table is a STANDING fingerprint-keyed layout
    // (Curation.nbModelWrite — the knModelWrite pattern on the
    // classifier tier): the training explode runs once per corpus
    // version, scoring is one scan against the stored broadcast
    // model. Path carries the label/dims config tag.
    "pipeline_nb_score" -> Decl(
      (s, d) => Curation.nbQualityScoreStanding(docs(s, d), 64,
        s"target/atrest/nbmodel-wc64-${d.replaceAll("[^A-Za-z0-9.]", "_")}",
        label = nbWcLabel),
      Some(s"""WITH $nbModelCtes,
              |sc AS (SELECT doc_id, CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % 64 AS dim
              |       FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents))
              |SELECT sc.doc_id, CAST(SUM(v.vote) AS BIGINT) AS score,
              |  CAST(COUNT(*) AS BIGINT) AS n_tok, SUM(v.vote) > 0 AS predicted_keep
              |FROM sc JOIN v USING (dim) GROUP BY 1""".stripMargin)),

    // Classifier-vs-labeler confusion matrix: the 4-row audit a
    // curation run publishes before swapping the rule gate for the
    // learned one.
    "pipeline_nb_confusion" -> Decl(
      (s, d) => Curation.nbConfusion(docs(s, d), 64, label = nbWcLabel),
      Some(s"""WITH $nbModelCtes,
              |sc AS (SELECT doc_id, CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % 64 AS dim
              |       FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)),
              |pred AS (SELECT sc.doc_id, SUM(v.vote) > 0 AS predicted_keep
              |         FROM sc JOIN v USING (dim) GROUP BY 1),
              |lbl AS (SELECT doc_id,
              |        len(string_split(text,' ')) BETWEEN 50 AND 100000 AS label_keep
              |        FROM documents)
              |SELECT lbl.label_keep, pred.predicted_keep,
              |  CAST(COUNT(*) AS BIGINT) AS n_docs
              |FROM pred JOIN lbl USING (doc_id) GROUP BY 1, 2""".stripMargin)),

    // Threshold-free ranking audit of the same gate: exact ROC-AUC by
    // the Mann-Whitney identity over SCORE GROUPS — num2 = 2x the
    // concordant pairs + the ties, all integer, so both engines agree
    // bit-for-bit; no pairwise join exists (one score-keyed aggregate
    // plus a window over the <=|distinct vote sums| groups).
    // r17: rides the same standing vote table as pipeline_nb_score.
    "pipeline_nb_auc" -> Decl(
      (s, d) => Curation.nbAucStanding(docs(s, d), 64,
        s"target/atrest/nbmodel-wc64-${d.replaceAll("[^A-Za-z0-9.]", "_")}",
        label = nbWcLabel),
      Some(s"""WITH $nbModelCtes,
              |sc AS (SELECT doc_id, CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % 64 AS dim
              |       FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)),
              |scr AS (SELECT sc.doc_id, CAST(SUM(v.vote) AS BIGINT) AS score
              |        FROM sc JOIN v USING (dim) GROUP BY 1),
              |lbl AS (SELECT doc_id,
              |        len(string_split(text,' ')) BETWEEN 50 AND 100000 AS label_keep
              |        FROM documents),
              |g AS (SELECT score,
              |   CAST(SUM(CASE WHEN label_keep THEN 1 ELSE 0 END) AS BIGINT) AS p,
              |   CAST(SUM(CASE WHEN label_keep THEN 0 ELSE 1 END) AS BIGINT) AS n
              |  FROM scr JOIN lbl USING (doc_id) GROUP BY 1),
              |cu AS (SELECT score, p, n,
              |   CAST(COALESCE(SUM(n) OVER (ORDER BY score
              |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_n
              |  FROM g)
              |SELECT CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(n) AS BIGINT) AS n_neg,
              |  CAST(SUM(p * (2*cum_n + n)) AS BIGINT) AS num2,
              |  CAST(SUM(p * (2*cum_n + n)) AS DOUBLE)
              |    / (2.0 * CAST(SUM(p) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)) AS auc
              |FROM cu""".stripMargin)),

    // The 100 TB tier of the same gate: approx_percentile partial
    // sketches instead of the one-reducer exact sort. No SQL oracle
    // (engine-specific sketch boundary), driver records the weaker
    // rows check; CurationSpec pins the tolerance band vs exact.
    "pipeline_quality_cutoff_approx" -> Decl(
      (s, d) => Curation.qualityCutoff(docs(s, d), 0.25, exact = false),
      None),

    // DSIR-style importance selection toward the lang='en' slice —
    // integer cross-multiplied leaning votes (see Curation.dsirSelect)
    // so no float accumulates across partitions.
    "pipeline_dsir_select" -> Decl(
      (s, d) => Curation.dsirSelect(docs(s, d),
        org.apache.spark.sql.functions.col("lang") === "en", 1024),
      Some("""WITH toks AS (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents),
             |g AS (SELECT doc_id, lang, unnest([w[i+1]||' '||w[i+2] for i in range(len(w)-1)]) AS gram
             |      FROM toks WHERE len(w) >= 2),
             |gb AS (SELECT doc_id, (lang = 'en') AS is_t,
             |       CAST('0x'||substr(md5(gram),1,15) AS BIGINT) % 1024 AS b FROM g),
             |bc AS (SELECT b, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
             |       CAST(COUNT(*) AS BIGINT) AS c_r FROM gb GROUP BY b),
             |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_t, CAST(SUM(c_r) AS BIGINT) AS n_r FROM bc),
             |lean AS (SELECT b, (c_t * n_r > c_r * n_t) AS leaning FROM bc, tot)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             |  CAST(SUM(CASE WHEN leaning THEN 1 ELSE 0 END) AS BIGINT) AS n_target,
             |  CAST(SUM(CASE WHEN leaning THEN 1 ELSE 0 END) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS target_frac,
             |  (CAST(SUM(CASE WHEN leaning THEN 1 ELSE 0 END) AS BIGINT) * MIN(n_r) > CAST(COUNT(*) AS BIGINT) * MIN(n_t)) AS selected
             |FROM gb JOIN lean USING (b) CROSS JOIN tot GROUP BY doc_id""".stripMargin)),

    // Concat-and-chunk sequence packing: 512-token training sequences
    // over the doc_id-ordered token stream, crossing doc boundaries —
    // per sequence, contributing-doc stats and exact token counts.
    "pipeline_pack_sequences" -> Decl(
      (s, d) => TextAnalysis.packSequences(docs(s, d), 512L),
      Some("""WITH s AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             |  CAST(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
             |    OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS p
             | FROM documents),
             |e AS (SELECT doc_id, n, p,
             |        CAST(unnest(range(p // 512, (p + n - 1) // 512 + 1)) AS BIGINT) AS seq_id
             |      FROM s)
             |SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
             |  CAST(SUM(LEAST(p + n, (seq_id + 1) * 512) - GREATEST(p, seq_id * 512)) AS BIGINT) AS n_tokens
             |FROM e GROUP BY seq_id""".stripMargin)),

    // Cross-source duplication matrix at line granularity (the
    // ' scan ' → newline derivation shared with dedup_lines).
    "dedup_source_overlap" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val mt = docs(s, d).select(col("source"),
          expr("replace(concat(' ', text, ' '), ' scan ', '\n')").as("mt"))
        Dedup.sourceOverlap(mt, "source", "mt")
      },
      Some("""WITH t AS (SELECT source, replace(' '||text||' ', ' scan ', chr(10)) AS mt FROM documents),
             |f AS (SELECT DISTINCT md5(unnest(string_split(mt, chr(10)))) AS h, source FROM t)
             |SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS n_shared
             |FROM f a JOIN f b ON a.h = b.h AND a.source < b.source
             |GROUP BY 1, 2""".stripMargin)),

    // Source mixing: per-source keep rates (derived deterministically
    // from the source name in both engines) applied as a map-side
    // hash filter — the training-mix composition knob.
    // DoReMi-shape mixture reweighting: two multiplicative-weight
    // rounds over per-source rare-token mass, all on the integer 10^6
    // grid — the oracle unrolls the same rounds, so the learned mix
    // weights themselves are exact-hash gated.
    "pipeline_mix_reweight" -> Decl(
      (s, d) => Sampling.mixtureReweight(docs(s, d), rareMax = 2,
        iters = 2),
      Some(s"""WITH $mixReweightCtes
              |SELECT source, n_tokens, n_rare, rare_ppm, w_0, w_1, w_2 FROM w2""".stripMargin)),

    // The learned mixture APPLIED: w_2 becomes each source's
    // keep-rate (permille, floored at 1 so no source dies outright),
    // feeding the deterministic hash-membership sampler — reweight +
    // mixSources composed under ONE oracle, so the end-to-end
    // "optimize the mix, then draw it" pipeline is itself gated.
    "pipeline_mix_apply" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val base = docs(s, d)
        val weights = Sampling.mixtureReweight(base, rareMax = 2, iters = 2)
          .select(col("source"),
            greatest(lit(1L), expr("w_2 div 1000")).as("rate_permille"))
        Sampling.mixSources(base, weights)
      },
      Some(s"""WITH $mixReweightCtes,
              |rates AS (SELECT source, CAST(GREATEST(1, w_2 // 1000) AS BIGINT) AS rate_permille FROM w2)
              |SELECT doc_id, d.source, rate_permille
              |FROM documents d JOIN rates USING (source)
              |WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 1000 < rate_permille""".stripMargin)),

    "pipeline_mix_sources" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val base = docs(s, d)
        val weights = base.select(col("source")).distinct()
          .withColumn("rate_permille",
            ((expr("cast(substr(source, 4) as int)") % 4 + 1) * 100)
              .cast("long"))
        Sampling.mixSources(base, weights)
      },
      Some("""WITH w AS (SELECT source,
             |    CAST((CAST(substr(source, 4) AS INTEGER) % 4 + 1) * 100 AS BIGINT) AS rate_permille
             |  FROM (SELECT DISTINCT source FROM documents))
             |SELECT doc_id, d.source, rate_permille
             |FROM documents d JOIN w USING (source)
             |WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 1000 < rate_permille""".stripMargin)),

    // Corpus composition histogram: per (lang, exact-log2 size class)
    // counts and totals — integer-only aggregates.
    "pipeline_corpus_stats" -> Decl(
      (s, d) => TextAnalysis.corpusStats(docs(s, d)),
      Some("""SELECT lang,
             |  CAST(length(bin(len(string_split(text,' ')))) - 1 AS BIGINT) AS size_class,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
             |  CAST(SUM(length(text)) AS BIGINT) AS total_chars
             |FROM documents GROUP BY 1, 2""".stripMargin)),

    // Vocabulary-id tokenization: ordered id sequences under the
    // top-20 vocab (0 = OOV), the trainer-facing output format.
    "pipeline_tokenize" -> Decl(
      (s, d) => TextAnalysis.tokenize(docs(s, d), 20),
      Some("""WITH vc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM (SELECT unnest(string_split(text,' ')) AS term FROM documents)
             |  GROUP BY term ORDER BY cnt DESC, term LIMIT 20),
             |v AS (SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS tid FROM vc),
             |e AS (SELECT doc_id, CAST(unnest(range(len(w))) AS BIGINT) AS pos, unnest(w) AS tok
             |      FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)),
             |m AS (SELECT doc_id, pos, COALESCE(tid, 0) AS tid FROM e LEFT JOIN v ON e.tok = v.term)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |  string_agg(tid, ',' ORDER BY pos) AS ids
             |FROM m GROUP BY doc_id""".stripMargin)),

    // Vocabulary-coverage audit: per-language OOV rate under the same
    // top-20 vocabulary pipeline_tokenize freezes — the mT5/XLM-R
    // coverage table that catches a head-language vocab starving the
    // tail. Rates are exact BIGINT/BIGINT doubles.
    "pipeline_oov_rate" -> Decl(
      (s, d) => TextAnalysis.oovRate(docs(s, d), 20),
      Some("""WITH vc AS (SELECT term FROM (
             |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM (SELECT unnest(string_split(text,' ')) AS term FROM documents)
             |  GROUP BY term ORDER BY cnt DESC, term LIMIT 20)),
             |e AS (SELECT lang, unnest(string_split(text,' ')) AS tok FROM documents),
             |m AS (SELECT lang, tok, (vc.term IS NULL) AS oov FROM e LEFT JOIN vc ON e.tok = vc.term)
             |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |  CAST(COUNT(*) FILTER (WHERE oov) AS BIGINT) AS n_oov,
             |  CAST(COUNT(DISTINCT CASE WHEN oov THEN tok END) AS BIGINT) AS n_oov_terms,
             |  CAST(COUNT(*) FILTER (WHERE oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
             |FROM m GROUP BY lang""".stripMargin)),

    // BPE tokenizer TRAINING (Sennrich et al. 2016): 8 merge rounds over
    // the word-count table — highest pair count wins, ties to the
    // lexicographically smallest pair. The oracle unrolls the identical
    // recurrence as a generated 8-round CTE chain (Bpe.oracleMerges),
    // so the learned merge table matches bit-for-bit.
    "pipeline_bpe_train" -> Decl(
      (s, d) => Bpe.bpeMerges(docs(s, d), 8),
      Some(Bpe.oracleMerges(8))),

    // The encode side of the learned tokenizer: per-document word and
    // BPE-token counts under the same 8 merges (n_bpe walks down from
    // character count toward word count as rounds grow).
    "pipeline_bpe_encode" -> Decl(
      (s, d) => Bpe.bpeSegment(docs(s, d), 8),
      Some(Bpe.oracleSegment(8))),

    // Unigram-LM tokenizer (Kudo 2018 / SentencePiece): substring-seeded
    // piece inventory → one EM round (Viterbi E-step, usage M-step) →
    // prune to budget. Piece costs are round(ln·10⁶) INTEGERS, so the
    // DP is exact BIGINT arithmetic with struct-min tiebreaks; the
    // oracle re-derives training AND segmentation through an unrolled
    // 16-position Viterbi CTE chain — run TWICE (seed costs, final
    // costs) for the encode query.
    "pipeline_unigram_train" -> Decl(
      (s, d) => Unigram.train(docs(s, d)),
      Some(s"WITH $unigramTrainCtes\nSELECT piece, cnt, cost FROM c1")),

    "pipeline_unigram_encode" -> Decl(
      (s, d) => Unigram.encode(docs(s, d)),
      Some(s"""WITH $unigramTrainCtes,
              |c1c AS (SELECT piece, cost FROM c1),
              |${unigramDpCtes("b", "c1c")}
              |SELECT w.word, w.wcnt, ltrim(b.path) AS pieces,
              |       CAST(len(string_split(ltrim(b.path), ' ')) AS BIGINT) AS n_pieces,
              |       b.cost AS cost
              |FROM bseg b JOIN words w USING (word)""".stripMargin)),

    // WordPiece-style greedy longest-prefix ENCODE: per-doc piece and
    // OOV counts under a corpus-derived vocabulary (top-20 words ∪
    // top-20 weighted 3-char prefixes). The Spark side walks each word
    // imperatively over the broadcast vocab; the oracle walks a
    // precomputed jump table with a recursive CTE — two independent
    // implementations of the same greedy recurrence.
    "pipeline_wordpiece" -> Decl(
      (s, d) => TextAnalysis.greedyPieces(docs(s, d), 20),
      Some("""WITH RECURSIVE
             |d AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
             |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY word),
             |vw AS (SELECT word AS v FROM wc ORDER BY cnt DESC, word LIMIT 20),
             |vp AS (SELECT prefix AS v FROM (
             |    SELECT substr(word, 1, 3) AS prefix, SUM(cnt) AS freq FROM wc WHERE len(word) >= 3 GROUP BY 1)
             |  ORDER BY freq DESC, prefix LIMIT 20),
             |vocab AS (SELECT DISTINCT v FROM (SELECT v FROM vw UNION SELECT v FROM vp)),
             |ws AS (SELECT DISTINCT word FROM wc),
             |p AS (SELECT word, CAST(unnest(range(len(word))) AS INTEGER) AS pos FROM ws),
             |j AS (SELECT word, pos,
             |   (SELECT len(v) FROM vocab WHERE substr(word, pos+1, len(v)) = v ORDER BY len(v) DESC, v LIMIT 1) AS step
             |  FROM p),
             |seg AS (
             |  SELECT word, 0 AS pos, 0 AS n_pieces, 0 AS n_unk FROM ws
             |  UNION ALL
             |  SELECT s.word, s.pos + CAST(COALESCE(j.step, 1) AS INTEGER),
             |    s.n_pieces + 1, s.n_unk + CASE WHEN j.step IS NULL THEN 1 ELSE 0 END
             |  FROM seg s JOIN j ON j.word = s.word AND j.pos = s.pos
             |  WHERE s.pos < len(s.word)),
             |fin AS (SELECT word, n_pieces, n_unk FROM seg WHERE pos = len(word))
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             |  CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
             |  CAST(SUM(n_unk) AS BIGINT) AS n_unk
             |FROM d JOIN fin USING (word) GROUP BY doc_id""".stripMargin)),

    // BATCHED BPE training — the scale path for real merge budgets
    // (10^4-10^5 merges): each driver round accepts up to `batch`
    // NON-INTERACTING top pairs from one bounded collect, cutting
    // driver round-trips by ~batch. The oracle reproduces the greedy
    // acceptance rule and the in-round rewrite order exactly
    // (Bpe.oracleMergesBatched), so even the approximation is
    // bit-exact against DuckDB.
    "pipeline_bpe_train_batched" -> Decl(
      (s, d) => Bpe.bpeMerges(docs(s, d), 24, 8),
      Some(Bpe.oracleMergesBatched(24, 8))),

    // Sampled-corpus training (the 10^5-merge cost-model answer):
    // identical batched trainer over a deterministic md5-ranked 50%
    // document reservoir — membership is engine-reproducible, so the
    // FULL merge table is oracle-gated bit-for-bit; BpeSpec pins
    // sampled-vs-full merge agreement on the same corpus.
    "pipeline_bpe_train_sampled" -> Decl(
      (s, d) => Bpe.bpeMergesSampled(docs(s, d), 24, 8, 50),
      Some(Bpe.oracleMergesSampled(24, 8, 50))),

    // The real-merge-budget scale demonstration: 256 merges at
    // batch=64 (a few driver rounds, not 256 jobs). No SQL oracle —
    // unrolling the worst-case 256-round CTE chain is DuckDB-hostile;
    // the ALGORITHM is exactly the one oracle-gated above at 24/8
    // (same code path), and BpeSpec pins batched==sequential
    // equivalence. Driver records the rows check; Bench times it.
    "pipeline_bpe_train256" -> Decl(
      (s, d) => Bpe.bpeMerges(docs(s, d), 256, 64),
      None),

    // Length-bucketed inference batching: docs batch with similar-
    // length peers (power-of-two classes) so padding waste stays <2x;
    // batch ids fill densely in doc_id order within each class.
    "pipeline_length_batches" -> Decl(
      (s, d) => TextAnalysis.lengthBatches(docs(s, d), 16),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
             |  CAST(length(bin(len(string_split(text,' ')))) - 1 AS BIGINT) AS len_class,
             |  CAST((row_number() OVER (PARTITION BY length(bin(len(string_split(text,' ')))) - 1
             |        ORDER BY doc_id) - 1) // 16 AS BIGINT) AS batch_id
             |FROM documents""".stripMargin)),

    // Tokenizer vocabulary: top-100 corpus terms by occurrences with
    // document frequency.
    "text_vocab_topk" -> Decl(
      (s, d) => TextAnalysis.vocabTopK(docs(s, d), 100),
      Some("""SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
             |FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents)
             |GROUP BY term ORDER BY cnt DESC, term LIMIT 100""".stripMargin)),

    // Feature-hashing document embeddings (Weinberger et al. 2009):
    // signed token counts over 64 hash buckets, sparse (doc_id, dim,
    // val) form with zero-sum buckets dropped — the no-trained-model
    // text→vector bridge into the ANN tier, exact BIGINTs end-to-end.
    "text_hash_embed" -> Decl(
      (s, d) => TextAnalysis.hashEmbed(docs(s, d), 64),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
             |h AS (SELECT doc_id,
             |        CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % 64 AS dim,
             |        CASE WHEN CAST('0x'||substr(md5('s:'||tok),1,15) AS BIGINT) % 2 = 0
             |             THEN 1 ELSE -1 END AS sgn
             |      FROM t)
             |SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS val
             |FROM h GROUP BY 1, 2 HAVING SUM(sgn) <> 0""".stripMargin)),

    // Token frequency-of-frequencies (the Good–Turing input table):
    // for each occurrence count c, the number of distinct terms seen
    // exactly c times — the hapax count N₁ is its first row.
    "text_freq_spectrum" -> Decl(
      (s, d) => TextAnalysis.freqSpectrum(docs(s, d)),
      Some("""WITH tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM (SELECT unnest(string_split(text,' ')) AS term FROM documents)
             |  GROUP BY 1)
             |SELECT c AS occurrences, CAST(COUNT(*) AS BIGINT) AS n_terms
             |FROM tc GROUP BY c""".stripMargin)),

    // Good–Turing adjusted counts as exact rationals over the
    // frequency spectrum: r* = (r+1)·N_{r+1}/N_r, numerator and
    // denominator kept as BIGINTs so no float division is compared.
    "text_good_turing" -> Decl(
      (s, d) => TextAnalysis.goodTuring(docs(s, d)),
      Some("""WITH tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM (SELECT unnest(string_split(text,' ')) AS term FROM documents)
             |  GROUP BY 1),
             |sp AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n FROM tc GROUP BY c)
             |SELECT a.c AS r, a.n AS n_r, b.n AS n_r1, (a.c+1)*b.n AS r_star_num
             |FROM sp a JOIN sp b ON b.c = a.c + 1""".stripMargin)),

    // Count–min sketch (4×1024, md5-seeded rows) self-evaluated
    // against the exact top-20 terms: cms_est = min over depth
    // buckets, always ≥ exact (the CMS one-sided error bound) — the
    // sketch is the 100 TB path, the exact count the audit.
    "text_cms_topk" -> Decl(
      (s, d) => TextAnalysis.cmsEstimate(docs(s, d), width = 1024,
        depth = 4, k = 20),
      Some("""WITH tok AS (SELECT unnest(string_split(text,' ')) AS term FROM documents),
             |rws AS (SELECT unnest([0,1,2,3]) AS r),
             |b AS (SELECT rws.r,
             |        CAST('0x'||substr(md5('cms'||CAST(rws.r AS VARCHAR)||':'||tok.term),1,15) AS BIGINT) % 1024 AS bucket
             |      FROM tok CROSS JOIN rws),
             |sk AS (SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
             |tk AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS exact FROM tok GROUP BY 1
             |       ORDER BY exact DESC, term LIMIT 20),
             |cand AS (SELECT tk.term, tk.exact, rws.r,
             |        CAST('0x'||substr(md5('cms'||CAST(rws.r AS VARCHAR)||':'||tk.term),1,15) AS BIGINT) % 1024 AS bucket
             |      FROM tk CROSS JOIN rws)
             |SELECT cand.term, cand.exact, CAST(MIN(sk.cnt) AS BIGINT) AS cms_est
             |FROM cand JOIN sk ON sk.r = cand.r AND sk.bucket = cand.bucket
             |GROUP BY 1, 2""".stripMargin)),

    // BM25 retrieval scoring (Robertson/Walker; Lucene 1+odds idf)
    // against a 3-term query mixing the corpus's one rare term with
    // two common ones — per-(doc,term) weights quantized to
    // DECIMAL(38,18) before the doc sum so both engines agree.
    "text_bm25" -> Decl(
      (s, d) => TextAnalysis.bm25(docs(s, d),
        Seq("dup", "spark", "vector")),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
             |dl AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS dl FROM documents),
             |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
             |h AS (SELECT doc_id, term FROM tok WHERE term IN ('dup','spark','vector')),
             |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM h GROUP BY 1, 2),
             |df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM h GROUP BY 1),
             |w AS (SELECT tf.doc_id, tf.tf,
             |        CAST(ln(1.0 + (st.n_docs - df.df + 0.5)/(df.df + 0.5))
             |             * (tf.tf*2.2)
             |             / (tf.tf + 1.2*(0.25 + 0.75*(dl.dl/(CAST(st.sum_dl AS DOUBLE)/st.n_docs))))
             |          AS DECIMAL(38,18)) AS w
             |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             |  CAST(SUM(tf) AS BIGINT) AS n_hits, CAST(SUM(w) AS DOUBLE) AS bm25
             |FROM w GROUP BY 1""".stripMargin)),

    // Inverted-index posting-list heads: the 25 highest-df terms with
    // df, total count, and the first 20 doc_ids of each posting list —
    // the rank-capped window is the same WindowGroupLimit hot-key
    // discipline as the dedup bucket caps.
    "text_posting_heads" -> Decl(
      (s, d) => TextAnalysis.postingHeads(docs(s, d), k = 25,
        headLen = 20),
      Some("""WITH p AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents)
             |  GROUP BY 1, 2),
             |tp AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(c) AS BIGINT) AS cnt
             |       FROM p GROUP BY 1 ORDER BY df DESC, term LIMIT 25),
             |h AS (SELECT p.term, p.doc_id,
             |        row_number() OVER (PARTITION BY p.term ORDER BY p.doc_id) AS rn
             |      FROM p JOIN tp USING (term))
             |SELECT tp.term, tp.df, tp.cnt,
             |  string_agg(CAST(h.doc_id AS VARCHAR), ',' ORDER BY h.doc_id) AS head
             |FROM tp JOIN h USING (term) WHERE h.rn <= 20
             |GROUP BY 1, 2, 3""".stripMargin)),

    // Hybrid retrieval by reciprocal-rank fusion (Cormack et al.
    // 2009): BM25 top-50 and dense-cosine top-50 fused by
    // Σ 1/(60+rank), top-20 kept. Only RANKS cross the fence, so no
    // score calibration; both rank windows run over ≤50 rows.
    "text_hybrid_rrf" -> Decl(
      (s, d) => TextAnalysis.hybridRrf(docs(s, d), emb(s, d),
        Seq("dup", "spark", "vector"), queryVecId = 0L, n = 50, k = 20),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
              |dl AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS dl FROM documents),
              |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
              |h AS (SELECT doc_id, term FROM tok WHERE term IN ('dup','spark','vector')),
              |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM h GROUP BY 1, 2),
              |df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM h GROUP BY 1),
              |w AS (SELECT tf.doc_id, tf.tf,
              |        CAST(ln(1.0 + (st.n_docs - df.df + 0.5)/(df.df + 0.5))
              |             * (tf.tf*2.2)
              |             / (tf.tf + 1.2*(0.25 + 0.75*(dl.dl/(CAST(st.sum_dl AS DOUBLE)/st.n_docs))))
              |          AS DECIMAL(38,18)) AS w
              |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
              |b AS (SELECT doc_id, CAST(SUM(w) AS DOUBLE) AS bm25 FROM w GROUP BY 1),
              |lex AS (SELECT doc_id, bm25 FROM b ORDER BY bm25 DESC, doc_id LIMIT 50),
              |lexr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank FROM lex),
              |c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |q AS (SELECT v AS qv FROM c WHERE vec_id = 0),
              |den AS (SELECT vec_id AS doc_id, ${duckCosine("qv", "v")} AS cos_sim
              |        FROM c, q WHERE vec_id <> 0
              |        ORDER BY cos_sim DESC, doc_id LIMIT 50),
              |denr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS cos_rank FROM den)
              |SELECT doc_id, bm25_rank, cos_rank,
              |  coalesce(CAST(1.0 AS DOUBLE)/(bm25_rank+60), 0.0) +
              |  coalesce(CAST(1.0 AS DOUBLE)/(cos_rank+60), 0.0) AS rrf
              |FROM lexr FULL OUTER JOIN denr USING (doc_id)
              |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin)),

    // RAG-style token chunking: 64-token windows every 48 tokens
    // (16-token overlap), trailing chunk short — a pure per-row
    // explode, no shuffle at any scale.
    "pipeline_chunk_stride" -> Decl(
      (s, d) => TextAnalysis.chunkStride(docs(s, d), chunk = 64,
        stride = 48),
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
             |s AS (SELECT doc_id, w, unnest(generate_series(0, len(w)-1, 48)) AS st FROM t)
             |SELECT doc_id, CAST(st//48 AS BIGINT) AS chunk_id,
             |  CAST(len(w[st+1:st+64]) AS BIGINT) AS n_tokens,
             |  array_to_string(w[st+1:st+64], ' ') AS chunk_text
             |FROM s""".stripMargin)),

    // k-anonymity audit (Sweeney 2002) on the released-metadata
    // quasi-identifiers (lang, source, 256-char length band): every
    // equivalence class with its size, classes under k=5 flagged —
    // the metadata-side privacy gate that pairs with the PII scrub.
    "pipeline_k_anon" -> Decl(
      (s, d) => Curation.kAnonymityAudit(docs(s, d), k = 5, band = 256),
      Some("""SELECT lang, source, CAST(n_chars//256 AS BIGINT) AS len_band,
             |  CAST(COUNT(*) AS BIGINT) AS class_size,
             |  COUNT(*) < 5 AS risky
             |FROM documents GROUP BY 1, 2, 3""".stripMargin)),

    // Heaps'-law vocabulary-growth curve: per first-seen doc, new
    // terms contributed and cumulative vocabulary — the cumulative
    // window runs over ≤|vocabulary| rows, never corpus rows.
    "text_vocab_growth" -> Decl(
      (s, d) => TextAnalysis.vocabGrowth(docs(s, d)),
      Some("""WITH fs AS (SELECT term, CAST(MIN(doc_id) AS BIGINT) AS first_doc
             |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents)
             |  GROUP BY 1),
             |g AS (SELECT first_doc, CAST(COUNT(*) AS BIGINT) AS new_terms FROM fs GROUP BY 1)
             |SELECT first_doc, new_terms,
             |  CAST(SUM(new_terms) OVER (ORDER BY first_doc ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
             |FROM g""".stripMargin)),

    // Pairwise language vocabulary overlap: exact intersection and
    // per-side vocabulary sizes for every unordered language pair —
    // the corpus-similarity table behind multilingual mixing.
    "pipeline_lang_overlap" -> Decl(
      (s, d) => Curation.langVocabOverlap(docs(s, d)),
      Some("""WITH v AS (SELECT DISTINCT lang, term
             |  FROM (SELECT lang, unnest(string_split(text,' ')) AS term FROM documents)),
             |s AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS v_size FROM v GROUP BY 1),
             |i AS (SELECT a.lang AS lang_a, b.lang AS lang_b, CAST(COUNT(*) AS BIGINT) AS inter
             |      FROM v a JOIN v b ON a.term = b.term AND a.lang < b.lang GROUP BY 1, 2)
             |SELECT i.lang_a, i.lang_b, i.inter, sa.v_size AS size_a, sb.v_size AS size_b
             |FROM i JOIN s sa ON sa.lang = i.lang_a JOIN s sb ON sb.lang = i.lang_b""".stripMargin)),

    // Seeded Laplace-mechanism noisy histogram (Dwork et al. 2006),
    // ε=1: per-language counts with md5-seeded inverse-CDF noise —
    // reproducible by construction (which a REAL DP release must never
    // be; swap the seed for a secure RNG in deployment).
    "pipeline_dp_counts" -> Decl(
      (s, d) => Curation.dpCounts(docs(s, d), epsilon = 1.0),
      Some("""WITH h AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
             |u AS (SELECT lang, n_docs,
             |  greatest(CAST(CAST('0x'||substr(md5('dp:'||lang),1,15) AS BIGINT) AS DOUBLE)/1152921504606846976.0,
             |           8.673617379884035e-19) AS u
             |  FROM h)
             |SELECT lang, n_docs,
             |  n_docs + (-sign(u-0.5) * ln(1.0 - 2.0*abs(u-0.5))) / 1.0 AS noisy_n
             |FROM u""".stripMargin)),

    // Per-source token-distribution drift: exact KL(P_source||P_corpus)
    // — every source token is in the corpus, so no smoothing term
    // exists and the sum is over the (source, token) table only.
    "pipeline_source_kl" -> Decl(
      (s, d) => Curation.sourceKl(docs(s, d)),
      Some("""WITH tok AS (SELECT source, unnest(string_split(text,' ')) AS t FROM documents),
             |st AS (SELECT source, t, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
             |gt AS (SELECT t, COUNT(*) AS c_t FROM tok GROUP BY 1),
             |ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
             |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM gt)
             |SELECT st.source, MAX(n_s) AS n_tokens,
             |  SUM(CAST(c_st AS DOUBLE)/CAST(n_s AS DOUBLE) *
             |      ln(CAST(c_st AS DOUBLE)*CAST(tot.n AS DOUBLE) /
             |         (CAST(n_s AS DOUBLE)*CAST(c_t AS DOUBLE)))) AS kl
             |FROM st JOIN gt USING (t) JOIN ns USING (source), tot
             |GROUP BY 1""".stripMargin)),

    // Jensen-Shannon drift per source vs the leave-one-out rest:
    // symmetric, bounded by ln 2; the out-of-source tail closes via
    // 1 - sum(q) so only the (source, token) table is aggregated.
    "pipeline_source_jsd" -> Decl(
      (s, d) => Curation.sourceJsDrift(docs(s, d)),
      Some("""WITH tok AS (SELECT source, unnest(string_split(text,' ')) AS t FROM documents),
             |st AS (SELECT source, t, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
             |gt AS (SELECT t, COUNT(*) AS c_t FROM tok GROUP BY 1),
             |ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
             |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM gt),
             |j AS (SELECT st.source, n_s,
             |  CAST(c_st AS DOUBLE)/CAST(n_s AS DOUBLE) AS p,
             |  CAST(c_t - c_st AS DOUBLE)/CAST(tot.n - n_s AS DOUBLE) AS q
             | FROM st JOIN gt USING (t) JOIN ns USING (source), tot),
             |m AS (SELECT source, n_s, p, q, (p + q)/2.0 AS m FROM j),
             |agg AS (SELECT source, MAX(n_s) AS n_tokens,
             |  SUM(p * ln(p/m)) AS kl_p,
             |  SUM(CASE WHEN q > 0.0 THEN q * ln(q/m) ELSE 0.0 END) AS kl_q_in,
             |  SUM(q) AS q_mass_in
             | FROM m GROUP BY 1)
             |SELECT source, n_tokens,
             |  0.5*kl_p + 0.5*(kl_q_in + ln(2.0)*(1.0 - q_mass_in)) AS jsd
             |FROM agg""".stripMargin)),

    // Per-SOURCE boilerplate stripping (RefinedWeb/trafilatura
    // content extraction): a line present in ≥3 of a source's 25 docs
    // (minDocs=2 AND ≥10% by integer cross-multiply) is template
    // chrome — ALL its occurrences are removed, first included.
    // Same ' scan ' → newline line derivation as dedup_lines.
    "pipeline_boilerplate_strip" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val mt = docs(s, d).select(col("doc_id"), col("source"),
          expr("replace(concat(' ', text, ' '), ' scan ', '\n')").as("mt"))
        Curation.boilerplateStrip(mt, "doc_id", "source", "mt",
          fracNum = 1, fracDen = 10, minDocs = 2)
      },
      Some("""WITH t AS (SELECT doc_id, source, replace(' '||text||' ', ' scan ', chr(10)) AS mt FROM documents),
             |ll AS (SELECT doc_id, source, string_split(mt, chr(10)) AS l FROM t),
             |e AS (SELECT doc_id, source, CAST(unnest(range(len(l))) AS BIGINT) AS pos, unnest(l) AS line FROM ll),
             |ld AS (SELECT source, md5(line) AS h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_with
             |       FROM e GROUP BY 1, 2),
             |sd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src_docs FROM documents GROUP BY 1),
             |b AS (SELECT ld.source, h FROM ld JOIN sd USING (source)
             |      WHERE n_with >= 2 AND n_with * 10 >= 1 * n_src_docs),
             |f AS (SELECT e.doc_id, e.pos, e.line, (b.h IS NOT NULL) AS is_b
             |      FROM e LEFT JOIN b ON b.source = e.source AND b.h = md5(e.line))
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
             |  CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
             |  CAST(SUM(CASE WHEN NOT is_b THEN len(line) ELSE 0 END) AS BIGINT) AS n_chars_kept,
             |  COALESCE(string_agg(CASE WHEN NOT is_b THEN line END, chr(10) ORDER BY pos), '') AS cleaned
             |FROM f GROUP BY doc_id""".stripMargin)),

    // Per-source corpus audit: doc counts, exact-dup counts, language
    // spread, size — the keep/downweight/drop decision table at
    // domain granularity (the C4/Gopher gate unit).
    "pipeline_source_audit" -> Decl(
      (s, d) => Curation.sourceAudit(docs(s, d)),
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
             |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs,
             |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             |  CAST(SUM(len(text)) AS BIGINT) AS total_chars,
             |  CAST(SUM(len(text)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_chars
             |FROM documents GROUP BY source""".stripMargin)),

    // NB-classifier reliability diagram: 10 equal-width confidence
    // bins (positive-vote token fraction, all-integer binning), with
    // label/prediction/agreement counts per bin — the ECE input table.
    "pipeline_nb_calibration" -> Decl(
      (s, d) => Curation.nbCalibration(docs(s, d), 64, 10, label = nbWcLabel),
      Some(s"""WITH $nbModelCtes,
              |sc AS (SELECT doc_id, CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % 64 AS dim
              |       FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)),
              |p AS (SELECT sc.doc_id, CAST(SUM(v.vote) AS BIGINT) AS score,
              |        CAST(COUNT(*) AS BIGINT) AS n_tok, SUM(v.vote) > 0 AS pk
              |      FROM sc JOIN v USING (dim) GROUP BY 1),
              |lbl AS (SELECT doc_id, len(string_split(text,' ')) BETWEEN 50 AND 100000 AS lk FROM documents),
              |cb AS (SELECT CAST(LEAST(((score + n_tok) * 10) // (n_tok * 2), 9) AS BIGINT) AS bin, lk, pk
              |       FROM p JOIN lbl USING (doc_id))
              |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(CASE WHEN lk THEN 1 ELSE 0 END) AS BIGINT) AS n_label_keep,
              |  CAST(SUM(CASE WHEN pk THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_keep,
              |  CAST(SUM(CASE WHEN lk = pk THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
              |FROM cb GROUP BY bin""".stripMargin)),

    // Deterministic salted-hash train/val/test assignment (5%/5%):
    // stable under corpus growth, independent of every other
    // hash-derived decision via the 'split:' salt namespace.
    "pipeline_split_assign" -> Decl(
      (s, d) => Sampling.assignSplits(docs(s, d), valPermille = 50,
          testPermille = 50)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("lang"),
          org.apache.spark.sql.functions.col("split")),
      Some("""SELECT doc_id, lang,
             |  CASE WHEN CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 1000 < 50 THEN 'test'
             |       WHEN CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 1000 < 100 THEN 'val'
             |       ELSE 'train' END AS split
             |FROM documents""".stripMargin)),

    // Split-balance audit: per (lang, split) doc and char totals —
    // where a starved small-language eval slice becomes visible.
    "pipeline_split_audit" -> Decl(
      (s, d) => Sampling.splitAudit(docs(s, d), valPermille = 50,
        testPermille = 50),
      Some("""WITH a AS (SELECT lang, len(text) AS n_ch,
             |  CASE WHEN CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 1000 < 50 THEN 'test'
             |       WHEN CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 1000 < 100 THEN 'val'
             |       ELSE 'train' END AS split
             |  FROM documents)
             |SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(n_ch) AS BIGINT) AS total_chars
             |FROM a GROUP BY 1, 2""".stripMargin)),

    // Per-language tokenizer fertility: subword pieces per word and
    // chars per piece under the greedy WordPiece segmenter — the
    // multilingual tokenizer-parity audit. Shares the wordpiece
    // oracle's recursive segmentation CTE.
    "pipeline_piece_fertility" -> Decl(
      (s, d) => TextAnalysis.pieceFertility(docs(s, d), 20),
      Some("""WITH RECURSIVE
             |d AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
             |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY word),
             |vw AS (SELECT word AS v FROM wc ORDER BY cnt DESC, word LIMIT 20),
             |vp AS (SELECT prefix AS v FROM (
             |    SELECT substr(word, 1, 3) AS prefix, SUM(cnt) AS freq FROM wc WHERE len(word) >= 3 GROUP BY 1)
             |  ORDER BY freq DESC, prefix LIMIT 20),
             |vocab AS (SELECT DISTINCT v FROM (SELECT v FROM vw UNION SELECT v FROM vp)),
             |ws AS (SELECT DISTINCT word FROM wc),
             |p AS (SELECT word, CAST(unnest(range(len(word))) AS INTEGER) AS pos FROM ws),
             |j AS (SELECT word, pos,
             |   (SELECT len(v) FROM vocab WHERE substr(word, pos+1, len(v)) = v ORDER BY len(v) DESC, v LIMIT 1) AS step
             |  FROM p),
             |seg AS (
             |  SELECT word, 0 AS pos, 0 AS n_pieces, 0 AS n_unk FROM ws
             |  UNION ALL
             |  SELECT s.word, s.pos + CAST(COALESCE(j.step, 1) AS INTEGER),
             |    s.n_pieces + 1, s.n_unk + CASE WHEN j.step IS NULL THEN 1 ELSE 0 END
             |  FROM seg s JOIN j ON j.word = s.word AND j.pos = s.pos
             |  WHERE s.pos < len(s.word)),
             |fin AS (SELECT word, n_pieces, n_unk FROM seg WHERE pos = len(word)),
             |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             |       CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
             |       CAST(SUM(n_unk) AS BIGINT) AS n_unk
             |       FROM d JOIN fin USING (word) GROUP BY doc_id)
             |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(pd.n_words) AS BIGINT) AS n_words,
             |  CAST(SUM(pd.n_pieces) AS BIGINT) AS n_pieces,
             |  CAST(SUM(pd.n_unk) AS BIGINT) AS n_unk,
             |  CAST(SUM(len(text)) AS BIGINT) AS n_chars,
             |  CAST(SUM(pd.n_pieces) AS DOUBLE) / CAST(SUM(pd.n_words) AS DOUBLE) AS pieces_per_word,
             |  CAST(SUM(len(text)) AS DOUBLE) / CAST(SUM(pd.n_pieces) AS DOUBLE) AS chars_per_piece
             |FROM documents JOIN pd USING (doc_id) GROUP BY lang""".stripMargin)),
  )

  // ----------------------------------------------------------------- dedup

  private lazy val minhashConstsCte: String = {
    val ha = Dedup.hashA.mkString("[", ", ", "]")
    val hb = Dedup.hashB.mkString("[", ", ", "]")
    s"consts AS (SELECT $ha AS ha, $hb AS hb)"
  }

  private def shinglesCteFrom(table: String): String =
    s"""toks AS (SELECT doc_id, string_split(text,' ') AS w FROM $table),
       |sh AS (SELECT doc_id, list_distinct([w[i+1]||' '||w[i+2]||' '||w[i+3] for i in range(len(w)-2)]) AS sh
       |       FROM toks WHERE len(w) >= 3)""".stripMargin

  private lazy val shinglesCte: String = shinglesCteFrom("documents")

  /** Unrolled Viterbi CTE chain for the unigram-LM oracles: v(p) =
    * min-(cost, path) struct over transitions from v(p−j) via a piece
    * of length j ≤ MaxPieceLen — the stored-prefix recurrence the
    * Spark-side [[graft.operators.Unigram.viterbi]] evaluates
    * imperatively; `<pfx>seg` unions each word's value at its own
    * length.
    */
  private def unigramDpCtes(pfx: String, costsCte: String): String = {
    val L = Unigram.MaxPieceLen
    val W = Unigram.MaxWordLen
    val steps = (1 to W).map { p =>
      val branches = (1 to math.min(L, p)).map { j =>
        s"""SELECT v.word, v.cost + c.cost AS cost, v.path || ' ' || c.piece AS path
           |      FROM $pfx${p - j} v JOIN $costsCte c
           |        ON len(v.word) >= $p AND c.piece = substr(v.word, ${p - j + 1}, $j)"""
          .stripMargin
      }.mkString("\n      UNION ALL\n      ")
      s"""$pfx$p AS MATERIALIZED (SELECT word, s.cost AS cost, s.path AS path FROM (
         |  SELECT word, min(struct_pack(cost := cost, path := path)) AS s FROM (
         |      $branches
         |  ) GROUP BY word))""".stripMargin
    }.mkString(",\n")
    val seg = (1 to W).map(p =>
      s"SELECT word, cost, path FROM $pfx$p WHERE len(word) = $p")
      .mkString("\n  UNION ALL\n  ")
    s"""${pfx}0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS cost, '' AS path FROM words),
       |$steps,
       |${pfx}seg AS MATERIALIZED (
       |  $seg)""".stripMargin
  }

  /** Shared training CTEs for the unigram-LM oracles: word counts →
    * substring seed (top-SeedTop ∪ single chars) → integer costs →
    * Viterbi E-step (prefix `a`) → usage M-step → prune → final model
    * `c1` (piece, cnt, cost).
    */
  private lazy val unigramTrainCtes: String = {
    val U = Unigram
    s"""toks AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |words AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt FROM toks
       |          WHERE len(word) BETWEEN 1 AND ${U.MaxWordLen} GROUP BY word),
       |sub AS (SELECT substr(word, CAST(i.range + 1 AS INT), CAST(j.range + 1 AS INT)) AS piece, wcnt
       |        FROM words, range(${U.MaxWordLen}) i, range(${U.MaxPieceLen}) j
       |        WHERE i.range + j.range + 1 <= len(word)),
       |pcnt AS (SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt FROM sub GROUP BY piece),
       |srk AS (SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn FROM pcnt),
       |kept AS MATERIALIZED (SELECT piece, cnt FROM srk WHERE rn <= ${U.SeedTop} OR len(piece) = 1),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM kept),
       |c0 AS MATERIALIZED (SELECT piece, CAST(round(ln(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE)) * ${U.CostScale}) AS BIGINT) AS cost FROM kept, tot),
       |${unigramDpCtes("a", "c0")},
       |usage AS (SELECT unnest(string_split(ltrim(path), ' ')) AS piece, wcnt
       |          FROM aseg JOIN words USING (word)),
       |ucnt AS (SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt FROM usage GROUP BY piece),
       |mg AS (SELECT k.piece, CAST(COALESCE(u.cnt, 0) AS BIGINT) AS cnt FROM kept k LEFT JOIN ucnt u ON k.piece = u.piece),
       |mrk AS (SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn FROM mg),
       |fin AS (SELECT piece, CAST(CASE WHEN len(piece) = 1 THEN GREATEST(cnt, 1) ELSE cnt END AS BIGINT) AS cnt
       |        FROM mrk WHERE (rn <= ${U.VocabSize} AND cnt > 0) OR len(piece) = 1),
       |tot2 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM fin),
       |c1 AS MATERIALIZED (SELECT piece, cnt, CAST(round(ln(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE)) * ${U.CostScale}) AS BIGINT) AS cost FROM fin, tot2)"""
      .stripMargin
  }

  /** Unrolled per-document PageRank CTE chain for `text_textrank` —
    * the generated-oracle treatment `pipeline_bpe_train` uses for its
    * merge rounds: each power-iteration step is one c_i/r_i CTE pair
    * keyed by (doc_id, node), floor division on the same integer
    * grid as the Spark side.
    */
  private def textrankOracleSql(iters: Int, k: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.doc_id, e.dst AS node, CAST(SUM(rank // deg) AS BIGINT) AS inr
         |       FROM e JOIN r${i - 1} r ON e.doc_id = r.doc_id AND e.src = r.node
         |              JOIN deg ON deg.doc_id = e.doc_id AND deg.src = e.src
         |       GROUP BY e.doc_id, e.dst),
         |r$i AS (SELECT nodes.doc_id, nodes.node, CAST((150000 // n) + ((85 * COALESCE(inr, 0)) // 100) AS BIGINT) AS rank
         |       FROM nodes JOIN nn USING (doc_id)
         |            LEFT JOIN c$i ON nodes.doc_id = c$i.doc_id AND nodes.node = c$i.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2),
       |pp AS (SELECT doc_id, unnest([w[i+1]||' '||w[i+2] for i in range(len(w)-1)]) AS pr FROM toks),
       |p0 AS (SELECT doc_id, string_split(pr, ' ')[1] AS a, string_split(pr, ' ')[2] AS b FROM pp),
       |p1 AS (SELECT doc_id, a, b FROM p0 WHERE a <> b),
       |e AS (SELECT doc_id, a AS src, b AS dst FROM p1 UNION SELECT doc_id, b, a FROM p1),
       |nodes AS (SELECT DISTINCT doc_id, src AS node FROM e),
       |nn AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM nodes GROUP BY doc_id),
       |deg AS (SELECT doc_id, src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY doc_id, src),
       |r0 AS (SELECT nodes.doc_id, node, CAST(1000000 // n AS BIGINT) AS rank FROM nodes JOIN nn USING (doc_id)),
       |$steps,
       |top AS (SELECT doc_id, node AS word, rank,
       |          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rank DESC, node) AS rn
       |        FROM r$iters)
       |SELECT doc_id, word, rank, CAST(rn AS BIGINT) AS rn FROM top WHERE rn <= $k""".stripMargin
  }

  /** Recursive-CTE connected components over the 0.5-Jaccard 3-gram
    * pair set — ONE DuckDB truth shared by `dedup_clusters`
    * (min-label propagation) and `dedup_clusters_star`
    * (large-star/small-star), so the two independent Spark
    * algorithms are gated by — and through it, against — each other.
    */
  private lazy val componentsCtes: String =
    s"""$shinglesCte,
       |e AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shingle FROM sh),
       |pp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nsh AS nsh_a, b.nsh AS nsh_b, COUNT(*) AS common
       |       FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2, 3, 4),
       |p AS (SELECT doc_a, doc_b FROM pp
       |      WHERE CAST(common AS DOUBLE)/CAST(nsh_a+nsh_b-common AS DOUBLE) >= 0.5),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach AS (SELECT src AS doc_id, dst AS r FROM edges
       |          UNION SELECT rr.doc_id, e2.dst FROM reach rr JOIN edges e2 ON e2.src = rr.r),
       |comp AS (SELECT doc_id, MIN(r) AS cluster FROM (
       |  SELECT src AS doc_id, src AS r FROM edges
       |  UNION ALL SELECT doc_id, r FROM reach)
       |GROUP BY doc_id)""".stripMargin

  private lazy val componentsOracleSql: String =
    s"""WITH RECURSIVE $componentsCtes
       |SELECT doc_id, cluster FROM comp""".stripMargin

  /** Recursive-CTE connected components over the MINHASH-LSH verified
    * pair set (the `dedup_lsh_star_skew` candidate rule on the plain
    * corpus, Jaccard-verified at 0.5) — the oracle for
    * `dedup_lsh_components`, gating the LSH-edges → star-components
    * composition end to end.
    */
  private lazy val lshComponentsOracleSql: String =
    s"""WITH RECURSIVE $minhashConstsCte,
       |$shinglesCte,
       |$lshBandsCte,
       |reps AS (
       |  SELECT band, bkey, MIN(doc_id) AS rep, COUNT(*) AS cnt
       |  FROM bands GROUP BY band, bkey),
       |cand AS (
       |  SELECT DISTINCT r.rep AS doc_a, b.doc_id AS doc_b
       |  FROM reps r JOIN bands b USING (band, bkey)
       |  WHERE r.cnt > 1 AND b.doc_id <> r.rep),
       |jac AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS BIGINT) AS common,
       |    len(a.sh) AS na, len(b.sh) AS nb
       |  FROM cand JOIN sh a ON cand.doc_a = a.doc_id JOIN sh b ON cand.doc_b = b.doc_id),
       |p AS (SELECT doc_a, doc_b FROM jac
       |      WHERE CAST(common AS DOUBLE)/CAST(na+nb-common AS DOUBLE) >= 0.5),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach AS (SELECT src AS doc_id, dst AS r FROM edges
       |          UNION SELECT rr.doc_id, e2.dst FROM reach rr JOIN edges e2 ON e2.src = rr.r)
       |SELECT doc_id, MIN(r) AS cluster FROM (
       |  SELECT src AS doc_id, src AS r FROM edges
       |  UNION ALL SELECT doc_id, r FROM reach)
       |GROUP BY doc_id""".stripMargin

  /** SimHash signature CTE over an `sh` CTE (mirrors Dedup.simhash) —
    * shared by every simhash-family oracle so the signature rule
    * cannot drift between the operator queries and their recall
    * audits.
    */
  private lazy val simhashSgCte: String =
    s"""sg AS (
       | SELECT doc_id,
       |  CAST(list_sum([ CASE WHEN
       |    list_sum([ CASE WHEN ((CAST('0x'||substr(md5(t),1,15) AS BIGINT) >> j) & 1) = 1 THEN 1 ELSE -1 END for t in sh ]) > 0
       |   THEN (CAST(1 AS BIGINT) << j) ELSE 0 END for j in range(${Dedup.SimhashBits}) ]) AS BIGINT) AS simhash
       | FROM sh)""".stripMargin

  /** The 28 (tab, key) block-pair struct literals behind
    * dedup_simhash_blocked and its recall audit — ONE builder so the
    * audit always measures the same banding as the operator.
    */
  private lazy val simhashBlockStructs: String =
    (for { i <- 0 until 8; j <- (i + 1) until 8 }
      yield (i, j)).zipWithIndex.map { case ((i, j), t) =>
        s"{'tab': $t, 'key': ((simhash >> ${4 * i}) & 15) * 16 + ((simhash >> ${4 * j}) & 15)}"
      }.mkString(", ")

  /** MinHash signature + band-key CTEs over an `sh` CTE (shared by the
    * LSH oracle queries; mirrors Dedup.minhashSignatures/lshBands).
    */
  private lazy val lshBandsCte: String =
    s"""sigs AS (
       |  SELECT doc_id, sh,
       |    [ list_min([ (ha[i+1] * (CAST('0x'||substr(md5(s),1,15) AS BIGINT) % ${Dedup.MinhashPrime})
       |                  + hb[i+1]) % ${Dedup.MinhashPrime} for s in sh ]) for i in range(${Dedup.NumHashes}) ] AS sig
       |  FROM sh, consts),
       |bands AS (
       |  SELECT doc_id, sh, j AS band,
       |    md5(sig[4*j+1]::VARCHAR||','||sig[4*j+2]::VARCHAR||','||sig[4*j+3]::VARCHAR||','||sig[4*j+4]::VARCHAR) AS bkey
       |  FROM sigs, range(${Dedup.NumBands}) t(j))""".stripMargin

  /** C4 line filter as a CTE chain over `table`; final CTE `c4` has
    * (doc_id, n_lines, n_kept, cleaned). Mirrors
    * `Curation.c4LineFilter`.
    */
  private def c4Ctes(table: String): String =
    s"""c4 AS (SELECT doc_id,
       |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       |  CAST(len(kept) AS BIGINT) AS n_kept,
       |  coalesce(array_to_string(kept, chr(10)), '') AS cleaned
       |FROM (SELECT doc_id, text,
       |  list_filter(string_split(text, chr(10)),
       |    l -> regexp_matches(l, '[.!?"]$$') AND len(string_split(l,' ')) >= 3) AS kept
       | FROM $table))""".stripMargin

  /** Gopher rule battery as a CTE chain over `table`; final CTE `gr`
    * has (doc_id, n_words, r_*, verdict). Mirrors
    * `TextAnalysis.gopherRules` — every rule an integer
    * cross-multiplied compare.
    */
  private def gopherRulesCtes(table: String): String = {
    val stopSet = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stops = stopSet.map(w =>
      s"(CASE WHEN instr(' '||text||' ', ' $w ')>0 THEN 1 ELSE 0 END)")
      .mkString("\n     + ")
    s"""rs AS (SELECT doc_id,
       |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
       |  CAST(length(text) AS BIGINT) - CAST(len(string_split(text,' ')) AS BIGINT) + 1 AS sum_len,
       |  CAST(len(regexp_extract_all(text, '#|…|\\.\\.\\.')) AS BIGINT) AS symbols,
       |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       |  CAST(len(regexp_extract_all(chr(10)||text, chr(10)||'[-*•]')) AS BIGINT) AS bullets,
       |  CAST(len(regexp_extract_all(text||chr(10), '(\\.\\.\\.|…)'||chr(10))) AS BIGINT) AS ell,
       |  CAST(len(list_filter(string_split(text,' '), t -> NOT regexp_matches(t,'[a-zA-Z]'))) AS BIGINT) AS no_alpha,
       |  CAST($stops AS BIGINT) AS stops
       | FROM $table),
       |gr AS (SELECT doc_id, n_words,
       |  n_words BETWEEN 50 AND 100000 AS r_wordcount,
       |  (sum_len >= n_words*3 AND sum_len <= n_words*10) AS r_meanlen,
       |  symbols*10 <= n_words AS r_symbol,
       |  bullets*10 <= n_lines*9 AS r_bullet,
       |  ell*10 <= n_lines*3 AS r_ellipsis,
       |  (n_words - no_alpha)*5 >= n_words*4 AS r_alpha,
       |  stops >= 2 AS r_stop,
       |  (n_words BETWEEN 50 AND 100000
       |   AND sum_len >= n_words*3 AND sum_len <= n_words*10
       |   AND symbols*10 <= n_words AND bullets*10 <= n_lines*9
       |   AND ell*10 <= n_lines*3 AND (n_words - no_alpha)*5 >= n_words*4
       |   AND stops >= 2) AS verdict
       |FROM rs)""".stripMargin
  }

  /** Full Gopher repetition battery as a CTE chain over `table`; final
    * CTE `gre` has (doc_id, fractions…, verdict). Mirrors
    * `TextAnalysis.gopherRepetition`, including the packed-long
    * (c·2³⁶ + c·len) argmax — 68719476736 = 2³⁶.
    */
  private def gopherRepetitionCtes(table: String): String = {
    def gCte(n: Int) =
      s"""g$n AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM
         |  (SELECT doc_id, unnest([array_to_string(w[i+1:i+$n], ' ') for i in range(len(w)-${n - 1})]) AS g
         |   FROM w WHERE len(w) >= $n) GROUP BY 1, 2)""".stripMargin
    val tops = (2 to 4).map(n =>
      s"""t$n AS (SELECT doc_id, max(CASE WHEN c > 1 THEN c * 68719476736 + c * length(g) END) % 68719476736 AS top_chars_$n FROM g$n GROUP BY 1)""")
    val dups = (5 to 10).map(n =>
      s"""d$n AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS BIGINT) AS dup_chars_$n FROM g$n GROUP BY 1)""")
    val joins = Seq("la") ++ (2 to 4).map(n => s"t$n") ++
      (5 to 10).map(n => s"d$n")
    val topFracs = (2 to 4).map(n =>
      s"CAST(coalesce(top_chars_$n, 0) AS DOUBLE)/CAST(chars AS DOUBLE) AS top_${n}_gram_char_frac")
    val dupFracs = (5 to 10).map(n =>
      s"CAST(coalesce(dup_chars_$n, 0) AS DOUBLE)/CAST(chars AS DOUBLE) AS dup_${n}_gram_char_frac")
    val topThresh = Map(2 -> "0.20", 3 -> "0.18", 4 -> "0.16")
    val dupThresh = Map(5 -> "0.15", 6 -> "0.14", 7 -> "0.13",
      8 -> "0.12", 9 -> "0.11", 10 -> "0.10")
    val verdictConds = Seq("dup_line_frac > 0.30",
      "dup_line_char_frac > 0.20") ++
      (2 to 4).map(n => s"top_${n}_gram_char_frac > ${topThresh(n)}") ++
      (5 to 10).map(n => s"dup_${n}_gram_char_frac > ${dupThresh(n)}")
    s"""base AS (SELECT doc_id,
       |  greatest(CAST(length(text) AS BIGINT), 1) AS chars,
       |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines FROM $table),
       |lc AS (SELECT doc_id, line, CAST(COUNT(*) AS BIGINT) AS c FROM
       |  (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM $table) GROUP BY 1, 2),
       |la AS (SELECT doc_id,
       |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_lines,
       |  CAST(SUM(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS BIGINT) AS dup_line_chars
       | FROM lc GROUP BY 1),
       |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM $table),
       |${(2 to 10).map(gCte).mkString(",\n")},
       |${(tops ++ dups).mkString(",\n")},
       |gre AS (SELECT doc_id, dup_line_frac, dup_line_char_frac,
       |  ${(2 to 4).map(n => s"top_${n}_gram_char_frac").mkString(", ")},
       |  ${(5 to 10).map(n => s"dup_${n}_gram_char_frac").mkString(", ")},
       |  CASE WHEN ${verdictConds.mkString(" OR ")}
       |       THEN 'drop' ELSE 'keep' END AS verdict
       |FROM (SELECT base.doc_id,
       |  CAST(coalesce(dup_lines, 0) AS DOUBLE)/CAST(n_lines AS DOUBLE) AS dup_line_frac,
       |  CAST(coalesce(dup_line_chars, 0) AS DOUBLE)/CAST(chars AS DOUBLE) AS dup_line_char_frac,
       |  ${(topFracs ++ dupFracs).mkString(",\n  ")}
       | FROM base ${joins.map(j => s"LEFT JOIN $j USING (doc_id)").mkString(" ")}))""".stripMargin
  }

  private val dedup: Seq[(String, Decl)] = Seq(
    "dedup_exact" -> Decl(
      (s, d) => Dedup.exact(docs(s, d)),
      Some("SELECT md5(lower(text)) AS h, COUNT(*) AS cnt, MIN(doc_id) AS keeper FROM documents GROUP BY h")),

    // Normalization-folded exact dedup: lowercase -> explicit
    // diacritic fold (translate, NOT a locale normalizer) -> ASCII
    // punctuation to spaces -> whitespace collapse, then the same
    // fingerprint groupBy — trivially-reformatted copies collapse.
    "dedup_exact_normalized" -> Decl(
      (s, d) => Dedup.normalizedExact(docs(s, d)),
      Some(s"""SELECT md5(trim(regexp_replace(regexp_replace(
              |  translate(lower(text), '${Dedup.AccentFrom}', '${Dedup.AccentTo}'),
              |  '[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g'))) AS h,
              |  COUNT(*) AS cnt, MIN(doc_id) AS keeper
              |FROM documents GROUP BY h""".stripMargin)),

    // Incremental dedup of a constructed "new batch" (a 10% hash slice
    // verbatim = true duplicates, another slice mutated = novel docs)
    // against the full corpus as the at-rest side. The Bloom prefilter
    // is probabilistic but the exact confirm join makes the RESULT
    // exact for any fpp — so it oracles like any other query.
    "dedup_incremental_bloom" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val all = docs(s, d)
        val h = graft.functions.TextFunctions
          .hash60(col("doc_id").cast("string")) % 10
        val dupes = all.filter(h === 0).select(col("doc_id"), col("text"))
        val novel = all.filter(h === 1).select(
          (col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" zzznovel")).as("text"))
        Dedup.dedupAgainstCorpus(dupes.union(novel), all, 100000L, 0.01)
      },
      Some("""WITH nb AS (
             |  SELECT doc_id, text FROM documents
             |  WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 10 = 0
             |  UNION ALL
             |  SELECT doc_id + 10000000, text || ' zzznovel' FROM documents
             |  WHERE CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 10 = 1),
             |c AS (SELECT md5(lower(text)) AS fp FROM documents)
             |SELECT DISTINCT nb.doc_id, md5(lower(nb.text)) AS fp
             |FROM nb JOIN c ON md5(lower(nb.text)) = c.fp""".stripMargin)),

    "dedup_ngram_jaccard" -> Decl(
      (s, d) => Dedup.ngramJaccard(docs(s, d), 3, 0.5),
      Some(s"""WITH $shinglesCte,
              |e AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shingle FROM sh),
              |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nsh AS nsh_a, b.nsh AS nsh_b, COUNT(*) AS common
              |      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |      GROUP BY 1, 2, 3, 4)
              |SELECT doc_a, doc_b, CAST(common AS DOUBLE)/CAST(nsh_a+nsh_b-common AS DOUBLE) AS jaccard
              |FROM p WHERE CAST(common AS DOUBLE)/CAST(nsh_a+nsh_b-common AS DOUBLE) >= 0.5""".stripMargin)),

    // Recall self-eval of the MinHash LSH path — the third leg of the
    // recall-audit family (edit-distance, SimHash, MinHash): exact
    // ngram-Jaccard truth LEFT JOIN the banded path, per-pair found
    // flag. found=false rows are the S-curve misses plus rank-cap
    // truncation, as per-pair facts under the oracle gate.
    "dedup_minhash_recall" -> Decl(
      (s, d) => Dedup.minhashRecall(docs(s, d), 3, 0.5),
      Some(s"""WITH $minhashConstsCte,
              |$shinglesCte,
              |$lshBandsCte,
              |e AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shingle FROM sh),
              |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nsh AS nsh_a, b.nsh AS nsh_b, COUNT(*) AS common
              |      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |      GROUP BY 1, 2, 3, 4),
              |tr AS (SELECT doc_a, doc_b, CAST(common AS DOUBLE)/CAST(nsh_a+nsh_b-common AS DOUBLE) AS jaccard
              |       FROM p WHERE CAST(common AS DOUBLE)/CAST(nsh_a+nsh_b-common AS DOUBLE) >= 0.5),
              |bands_k AS (
              |  SELECT * FROM bands
              |  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= ${Dedup.MaxBucket}),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
              |  FROM bands_k a JOIN bands_k b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
              |jac AS (
              |  SELECT doc_a, doc_b,
              |    CAST(len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS BIGINT) AS common,
              |    len(sh_a) AS na, len(sh_b) AS nb
              |  FROM cands),
              |fnd AS (SELECT doc_a, doc_b FROM jac
              |        WHERE CAST(common AS DOUBLE)/CAST(na+nb-common AS DOUBLE) >= 0.5)
              |SELECT tr.doc_a, tr.doc_b, tr.jaccard,
              |  fnd.doc_a IS NOT NULL AS found
              |FROM tr LEFT JOIN fnd ON tr.doc_a = fnd.doc_a AND tr.doc_b = fnd.doc_b""".stripMargin)),

    // EXACT set-similarity join via prefix filtering (AllPairs/PPJoin).
    // Losslessness is the whole point, so the ORACLE is deliberately
    // the brute-force all-pairs Jaccard at the same threshold — the
    // prefix-pruned Spark plan must reproduce it row-for-row. The
    // Spark side never forms the all-pairs join: candidates come only
    // from each doc's (|d|−⌈t·|d|⌉+1) globally-rarest shingles.
    "dedup_ppjoin" -> Decl(
      (s, d) => Dedup.ppjoin(docs(s, d), 3, 0.6),
      Some(s"""WITH $shinglesCte,
              |e AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shingle FROM sh),
              |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nsh AS nsh_a, b.nsh AS nsh_b, COUNT(*) AS common
              |      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |      GROUP BY 1, 2, 3, 4)
              |SELECT doc_a, doc_b, CAST(common AS DOUBLE)/CAST(nsh_a+nsh_b-common AS DOUBLE) AS jaccard
              |FROM p WHERE CAST(common AS DOUBLE)/CAST(nsh_a+nsh_b-common AS DOUBLE) >= 0.6""".stripMargin)),

    // The production representation of an exact dedup at high
    // duplicate rates: ppjoin's provably-complete pair set collapsed
    // to connected components (smallest-id keeper per cluster) — the
    // keeper table is corpus-sized, never pair-sized, which is what a
    // 100 TB job materializes instead of the quadratic pair list
    // (see SCALING.md on the sf10 output-cardinality bound).
    "dedup_ppjoin_clusters" -> Decl(
      (s, d) => Dedup.duplicateClusters(Dedup.ppjoin(docs(s, d), 3, 0.6)),
      Some(s"""WITH RECURSIVE $shinglesCte,
              |e AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shingle FROM sh),
              |pp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nsh AS nsh_a, b.nsh AS nsh_b, COUNT(*) AS common
              |       FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |       GROUP BY 1, 2, 3, 4),
              |p AS (SELECT doc_a, doc_b FROM pp
              |      WHERE CAST(common AS DOUBLE)/CAST(nsh_a+nsh_b-common AS DOUBLE) >= 0.6),
              |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
              |          UNION SELECT doc_b, doc_a FROM p),
              |reach AS (SELECT src AS doc_id, dst AS r FROM edges
              |          UNION SELECT rr.doc_id, e2.dst FROM reach rr JOIN edges e2 ON e2.src = rr.r)
              |SELECT doc_id, MIN(r) AS cluster FROM (
              |  SELECT src AS doc_id, src AS r FROM edges
              |  UNION ALL SELECT doc_id, r FROM reach)
              |GROUP BY doc_id""".stripMargin)),

    // PPJoin pruning audit: the candidate pairs the prefix + length +
    // position filters admit, each verified (`kept` = exact Jaccard
    // >= t) — candidate-generation precision under the oracle gate.
    // The oracle mirrors the CANDIDATE RULE itself ((df, shingle)
    // total order, prefix length n − ceil(t·n) + 1, symmetric length
    // filter, the w₀ position bound AND the per-pair group bound
    // c + min(remaining after w₁) with the same (1.0 + 0.6) and 1e-9
    // literals so the float arithmetic is IEEE-identical), so a
    // drift in any filter turns the row red — not just a drift in
    // the final pair set.
    "dedup_ppjoin_audit" -> Decl(
      (s, d) => Dedup.ppjoinAudit(docs(s, d), 3, 0.6),
      Some(s"""WITH $shinglesCte,
              |e AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shingle FROM sh),
              |dfq AS (SELECT shingle, COUNT(*) AS df FROM e GROUP BY 1),
              |pfx AS (SELECT e.doc_id, e.shingle, e.nsh,
              |          ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY dfq.df, e.shingle) AS rk
              |        FROM e JOIN dfq USING (shingle)
              |        QUALIFY rk <= e.nsh - ceil(e.nsh * 0.6) + 1),
              |grp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nsh AS nsh_a, b.nsh AS nsh_b,
              |          COUNT(*) AS c, MIN(a.rk) AS rka0, MIN(b.rk) AS rkb0, MAX(a.rk) AS rka1, MAX(b.rk) AS rkb1
              |        FROM pfx a JOIN pfx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |          AND b.nsh * 0.6 <= a.nsh AND a.nsh * 0.6 <= b.nsh
              |          AND CAST(1 + least(a.nsh - a.rk, b.nsh - b.rk) AS DOUBLE) * (1.0 + 0.6)
              |              >= 0.6 * CAST(a.nsh + b.nsh AS DOUBLE) - 1e-9
              |        GROUP BY 1, 2, 3, 4),
              |cand AS (SELECT doc_a, doc_b, nsh_a, nsh_b FROM grp
              |         WHERE CAST(least(1 + least(nsh_a - rka0, nsh_b - rkb0),
              |                          c + least(nsh_a - rka1, nsh_b - rkb1)) AS DOUBLE) * (1.0 + 0.6)
              |               >= 0.6 * CAST(nsh_a + nsh_b AS DOUBLE) - 1e-9),
              |v AS (SELECT c.doc_a, c.doc_b, c.nsh_a, c.nsh_b, COUNT(*) AS common
              |      FROM cand c JOIN e ea ON ea.doc_id = c.doc_a
              |                  JOIN e eb ON eb.doc_id = c.doc_b AND eb.shingle = ea.shingle
              |      GROUP BY 1, 2, 3, 4)
              |SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common,
              |  CAST(common AS DOUBLE)/CAST(nsh_a+nsh_b-common AS DOUBLE) AS jaccard,
              |  CAST(common AS DOUBLE)/CAST(nsh_a+nsh_b-common AS DOUBLE) >= 0.6 AS kept
              |FROM v""".stripMargin)),

    // Sorted-neighborhood dedup (Hernández & Stolfo 1995): slide a
    // 4-row window down the lower(text) sort order, exact-Jaccard
    // verify inside it — the third classic blocking family (after
    // LSH banding and (band, char) blocks), strongest where near-dups
    // share a long sort-key prefix. The Spark rank is the two-level
    // bucketed prefix sum (no single-reducer window); the oracle is
    // ONE global ROW_NUMBER — bit-identical by bucket-prefix order.
    "dedup_sorted_neighborhood" -> Decl(
      (s, d) => Dedup.sortedNeighborhood(docs(s, d), 3, 4, 0.6),
      Some(s"""WITH $shinglesCte,
              |e AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shingle FROM sh),
              |r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY lower(text), doc_id) AS rk FROM documents),
              |cand AS (SELECT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
              |         FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 4),
              |v AS (SELECT c.doc_a, c.doc_b, ea.nsh AS nsh_a, eb.nsh AS nsh_b, COUNT(*) AS common
              |      FROM cand c JOIN e ea ON ea.doc_id = c.doc_a
              |                  JOIN e eb ON eb.doc_id = c.doc_b AND eb.shingle = ea.shingle
              |      GROUP BY 1, 2, 3, 4)
              |SELECT doc_a, doc_b, CAST(common AS DOUBLE)/CAST(nsh_a+nsh_b-common AS DOUBLE) AS jaccard
              |FROM v WHERE CAST(common AS DOUBLE)/CAST(nsh_a+nsh_b-common AS DOUBLE) >= 0.6""".stripMargin)),

    // Record-linkage near-dup: exact Levenshtein ≤ 8 on the lowercased
    // text, candidates from TWO blocking passes — (length band, FIRST
    // char) and (length band, LAST char) — with the adjacent band
    // probed (length-lossless since bandWidth 16 > 8) and each
    // (pass, band, char) block rank-capped at the 64 smallest doc_ids.
    // The union halves the single-pass escape class (only pairs edited
    // at BOTH ends escape); the oracle mirrors the identical candidate
    // rule via QUALIFY.
    "dedup_edit_blocked" -> Decl(
      (s, d) => Dedup.editDistancePairs(docs(s, d), 8, 16, 64),
      Some("""WITH k AS (SELECT doc_id, lower(text) AS k FROM documents),
             |b AS (SELECT doc_id, k, CAST(floor(length(k)/16.0) AS BIGINT) AS band, p.pass,
             |        CASE WHEN p.pass = 0 THEN substr(k, 1, 1)
             |             ELSE substr(k, greatest(length(k), 1), 1) END AS ch
             |      FROM k, (VALUES (0),(1)) p(pass)),
             |pr AS (SELECT doc_id, k, pass, ch, band + d AS band FROM b, (VALUES (0),(1)) t(d)),
             |pk AS (SELECT * FROM pr QUALIFY ROW_NUMBER() OVER (PARTITION BY pass, band, ch ORDER BY doc_id) <= 64)
             |SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             |  levenshtein(a.k, b2.k) AS dist
             |FROM pk a JOIN pk b2
             |  ON a.pass = b2.pass AND a.band = b2.band AND a.ch = b2.ch AND a.doc_id < b2.doc_id
             |WHERE levenshtein(a.k, b2.k) <= 8""".stripMargin)),

    // Recall self-eval of the blocked edit-distance join: brute-force
    // truth (all pairs within Levenshtein 8, quadratic space pruned
    // losslessly by the length + letter-count filters before any
    // levenshtein) LEFT JOIN the blocked path — `found = false` rows
    // are the measured escapes of the first+last-char blocking (the
    // provable escape class: pairs edited at BOTH anchor ends). The
    // oracle MATERIALIZES the filtered candidate set so DuckDB too
    // runs levenshtein only on near-miss pairs.
    "dedup_edit_recall" -> Decl(
      (s, d) => Dedup.editDistanceRecall(docs(s, d), 8, 16, 64),
      Some {
        // length() (chars), never strlen() (bytes): the Spark side's
        // length filter and band are char-based, and a byte-based
        // mirror silently diverges on multibyte text (the letter
        // HISTOGRAM is byte/char-agnostic for a-z, but stays length()
        // for uniformity)
        val histCols = ('a' to 'z').map(c =>
          s"length(k) - length(replace(k,'$c','')) AS c_$c").mkString(", ")
        val histDiff = ('a' to 'z').map(c =>
          s"abs(a.c_$c - b.c_$c)").mkString(" + ")
        s"""WITH kk AS (SELECT doc_id, lower(text) AS k, $histCols
           |            FROM (SELECT doc_id, lower(text) AS k, text FROM documents)),
           |cand AS MATERIALIZED (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.k AS ka, b.k AS kb
           |  FROM kk a JOIN kk b ON a.doc_id < b.doc_id
           |    AND abs(length(a.k) - length(b.k)) <= 8 AND $histDiff <= 16),
           |tr AS (SELECT doc_a, doc_b, dist FROM (
           |       SELECT doc_a, doc_b, levenshtein(ka, kb) AS dist FROM cand)
           |       WHERE dist <= 8),
           |b AS (SELECT doc_id, k, CAST(floor(length(k)/16.0) AS BIGINT) AS band, p.pass,
           |        CASE WHEN p.pass = 0 THEN substr(k, 1, 1)
           |             ELSE substr(k, greatest(length(k), 1), 1) END AS ch
           |      FROM kk, (VALUES (0),(1)) p(pass)),
           |pr AS (SELECT doc_id, k, pass, ch, band + d AS band FROM b, (VALUES (0),(1)) t(d)),
           |pk AS (SELECT * FROM pr QUALIFY ROW_NUMBER() OVER (PARTITION BY pass, band, ch ORDER BY doc_id) <= 64),
           |fnd AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
           |        FROM pk a JOIN pk b2
           |          ON a.pass = b2.pass AND a.band = b2.band AND a.ch = b2.ch AND a.doc_id < b2.doc_id
           |        WHERE levenshtein(a.k, b2.k) <= 8)
           |SELECT tr.doc_a, tr.doc_b, tr.dist, fnd.doc_a IS NOT NULL AS found
           |FROM tr LEFT JOIN fnd ON tr.doc_a = fnd.doc_a AND tr.doc_b = fnd.doc_b""".stripMargin
      }),

    // Band buckets are capped at the MaxBucket smallest doc_ids on
    // BOTH sides (Spark row_number ≤ K, DuckDB QUALIFY ≤ K) — the
    // deterministic truncation keeps hash parity while bounding the
    // hot-bucket blowup.
    "dedup_minhash_lsh" -> Decl(
      (s, d) => Dedup.minhashLsh(docs(s, d), 3, 0.5),
      Some(s"""WITH $minhashConstsCte,
              |$shinglesCte,
              |$lshBandsCte,
              |bands_k AS (
              |  SELECT * FROM bands
              |  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= ${Dedup.MaxBucket}),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
              |  FROM bands_k a JOIN bands_k b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
              |jac AS (
              |  SELECT doc_a, doc_b,
              |    CAST(len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS BIGINT) AS common,
              |    len(sh_a) AS na, len(sh_b) AS nb
              |  FROM cands)
              |SELECT doc_a, doc_b, CAST(common AS DOUBLE)/CAST(na+nb-common AS DOUBLE) AS jaccard
              |FROM jac WHERE CAST(common AS DOUBLE)/CAST(na+nb-common AS DOUBLE) >= 0.5""".stripMargin)),

    // Exact-dedup storage savings by source: the budget-number report
    // (cross-source groups charge the saving to the copy's source).
    "dedup_savings" -> Decl(
      (s, d) => Dedup.dedupSavings(docs(s, d)),
      Some("""WITH fp AS (SELECT doc_id, source,
             |            CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |            md5(lower(text)) AS h FROM documents),
             |k AS (SELECT h, MIN(doc_id) AS keeper FROM fp GROUP BY 1)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
             |  CAST(SUM(CASE WHEN doc_id = keeper THEN n_bytes ELSE 0 END) AS BIGINT) AS kept_bytes,
             |  CAST(SUM(n_bytes) - SUM(CASE WHEN doc_id = keeper THEN n_bytes ELSE 0 END) AS BIGINT) AS saved_bytes,
             |  CAST(SUM(n_bytes) - SUM(CASE WHEN doc_id = keeper THEN n_bytes ELSE 0 END) AS DOUBLE)
             |    / CAST(SUM(n_bytes) AS DOUBLE) AS saved_frac
             |FROM fp JOIN k USING (h) GROUP BY 1""".stripMargin)),

    // MinHash estimator self-eval: exact Jaccard vs the
    // 32-component signature agreement fraction per verified pair
    // (Broder's identity) — the signature-width justification table.
    "dedup_minhash_estimate" -> Decl(
      (s, d) => Dedup.minhashEstimate(docs(s, d), 3, 0.5),
      Some(s"""WITH $minhashConstsCte,
              |$shinglesCte,
              |$lshBandsCte,
              |bands_k AS (
              |  SELECT * FROM bands
              |  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= ${Dedup.MaxBucket}),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
              |  FROM bands_k a JOIN bands_k b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
              |jac AS (
              |  SELECT doc_a, doc_b,
              |    CAST(len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS BIGINT) AS common,
              |    len(sh_a) AS na, len(sh_b) AS nb
              |  FROM cands),
              |p AS (SELECT doc_a, doc_b, CAST(common AS DOUBLE)/CAST(na+nb-common AS DOUBLE) AS jaccard
              |      FROM jac WHERE CAST(common AS DOUBLE)/CAST(na+nb-common AS DOUBLE) >= 0.5),
              |est AS (SELECT p.doc_a, p.doc_b, p.jaccard,
              |  CAST(len([i for i in range(${Dedup.NumHashes}) if a.sig[i+1] = b.sig[i+1]]) AS DOUBLE)
              |    / ${Dedup.NumHashes}.0 AS est
              | FROM p JOIN sigs a ON a.doc_id = p.doc_a
              |        JOIN sigs b ON b.doc_id = p.doc_b)
              |SELECT doc_a, doc_b, jaccard, est, abs(est - jaccard) AS est_err
              |FROM est""".stripMargin)),

    // Deterministic global corpus shuffle: dense 1..N rank in hashed
    // order via two-level prefix sums, vs the oracle's single-reducer
    // row_number — identical permutation, distributed sort.
    "pipeline_shuffle_rank" -> Decl(
      (s, d) => Sampling.deterministicShuffle(docs(s, d), 42L),
      Some("""SELECT doc_id, skey,
             |  CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT) AS shuffle_rank
             |FROM (SELECT doc_id,
             |  CAST('0x'||substr(md5(doc_id::VARCHAR || ':' || '42'),1,15) AS BIGINT) AS skey
             | FROM documents)""".stripMargin)),

    // CCNet-style LM quality score: corpus-trained add-one-smoothed
    // CONDITIONAL bigram model, mean p(w2|w1) per doc in ppm — the
    // in-engine analog of KenLM perplexity filtering. Per-bigram
    // ratios quantize to DECIMAL(38,18) before the exact sum, so both
    // engines agree bit-for-bit despite the float division.
    // r17: the bigram MODEL (c12/c1/vocab — this query's dominant
    // shuffles) resolves from the STANDING knModelWrite layout shared
    // with the KN tier, built once per corpus fingerprint; per-query
    // cost becomes gram-keyed joins against model-sized tables. Same
    // counts, same quantized sum, oracle unchanged.
    "text_bigram_lm" -> Decl(
      (s, d) => TextAnalysis.bigramLmScoreAtRest(docs(s, d),
        s"target/atrest/knmodel-${d.replaceAll("[^A-Za-z0-9.]", "_")}"),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |bg AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2
             |  FROM (SELECT doc_id,
             |    unnest([{'w1': w[i+1], 'w2': w[i+2]} for i in range(len(w)-1)]) AS u
             |   FROM toks WHERE len(w) >= 2)),
             |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
             |c1 AS (SELECT w1 AS cw1, COUNT(*) AS c1 FROM bg GROUP BY w1),
             |v AS (SELECT COUNT(DISTINCT word) AS v
             |  FROM (SELECT unnest(w) AS word FROM toks))
             |SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(CAST((c12.c12 + 1.0) / (c1.c1 + v.v) AS DECIMAL(38,18))) AS DOUBLE)
             |    * 1000000.0 / COUNT(*) AS lm_ppm
             |FROM bg, c12, c1, v
             |WHERE bg.w1 = c12.w1 AND bg.w2 = c12.w2 AND bg.w1 = c1.cw1
             |GROUP BY bg.doc_id""".stripMargin)),

    // CCNet's head/middle/tail corpus split by LM quality: NTILE(3)
    // over the bigram LM score (best third = head, the tier models
    // train on). Ties break on doc_id; the double scores are
    // bit-identical across engines (text_bigram_lm), so the ordering
    // and tiers match exactly.
    // r17: rides the same standing LM model as text_bigram_lm.
    "pipeline_ccnet_buckets" -> Decl(
      (s, d) => TextAnalysis.ccnetBucketsAtRest(docs(s, d),
        s"target/atrest/knmodel-${d.replaceAll("[^A-Za-z0-9.]", "_")}"),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |bg AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2
             |  FROM (SELECT doc_id,
             |    unnest([{'w1': w[i+1], 'w2': w[i+2]} for i in range(len(w)-1)]) AS u
             |   FROM toks WHERE len(w) >= 2)),
             |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
             |c1 AS (SELECT w1 AS cw1, COUNT(*) AS c1 FROM bg GROUP BY w1),
             |v AS (SELECT COUNT(DISTINCT word) AS v
             |  FROM (SELECT unnest(w) AS word FROM toks)),
             |lm AS (SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(CAST((c12.c12 + 1.0) / (c1.c1 + v.v) AS DECIMAL(38,18))) AS DOUBLE)
             |    * 1000000.0 / COUNT(*) AS lm_ppm
             | FROM bg, c12, c1, v
             | WHERE bg.w1 = c12.w1 AND bg.w2 = c12.w2 AND bg.w1 = c1.cw1
             | GROUP BY bg.doc_id)
             |SELECT doc_id, n_bigrams, lm_ppm,
             |  CASE NTILE(3) OVER (ORDER BY lm_ppm DESC, doc_id)
             |   WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier
             |FROM lm""".stripMargin)),

    // Cross-corpus LM scoring — the deployed CCNet shape: the bigram
    // model trains on the reference slice (sources src0-src9) and
    // scores the REST, with explicit unseen-bigram backoff counting.
    // The slice predicate is shared string arithmetic on the source
    // name, so both engines split identically.
    "text_lm_cross_score" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val all = docs(s, d)
        val isTrain = expr("cast(substr(source, 4) as int) < 10")
        // r17: the REFERENCE model stands at rest keyed by the train
        // slice's fingerprint — retrained when the reference corpus
        // changes, not once per scored crawl slice
        TextAnalysis.bigramLmCrossScoreAtRest(
          all.filter(isTrain), all.filter(!isTrain),
          s"target/atrest/knmodel-cross-${d.replaceAll("[^A-Za-z0-9.]", "_")}")
      },
      Some("""WITH tr AS (SELECT * FROM documents WHERE CAST(substr(source,4) AS INTEGER) < 10),
             |sc AS (SELECT * FROM documents WHERE CAST(substr(source,4) AS INTEGER) >= 10),
             |tt AS (SELECT doc_id, string_split(text, ' ') AS w FROM tr),
             |st AS (SELECT doc_id, string_split(text, ' ') AS w FROM sc),
             |tb AS (SELECT u.w1 AS w1, u.w2 AS w2
             |  FROM (SELECT unnest([{'w1': w[i+1], 'w2': w[i+2]} for i in range(len(w)-1)]) AS u
             |   FROM tt WHERE len(w) >= 2)),
             |sb AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2
             |  FROM (SELECT doc_id,
             |    unnest([{'w1': w[i+1], 'w2': w[i+2]} for i in range(len(w)-1)]) AS u
             |   FROM st WHERE len(w) >= 2)),
             |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM tb GROUP BY w1, w2),
             |c1 AS (SELECT w1 AS cw1, COUNT(*) AS c1 FROM tb GROUP BY w1),
             |v AS (SELECT COUNT(DISTINCT word) AS v
             |  FROM (SELECT unnest(w) AS word FROM tt))
             |SELECT sb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(CASE WHEN c12.c12 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
             |  CAST(SUM(CAST((COALESCE(c12.c12, 0) + 1.0) / (COALESCE(c1.c1, 0) + v.v) AS DECIMAL(38,18))) AS DOUBLE)
             |    * 1000000.0 / COUNT(*) AS lm_ppm
             |FROM sb LEFT JOIN c12 ON sb.w1 = c12.w1 AND sb.w2 = c12.w2
             |  LEFT JOIN c1 ON sb.w1 = c1.cw1 CROSS JOIN v
             |GROUP BY sb.doc_id""".stripMargin)),

    // Interpolated Kneser–Ney bigram LM score — the smoothing KenLM
    // actually ships (Kneser & Ney 1995; Chen & Goodman 1998), vs the
    // add-one baseline above: discounted observed mass D = 3/4 is
    // redistributed through the CONTINUATION probability
    // N1+(·w2)/N1+(··). Every factor is an integer count; the
    // per-bigram double term is the same fixed-shape IEEE tree in
    // both engines, quantized to DECIMAL(38,18) before the sum.
    // r17: resolves the four count tables from the standing layout
    // (built-if-stale), the pipeline_kn_buckets treatment.
    "text_kneser_ney" -> Decl(
      (s, d) => TextAnalysis.knSmoothedLmScoreStanding(docs(s, d),
        s"target/atrest/knmodel-${d.replaceAll("[^A-Za-z0-9.]", "_")}"),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |bg AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2
             |  FROM (SELECT doc_id,
             |    unnest([{'w1': w[i+1], 'w2': w[i+2]} for i in range(len(w)-1)]) AS u
             |   FROM toks WHERE len(w) >= 2)),
             |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
             |ctx AS (SELECT w1 AS cw1, COUNT(*) AS c1,
             |  COUNT(DISTINCT w2) AS n1fwd FROM bg GROUP BY w1),
             |cont AS (SELECT w2 AS cw2, COUNT(DISTINCT w1) AS n1bwd
             |  FROM bg GROUP BY w2),
             |t AS (SELECT COUNT(*) AS n_types FROM c12)
             |SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(CAST(
             |    (CAST(c12.c12 AS DOUBLE) - 0.75) / CAST(ctx.c1 AS DOUBLE)
             |    + (0.75 * CAST(ctx.n1fwd AS DOUBLE) / CAST(ctx.c1 AS DOUBLE))
             |      * (CAST(cont.n1bwd AS DOUBLE) / CAST(t.n_types AS DOUBLE))
             |   AS DECIMAL(38,18))) AS DOUBLE)
             |    * 1000000.0 / COUNT(*) AS kn_ppm
             |FROM bg, c12, ctx, cont, t
             |WHERE bg.w1 = c12.w1 AND bg.w2 = c12.w2
             |  AND bg.w1 = ctx.cw1 AND bg.w2 = cont.cw2
             |GROUP BY bg.doc_id""".stripMargin)),

    // The CCNet tier split under the smoothing its deployed filter
    // actually uses: NTILE(3) over the Kneser-Ney score instead of
    // the add-one baseline (pipeline_ccnet_buckets). Scores are
    // bit-identical doubles across engines, ties break on doc_id, so
    // the tiers match exactly. r16: the KN MODEL (the four count
    // tables — the query's dominant shuffles per SCALING_r15) is a
    // STANDING fingerprint-keyed layout built once per corpus
    // version (TextAnalysis.knModelWrite); a fresh model turns the
    // split into gram-keyed joins against model-sized tables — same
    // counts, same fixed-shape term, oracle unchanged.
    "pipeline_kn_buckets" -> Decl(
      (s, d) => TextAnalysis.knBucketsAtRest(docs(s, d),
        s"target/atrest/knmodel-${d.replaceAll("[^A-Za-z0-9.]", "_")}"),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |bg AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2
             |  FROM (SELECT doc_id,
             |    unnest([{'w1': w[i+1], 'w2': w[i+2]} for i in range(len(w)-1)]) AS u
             |   FROM toks WHERE len(w) >= 2)),
             |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
             |ctx AS (SELECT w1 AS cw1, COUNT(*) AS c1,
             |  COUNT(DISTINCT w2) AS n1fwd FROM bg GROUP BY w1),
             |cont AS (SELECT w2 AS cw2, COUNT(DISTINCT w1) AS n1bwd
             |  FROM bg GROUP BY w2),
             |t AS (SELECT COUNT(*) AS n_types FROM c12),
             |lm AS (SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(CAST(
             |    (CAST(c12.c12 AS DOUBLE) - 0.75) / CAST(ctx.c1 AS DOUBLE)
             |    + (0.75 * CAST(ctx.n1fwd AS DOUBLE) / CAST(ctx.c1 AS DOUBLE))
             |      * (CAST(cont.n1bwd AS DOUBLE) / CAST(t.n_types AS DOUBLE))
             |   AS DECIMAL(38,18))) AS DOUBLE)
             |    * 1000000.0 / COUNT(*) AS kn_ppm
             | FROM bg, c12, ctx, cont, t
             | WHERE bg.w1 = c12.w1 AND bg.w2 = c12.w2
             |   AND bg.w1 = ctx.cw1 AND bg.w2 = cont.cw2
             | GROUP BY bg.doc_id)
             |SELECT doc_id, n_bigrams, kn_ppm,
             |  CASE NTILE(3) OVER (ORDER BY kn_ppm DESC, doc_id)
             |   WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier
             |FROM lm""".stripMargin)),

    // Corpus-frequency content score (exact-arithmetic CCNet
    // perplexity-bucket analog): mean corpus bigram frequency per doc.
    "pipeline_ngram_freq_score" -> Decl(
      (s, d) => Curation.ngramFrequencyScore(docs(s, d), 2),
      Some("""WITH g AS (SELECT doc_id, unnest([w[i+1]||' '||w[i+2] for i in range(len(w)-1)]) AS gram
             |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents) WHERE len(w) >= 2),
             |c AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS cf FROM g GROUP BY 1)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             |  CAST(SUM(cf) AS BIGINT) AS sum_cf,
             |  CAST(SUM(cf) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS mean_cf
             |FROM g JOIN c USING (gram) GROUP BY doc_id""".stripMargin)),

    // Winnowing (MOSS) fingerprint selection: per-doc window minima
    // over k-gram hash60s — bit-exact across engines.
    "text_winnow_fp" -> Decl(
      (s, d) => Dedup.winnowFingerprints(docs(s, d), 3, 4),
      Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
             |g AS (SELECT doc_id, CAST(len(w) - 2 AS BIGINT) AS n_grams, u.pos AS pos, u.gram AS gram
             |  FROM (SELECT doc_id, w,
             |    unnest([{'pos': i, 'gram': array_to_string(w[i+1:i+3], ' ')} for i in range(len(w)-2)]) AS u
             |   FROM toks WHERE len(w) >= 3)),
             |h AS (SELECT doc_id, n_grams, pos,
             |  CAST('0x'||substr(md5(gram),1,15) AS BIGINT) AS h FROM g),
             |m AS (SELECT doc_id, n_grams, pos,
             |  MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
             |               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
             | FROM h)
             |SELECT DISTINCT doc_id, fp FROM m WHERE pos <= n_grams - 4""".stripMargin)),

    // Shared-fingerprint copy shortlist over a constructed corpus with
    // planted copies (every 11th doc duplicated under offset ids) —
    // winnowing's guarantee makes each copy pair share fingerprints;
    // ubiquitous fps (> 64 docs) are dropped before pairing.
    "text_winnow_overlap" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val copies = base.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
        Dedup.winnowOverlap(base.unionByName(copies), 3, 4)
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT 3000000 + doc_id AS doc_id, text FROM documents WHERE doc_id % 11 = 0),
             |toks AS (SELECT doc_id, string_split(text,' ') AS w FROM corpus),
             |g AS (SELECT doc_id, CAST(len(w) - 2 AS BIGINT) AS n_grams, u.pos AS pos, u.gram AS gram
             |  FROM (SELECT doc_id, w,
             |    unnest([{'pos': i, 'gram': array_to_string(w[i+1:i+3], ' ')} for i in range(len(w)-2)]) AS u
             |   FROM toks WHERE len(w) >= 3)),
             |h AS (SELECT doc_id, n_grams, pos,
             |  CAST('0x'||substr(md5(gram),1,15) AS BIGINT) AS h FROM g),
             |m AS (SELECT doc_id, n_grams, pos,
             |  MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
             |               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
             | FROM h),
             |fps AS (SELECT DISTINCT doc_id, fp FROM m WHERE pos <= n_grams - 4),
             |bounded AS (SELECT * FROM fps
             |  WHERE fp IN (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 64))
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(COUNT(*) AS BIGINT) AS n_shared
             |FROM bounded a JOIN bounded b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |GROUP BY 1, 2""".stripMargin)),

    // Recall of winnowing's GUARANTEE, measured: any pair sharing a
    // run of >= w+k-1 = 6 consecutive tokens must share a selected
    // fingerprint (Schleimer et al. 2003); the only admissible misses
    // are pairs whose every shared fp is ubiquitous (> 64 docs).
    "dedup_winnow_recall" -> Decl(
      (s, d) => Dedup.winnowRecall(docs(s, d), 3, 4, 64),
      Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
             |g6 AS (SELECT doc_id, list_distinct([array_to_string(w[i+1:i+6], ' ') for i in range(len(w)-5)]) AS sh
             |       FROM toks WHERE len(w) >= 6),
             |e6 AS (SELECT doc_id, unnest(sh) AS g FROM g6),
             |tr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |       FROM e6 a JOIN e6 b ON a.g = b.g AND a.doc_id < b.doc_id),
             |g AS (SELECT doc_id, CAST(len(w) - 2 AS BIGINT) AS n_grams, u.pos AS pos, u.gram AS gram
             |  FROM (SELECT doc_id, w,
             |    unnest([{'pos': i, 'gram': array_to_string(w[i+1:i+3], ' ')} for i in range(len(w)-2)]) AS u
             |   FROM toks WHERE len(w) >= 3)),
             |h AS (SELECT doc_id, n_grams, pos,
             |  CAST('0x'||substr(md5(gram),1,15) AS BIGINT) AS h FROM g),
             |m AS (SELECT doc_id, n_grams, pos,
             |  MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
             |               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
             | FROM h),
             |fps AS (SELECT DISTINCT doc_id, fp FROM m WHERE pos <= n_grams - 4),
             |bounded AS (SELECT * FROM fps
             |  WHERE fp IN (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 64)),
             |fnd AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |        FROM bounded a JOIN bounded b ON a.fp = b.fp AND a.doc_id < b.doc_id)
             |SELECT tr.doc_a, tr.doc_b, fnd.doc_a IS NOT NULL AS found
             |FROM tr LEFT JOIN fnd ON tr.doc_a = fnd.doc_a AND tr.doc_b = fnd.doc_b""".stripMargin)),

    // Cross-corpus near-dedup: a "new dump" (every 7th doc, re-ided)
    // LSH'd against the at-rest corpus — the band join never pairs the
    // corpus with itself; corpus-side buckets rank-capped; every pair
    // exact-Jaccard verified. Both engines produce identical pairs.
    "dedup_cross_corpus_lsh" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val newDump = base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
        Dedup.minhashLshAgainst(newDump, base, 3, 0.5)
      },
      Some(s"""WITH corpus AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT 2000000 + doc_id AS doc_id, text FROM documents WHERE doc_id % 7 = 0),
              |$minhashConstsCte,
              |${shinglesCteFrom("corpus")},
              |$lshBandsCte,
              |corp_k AS (
              |  SELECT * FROM bands WHERE doc_id < 2000000
              |  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= ${Dedup.MaxBucket}),
              |new_b AS (SELECT * FROM bands WHERE doc_id >= 2000000),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
              |  FROM corp_k a JOIN new_b b ON a.band = b.band AND a.bkey = b.bkey),
              |jac AS (
              |  SELECT doc_a, doc_b,
              |    CAST(len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS BIGINT) AS common,
              |    len(sh_a) AS na, len(sh_b) AS nb
              |  FROM cands)
              |SELECT doc_a, doc_b, CAST(common AS DOUBLE)/CAST(na+nb-common AS DOUBLE) AS jaccard
              |FROM jac WHERE CAST(common AS DOUBLE)/CAST(na+nb-common AS DOUBLE) >= 0.5""".stripMargin)),

    // Containment on the same LSH candidate path: |A∩B| / min(|A|,|B|)
    // — the asymmetric overlap that catches short-inside-long copies.
    "dedup_containment_lsh" -> Decl(
      (s, d) => Dedup.minhashLshContainment(docs(s, d), 3, 0.6),
      Some(s"""WITH $minhashConstsCte,
              |$shinglesCte,
              |$lshBandsCte,
              |bands_k AS (
              |  SELECT * FROM bands
              |  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= ${Dedup.MaxBucket}),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
              |  FROM bands_k a JOIN bands_k b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
              |jac AS (
              |  SELECT doc_a, doc_b,
              |    CAST(len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS BIGINT) AS common,
              |    len(sh_a) AS na, len(sh_b) AS nb
              |  FROM cands)
              |SELECT doc_a, doc_b, CAST(common AS DOUBLE)/CAST(LEAST(na, nb) AS DOUBLE) AS containment
              |FROM jac WHERE CAST(common AS DOUBLE)/CAST(LEAST(na, nb) AS DOUBLE) >= 0.6""".stripMargin)),

    // Recall self-eval of the containment-LSH path: exact containment
    // truth (shingle equi-join) LEFT JOIN the banded path. The
    // asymmetric case where MinHash's Jaccard-tuned S-curve is
    // off-design — measured here rather than hand-waved.
    "dedup_containment_recall" -> Decl(
      (s, d) => Dedup.containmentRecall(docs(s, d), 3, 0.6),
      Some(s"""WITH $minhashConstsCte,
              |$shinglesCte,
              |$lshBandsCte,
              |e AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shingle FROM sh),
              |pp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nsh AS nsh_a, b.nsh AS nsh_b, COUNT(*) AS common
              |       FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |       GROUP BY 1, 2, 3, 4),
              |tr AS (SELECT doc_a, doc_b,
              |         CAST(common AS DOUBLE)/CAST(LEAST(nsh_a, nsh_b) AS DOUBLE) AS containment
              |       FROM pp WHERE CAST(common AS DOUBLE)/CAST(LEAST(nsh_a, nsh_b) AS DOUBLE) >= 0.6),
              |bands_k AS (
              |  SELECT * FROM bands
              |  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= ${Dedup.MaxBucket}),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
              |  FROM bands_k a JOIN bands_k b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
              |fnd AS (
              |  SELECT doc_a, doc_b FROM (
              |    SELECT doc_a, doc_b,
              |      CAST(len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS BIGINT) AS common,
              |      len(sh_a) AS na, len(sh_b) AS nb
              |    FROM cands)
              |  WHERE CAST(common AS DOUBLE)/CAST(LEAST(na, nb) AS DOUBLE) >= 0.6)
              |SELECT tr.doc_a, tr.doc_b, tr.containment,
              |  fnd.doc_a IS NOT NULL AS found
              |FROM tr LEFT JOIN fnd ON tr.doc_a = fnd.doc_a AND tr.doc_b = fnd.doc_b""".stripMargin)),

    // The linear-output star variant over a DELIBERATELY skewed corpus:
    // documents plus 1500 replicas of doc 0 — one mass-duplicate hot
    // bucket, the case that OOMed the uncapped r1 shape. Both engines
    // compute identical (keeper = bucket-min, duplicate) edges with
    // exact-Jaccard verification.
    "dedup_lsh_star_skew" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val replicas = base.filter(col("doc_id") === 0).select(col("text"))
          .crossJoin(s.range(1500))
          .select((col("id") + 1000000L).as("doc_id"), col("text"))
        Dedup.minhashLshDedup(base.unionByName(replicas), 3, 0.5)
      },
      Some(s"""WITH corpus AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT 1000000 + j AS doc_id, d.text FROM documents d, range(1500) t(j) WHERE d.doc_id = 0),
              |$minhashConstsCte,
              |${shinglesCteFrom("corpus")},
              |$lshBandsCte,
              |reps AS (
              |  SELECT band, bkey, MIN(doc_id) AS rep, COUNT(*) AS cnt
              |  FROM bands GROUP BY band, bkey),
              |cand AS (
              |  SELECT DISTINCT r.rep AS doc_a, b.doc_id AS doc_b
              |  FROM reps r JOIN bands b USING (band, bkey)
              |  WHERE r.cnt > 1 AND b.doc_id <> r.rep),
              |jac AS (
              |  SELECT doc_a, doc_b,
              |    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS BIGINT) AS common,
              |    len(a.sh) AS na, len(b.sh) AS nb
              |  FROM cand JOIN sh a ON cand.doc_a = a.doc_id JOIN sh b ON cand.doc_b = b.doc_id)
              |SELECT doc_a, doc_b, CAST(common AS DOUBLE)/CAST(na+nb-common AS DOUBLE) AS jaccard
              |FROM jac WHERE CAST(common AS DOUBLE)/CAST(na+nb-common AS DOUBLE) >= 0.5""".stripMargin)),

    // Fuzzy-dedup capstone: the CLEANED corpus after MinHash-LSH star
    // dedup — every verified near-duplicate of a bucket representative
    // is dropped, survivors emit (doc_id, content fingerprint). The
    // anti-join composes the gated star-dedup output with the corpus
    // under one oracle.
    "pipeline_fuzzy_dedup" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val dropped = Dedup.minhashLshDedup(base, 3, 0.5)
          .select(col("doc_b").as("doc_id"))
        base.join(dropped, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
      },
      Some(s"""WITH $minhashConstsCte,
              |$shinglesCte,
              |$lshBandsCte,
              |reps AS (
              |  SELECT band, bkey, MIN(doc_id) AS rep, COUNT(*) AS cnt
              |  FROM bands GROUP BY band, bkey),
              |cand AS (
              |  SELECT DISTINCT r.rep AS doc_a, b.doc_id AS doc_b
              |  FROM reps r JOIN bands b USING (band, bkey)
              |  WHERE r.cnt > 1 AND b.doc_id <> r.rep),
              |jac AS (
              |  SELECT doc_a, doc_b,
              |    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS BIGINT) AS common,
              |    len(a.sh) AS na, len(b.sh) AS nb
              |  FROM cand JOIN sh a ON cand.doc_a = a.doc_id JOIN sh b ON cand.doc_b = b.doc_id),
              |dropped AS (
              |  SELECT DISTINCT doc_b FROM jac
              |  WHERE CAST(common AS DOUBLE)/CAST(na+nb-common AS DOUBLE) >= 0.5)
              |SELECT d.doc_id, md5(lower(d.text)) AS fp FROM documents d
              |WHERE d.doc_id NOT IN (SELECT doc_b FROM dropped)""".stripMargin)),

    // Dedup-method comparison report: the survey a pipeline runs
    // BEFORE committing to a strategy — one row per granularity with
    // the affected unit count and fraction, composed from the gated
    // tiers (exact doc, line, paragraph-analog, LSH near-dup pairs,
    // duplicated ExactSubstr tokens). All integer counts; fractions
    // divide after aggregation.
    "pipeline_dedup_report" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val sp = s
        import sp.implicits._
        def row(method: String, affected: Long, total: Long) =
          (method, affected, total, affected.toDouble / total)
        val nDocs = base.count()
        val exactDup = nDocs - Dedup.exact(base).count()
        val lines = Curation.dedupLines(base, "doc_id", "text", sep = " ")
          .agg(sum(col("n_lines")), sum(col("n_kept"))).head()
        val lshPairs = Dedup.minhashLsh(base, 3, 0.5).count()
        val substr = Dedup.exactSubstrDedup(base, 5)
          .agg(sum(col("n_tokens")), sum(col("n_kept"))).head()
        val nPairs = nDocs * (nDocs - 1) / 2
        Seq(
          row("doc_exact", exactDup, nDocs),
          row("lsh_neardup_pairs", lshPairs, nPairs),
          row("substr_tokens", substr.getLong(0) - substr.getLong(1),
            substr.getLong(0)),
          row("word_occurrences", lines.getLong(0) - lines.getLong(1),
            lines.getLong(0)))
          .toDF("method", "affected", "total", "fraction")
      },
      Some(s"""WITH $minhashConstsCte,
              |$shinglesCte,
              |$lshBandsCte,
              |bands_k AS (
              |  SELECT * FROM bands
              |  QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= ${Dedup.MaxBucket}),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
              |  FROM bands_k a JOIN bands_k b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
              |lshp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cands
              |  WHERE CAST(len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS BIGINT) * 1.0
              |        / (len(sh_a) + len(sh_b) - len(list_filter(sh_a, s -> list_contains(sh_b, s)))) >= 0.5),
              |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
              |ex AS (SELECT CAST(COUNT(DISTINCT md5(lower(text))) AS BIGINT) AS n FROM documents),
              |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
              |wtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM w),
              |wkept AS (SELECT CAST(COUNT(DISTINCT md5(word)) AS BIGINT) AS n FROM w),
              |tk2 AS (SELECT doc_id, string_split(text,' ') AS wd FROM documents),
              |g AS (SELECT doc_id, u.pos AS pos,
              |   CAST('0x'||substr(md5(u.gram),1,15) AS BIGINT) AS gh
              |  FROM (SELECT doc_id,
              |    unnest([{'pos': i, 'gram': array_to_string(wd[i+1:i+5], ' ')} for i in range(len(wd)-4)]) AS u
              |   FROM tk2 WHERE len(wd) >= 5)),
              |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
              |ds AS (SELECT DISTINCT doc_id, pos FROM g JOIN dup USING (gh)),
              |t AS (SELECT doc_id, u.p AS p
              |  FROM (SELECT doc_id, unnest([{'p': i} for i in range(len(wd))]) AS u FROM tk2)),
              |cvr AS (SELECT t.doc_id, t.p,
              |   MAX(CASE WHEN ds.pos IS NOT NULL THEN t.p END)
              |     OVER (PARTITION BY t.doc_id ORDER BY t.p) AS cov
              |  FROM t LEFT JOIN ds ON t.doc_id = ds.doc_id AND t.p = ds.pos),
              |stot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cvr),
              |skept AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cvr
              |  WHERE cov IS NULL OR p > cov + 4)
              |SELECT 'doc_exact' AS method, nd.n - ex.n AS affected, nd.n AS total,
              |  CAST(nd.n - ex.n AS DOUBLE)/CAST(nd.n AS DOUBLE) AS fraction FROM nd, ex
              |UNION ALL
              |SELECT 'lsh_neardup_pairs', lshp.n, nd.n * (nd.n - 1) // 2,
              |  CAST(lshp.n AS DOUBLE)/CAST(nd.n * (nd.n - 1) // 2 AS DOUBLE) FROM lshp, nd
              |UNION ALL
              |SELECT 'substr_tokens', stot.n - skept.n, stot.n,
              |  CAST(stot.n - skept.n AS DOUBLE)/CAST(stot.n AS DOUBLE) FROM stot, skept
              |UNION ALL
              |SELECT 'word_occurrences', wtot.n - wkept.n, wtot.n,
              |  CAST(wtot.n - wkept.n AS DOUBLE)/CAST(wtot.n AS DOUBLE) FROM wtot, wkept""".stripMargin)),

    // Cluster formation over the verified near-dup pairs: Spark runs
    // min-label propagation to fixpoint; DuckDB computes the same
    // connected components with a recursive CTE — two independent
    // algorithms agreeing on every (doc, keeper) assignment.
    "dedup_clusters" -> Decl(
      (s, d) => Dedup.duplicateClusters(Dedup.ngramJaccard(docs(s, d), 3, 0.5)),
      Some(componentsOracleSql)),

    // Same components, SECOND algorithm: alternating large-star /
    // small-star (Kiveris et al. 2014) — O(log² n) rounds vs the
    // propagation's O(diameter), the shape a 100 TB dedup job runs
    // when chains show up. One DuckDB derivation gates BOTH Spark
    // algorithms, so they also check each other.
    "dedup_clusters_star" -> Decl(
      (s, d) =>
        Dedup.duplicateClustersStar(Dedup.ngramJaccard(docs(s, d), 3, 0.5)),
      Some(componentsOracleSql)),

    // Duplicate-cluster SIZE distribution: log2-bucketed component
    // sizes over the gated components — the number that sets dedup
    // policy at scale (a fat tail of giant template clusters wants
    // keep-one-per-cluster; a flat profile wants pairwise drops) and
    // the early-warning for hot-key skew in any cluster-keyed stage.
    // One k-row rollup on top of the components; same exact
    // integer-bin idiom as rel_degree_hist.
    "dedup_cluster_sizes" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Dedup.duplicateClustersStar(Dedup.ngramJaccard(docs(s, d), 3, 0.5))
          .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
          .groupBy((length(bin(col("sz"))) - 1).cast("long").as("sz_class"))
          .agg(count(lit(1)).as("n_clusters"),
            min(col("sz")).as("min_sz"), max(col("sz")).as("max_sz"))
          .orderBy(col("sz_class"))
      },
      Some(s"""WITH RECURSIVE $componentsCtes,
              |sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz FROM comp GROUP BY cluster)
              |SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS sz_class,
              |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
              |  MIN(sz) AS min_sz, MAX(sz) AS max_sz
              |FROM sz GROUP BY 1 ORDER BY sz_class""".stripMargin)),

    // The 100 TB composition of the two gated pieces: LSH-verified
    // near-dup pairs (capped buckets, rep-fanout linear) feeding the
    // star-alternation components — the edge generator the exact
    // all-pairs `dedup_clusters_star` deliberately is NOT (its
    // ngramJaccard truth refuses >100k docs). This is the query that
    // carries the components tier's scale evidence.
    "dedup_lsh_components" -> Decl(
      (s, d) => Dedup.duplicateClustersStar(
        Dedup.minhashLshDedup(docs(s, d), 3, 0.5)),
      Some(lshComponentsOracleSql)),

    // Cluster representative selection on top of the components:
    // keep the member with the most tokens (ties → smallest id).
    "dedup_cluster_keepers" -> Decl(
      (s, d) => {
        val base = docs(s, d)
        Dedup.clusterKeepers(
          Dedup.duplicateClusters(Dedup.ngramJaccard(base, 3, 0.5)), base)
      },
      Some(s"""WITH RECURSIVE $shinglesCte,
              |e AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shingle FROM sh),
              |pp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nsh AS nsh_a, b.nsh AS nsh_b, COUNT(*) AS common
              |       FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |       GROUP BY 1, 2, 3, 4),
              |p AS (SELECT doc_a, doc_b FROM pp
              |      WHERE CAST(common AS DOUBLE)/CAST(nsh_a+nsh_b-common AS DOUBLE) >= 0.5),
              |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
              |          UNION SELECT doc_b, doc_a FROM p),
              |reach AS (SELECT src AS doc_id, dst AS r FROM edges
              |          UNION SELECT rr.doc_id, e2.dst FROM reach rr JOIN edges e2 ON e2.src = rr.r),
              |labels AS (SELECT doc_id, MIN(r) AS cluster FROM (
              |  SELECT src AS doc_id, src AS r FROM edges
              |  UNION ALL SELECT doc_id, r FROM reach)
              |GROUP BY doc_id),
              |scored AS (SELECT l.doc_id, l.cluster,
              |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS s
              |  FROM labels l JOIN documents d USING (doc_id)),
              |best AS (SELECT cluster, MAX(s) AS keeper_score,
              |    CAST(COUNT(*) AS BIGINT) AS size FROM scored GROUP BY 1)
              |SELECT b.cluster, MIN(sc.doc_id) AS keeper, b.size, b.keeper_score
              |FROM scored sc JOIN best b
              |  ON sc.cluster = b.cluster AND sc.s = b.keeper_score
              |GROUP BY b.cluster, b.size, b.keeper_score""".stripMargin)),

    // Content-defined chunking: duplicated chunks anywhere in the
    // corpus, with boundaries derived from token hashes (≡ 0 mod 8).
    "dedup_cdc_chunks" -> Decl(
      (s, d) => Dedup.cdcDupChunks(docs(s, d), 8),
      Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
             |e AS (SELECT doc_id, CAST(unnest(range(len(w))) AS BIGINT) AS pos, unnest(w) AS tok FROM toks),
             |b AS (SELECT doc_id, pos, tok,
             |  CASE WHEN CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % 8 = 0 THEN 1 ELSE 0 END AS brk FROM e),
             |c AS (SELECT doc_id, pos, tok,
             |  CAST(COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS chunk FROM b),
             |ch AS (SELECT doc_id, chunk, md5(string_agg(tok, ' ' ORDER BY pos)) AS fp,
             |       CAST(COUNT(*) AS BIGINT) AS n_tok FROM c GROUP BY 1, 2)
             |SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_occ,
             |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, MIN(n_tok) AS n_tokens
             |FROM ch GROUP BY fp HAVING COUNT(*) > 1""".stripMargin)),

    "dedup_simhash_neardup" -> Decl(
      (s, d) => Dedup.simhashNearDup(docs(s, d), 6),
      Some(s"""WITH $shinglesCte,
              |$simhashSgCte,
              |b0 AS (SELECT doc_id, simhash, simhash >> ${Dedup.SimhashBits / 2} AS bucket FROM sg),
              |b AS (SELECT doc_id, simhash, bucket FROM (
              |  SELECT doc_id, simhash, bucket,
              |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn FROM b0)
              |  WHERE rn <= ${Dedup.MaxBucket})
              |SELECT a.doc_id AS doc_a, bb.doc_id AS doc_b,
              |  CAST(bit_count(xor(a.simhash, bb.simhash)) AS BIGINT) AS hamming
              |FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.doc_id < bb.doc_id
              |WHERE bit_count(xor(a.simhash, bb.simhash)) <= 6""".stripMargin)),

    // Linear star variant: members link to the bucket representative,
    // not to each other — complete on mass-duplicate corpora where the
    // capped all-pairs form truncates.
    "dedup_simhash_star" -> Decl(
      (s, d) => Dedup.simhashDedup(docs(s, d), 6),
      Some(s"""WITH $shinglesCte,
              |$simhashSgCte,
              |b AS (SELECT doc_id, simhash, simhash >> ${Dedup.SimhashBits / 2} AS bucket FROM sg),
              |reps AS (SELECT bucket, MIN(doc_id) AS doc_a, COUNT(*) AS cnt
              |         FROM b GROUP BY 1 HAVING COUNT(*) > 1),
              |rs AS (SELECT r.bucket, r.doc_a, m.simhash AS sig_a
              |       FROM reps r JOIN b m ON m.bucket = r.bucket AND m.doc_id = r.doc_a)
              |SELECT rs.doc_a, b.doc_id AS doc_b,
              |  CAST(bit_count(xor(rs.sig_a, b.simhash)) AS BIGINT) AS hamming
              |FROM b JOIN rs ON b.bucket = rs.bucket AND b.doc_id <> rs.doc_a
              |WHERE bit_count(xor(rs.sig_a, b.simhash)) <= 6""".stripMargin)),

    // Multi-rotation recall variant: candidates share the top half of
    // EITHER the raw or the 16-bit-rotated signature, each rotation
    // independently rank-capped; Hamming verifies on the full 32 bits.
    "dedup_simhash_multi" -> Decl(
      (s, d) => Dedup.simhashNearDupMulti(docs(s, d), 6, 2),
      Some(s"""WITH $shinglesCte,
              |$simhashSgCte,
              |k0 AS (SELECT doc_id, bucket FROM (
              |  SELECT doc_id, simhash >> 16 AS bucket,
              |    ROW_NUMBER() OVER (PARTITION BY (simhash >> 16) ORDER BY doc_id) AS rn FROM sg)
              |  WHERE rn <= ${Dedup.MaxBucket}),
              |k1 AS (SELECT doc_id, bucket FROM (
              |  SELECT doc_id,
              |    (((simhash << 16) & 4294967295) | (simhash >> 16)) >> 16 AS bucket,
              |    ROW_NUMBER() OVER (PARTITION BY ((((simhash << 16) & 4294967295) | (simhash >> 16)) >> 16) ORDER BY doc_id) AS rn FROM sg)
              |  WHERE rn <= ${Dedup.MaxBucket}),
              |cands AS (SELECT DISTINCT doc_a, doc_b FROM (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM k0 a JOIN k0 b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
              |  UNION ALL
              |  SELECT a.doc_id, b.doc_id
              |  FROM k1 a JOIN k1 b ON a.bucket = b.bucket AND a.doc_id < b.doc_id))
              |SELECT c.doc_a, c.doc_b,
              |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
              |FROM cands c
              |JOIN sg sa ON sa.doc_id = c.doc_a
              |JOIN sg sb ON sb.doc_id = c.doc_b
              |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 6""".stripMargin)),

    // Recall self-eval of the multi-rotation SimHash banding:
    // brute-force truth (ALL pairs within Hamming 6 over the full
    // 32-bit signatures — one BIGINT popcount per pair, so the
    // quadratic side is cheap) LEFT JOIN the banded path. found=false
    // rows are pairs whose differing bits straddle the top half of
    // BOTH rotations — the banding's measured escape class.
    "dedup_simhash_recall" -> Decl(
      (s, d) => Dedup.simhashRecall(docs(s, d), 6, 2),
      Some(s"""WITH $shinglesCte,
              |$simhashSgCte,
              |tr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
              |       FROM sg a JOIN sg b ON a.doc_id < b.doc_id
              |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
              |k0 AS (SELECT doc_id, bucket FROM (
              |  SELECT doc_id, simhash >> 16 AS bucket,
              |    ROW_NUMBER() OVER (PARTITION BY (simhash >> 16) ORDER BY doc_id) AS rn FROM sg)
              |  WHERE rn <= ${Dedup.MaxBucket}),
              |k1 AS (SELECT doc_id, bucket FROM (
              |  SELECT doc_id,
              |    (((simhash << 16) & 4294967295) | (simhash >> 16)) >> 16 AS bucket,
              |    ROW_NUMBER() OVER (PARTITION BY ((((simhash << 16) & 4294967295) | (simhash >> 16)) >> 16) ORDER BY doc_id) AS rn FROM sg)
              |  WHERE rn <= ${Dedup.MaxBucket}),
              |cands AS (SELECT DISTINCT doc_a, doc_b FROM (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM k0 a JOIN k0 b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
              |  UNION ALL
              |  SELECT a.doc_id, b.doc_id
              |  FROM k1 a JOIN k1 b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)),
              |fnd AS (SELECT c.doc_a, c.doc_b FROM cands c
              |        JOIN sg sa ON sa.doc_id = c.doc_a
              |        JOIN sg sb ON sb.doc_id = c.doc_b
              |        WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 6)
              |SELECT tr.doc_a, tr.doc_b, tr.hamming,
              |  fnd.doc_a IS NOT NULL AS found
              |FROM tr LEFT JOIN fnd ON tr.doc_a = fnd.doc_a AND tr.doc_b = fnd.doc_b""".stripMargin)),

    // Block-combination SimHash banding (Manku et al. WWW'07): 8
    // blocks of 4 bits, one bucket table per C(8,2) = 28 block
    // pairs — pigeonhole-LOSSLESS for Hamming <= 6 pre-cap, fixing
    // the rotation heuristic's measured ~25-33% recall. One exploded
    // (tab, key) relation, one rank-capped equi-join.
    "dedup_simhash_blocked" -> Decl(
      (s, d) => Dedup.simhashNearDupBlocked(docs(s, d), 6),
      Some {
        val structs = simhashBlockStructs
        s"""WITH $shinglesCte,
           |$simhashSgCte,
           |tb AS (SELECT doc_id, u.tab AS tab, u.key AS key FROM (
           |  SELECT doc_id, simhash, unnest([ $structs ]) AS u FROM sg)),
           |tbk AS (SELECT doc_id, tab, key FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY tab, key ORDER BY doc_id) AS rn FROM tb)
           |  WHERE rn <= ${Dedup.MaxBucket}),
           |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |          FROM tbk a JOIN tbk b ON a.tab = b.tab AND a.key = b.key AND a.doc_id < b.doc_id)
           |SELECT c.doc_a, c.doc_b,
           |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
           |FROM cands c
           |JOIN sg sa ON sa.doc_id = c.doc_a
           |JOIN sg sb ON sb.doc_id = c.doc_b
           |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 6""".stripMargin
      }),

    // The losslessness claim, MEASURED under the gate: brute-force
    // truth LEFT JOIN the block-combination path — only a rank-cap
    // truncation of a hot bucket can produce found=false here, so
    // this row going red-on-recall would mean the pigeonhole argument
    // stopped covering the corpus's bucket profile.
    "dedup_simhash_recall_blocked" -> Decl(
      (s, d) => Dedup.simhashRecallBlocked(docs(s, d), 6),
      Some {
        val structs = simhashBlockStructs
        s"""WITH $shinglesCte,
           |$simhashSgCte,
           |tr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |       FROM sg a JOIN sg b ON a.doc_id < b.doc_id
           |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
           |tb AS (SELECT doc_id, u.tab AS tab, u.key AS key FROM (
           |  SELECT doc_id, simhash, unnest([ $structs ]) AS u FROM sg)),
           |tbk AS (SELECT doc_id, tab, key FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY tab, key ORDER BY doc_id) AS rn FROM tb)
           |  WHERE rn <= ${Dedup.MaxBucket}),
           |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |          FROM tbk a JOIN tbk b ON a.tab = b.tab AND a.key = b.key AND a.doc_id < b.doc_id),
           |fnd AS (SELECT c.doc_a, c.doc_b FROM cands c
           |        JOIN sg sa ON sa.doc_id = c.doc_a
           |        JOIN sg sb ON sb.doc_id = c.doc_b
           |        WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 6)
           |SELECT tr.doc_a, tr.doc_b, tr.hamming,
           |  fnd.doc_a IS NOT NULL AS found
           |FROM tr LEFT JOIN fnd ON tr.doc_a = fnd.doc_a AND tr.doc_b = fnd.doc_b""".stripMargin
      }),

    "dedup_simhash" -> Decl(
      (s, d) => Dedup.simhash(docs(s, d)),
      Some(s"""WITH $shinglesCte
              |SELECT doc_id,
              | CAST(list_sum([ CASE WHEN
              |   list_sum([ CASE WHEN ((CAST('0x'||substr(md5(t),1,15) AS BIGINT) >> j) & 1) = 1 THEN 1 ELSE -1 END for t in sh ]) > 0
              |  THEN (CAST(1 AS BIGINT) << j) ELSE 0 END for j in range(${Dedup.SimhashBits}) ]) AS BIGINT) AS simhash
              |FROM sh""".stripMargin)),
  )

  // ------------------------------------------------- scale-path variants

  /** Dialect-neutral SQL run VERBATIM in both engines — the raw-SQL
    * console surface (O15) under the oracle gate: CTEs, set ops,
    * window frames, INTERSECT.
    */
  private def sqlParity(sql: String): Decl =
    Decl((s, d) => { Tables.registerAll(s, d); s.sql(sql) }, Some(sql))

  private val scalePath: Seq[(String, Decl)] = Seq(
    "skew_salted_agg" -> Decl(
      (s, d) => Skew.saltedAgg(ev(s, d), "event_type", "value"),
      Some("""SELECT event_type, COUNT(*) AS cnt, CAST(SUM("value") AS DOUBLE) AS sum
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Skew-safe salted JOIN: the fact key is sharded and the dim side
    // replicated (Skew.saltedJoin) — result provably identical to the
    // plain join, which IS the oracle. Aggregates are integer-only
    // (count + bigint sum) so multi-partition combine order cannot
    // perturb the hash compare.
    "rel_salted_join" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val e = ev(s, d)
        val dim = e.select(col("event_type")).distinct()
          .withColumn("weight", length(col("event_type")).cast("long"))
        Skew.saltedJoin(e, dim, "event_type", col("event_id"), 8)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), sum(col("weight")).as("wsum"))
          .orderBy(col("event_type"))
      },
      Some("""WITH dim AS (SELECT DISTINCT event_type,
             |            CAST(length(event_type) AS BIGINT) AS weight FROM events)
             |SELECT e.event_type, COUNT(*) AS cnt,
             |  CAST(SUM(weight) AS BIGINT) AS wsum
             |FROM events e JOIN dim USING (event_type)
             |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // HLL relaxation of exact distinct (SURVEY §2.4) — no SQL oracle
    // (engine-specific sketch), driver records the weaker rows check.
    "o11_daily_unique_approx" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        ev(s, d).groupBy(to_date(col("ts")).as("d"))
          .agg(approx_count_distinct(col("user_id")).as("approx_cnt"))
          .orderBy("d")
      },
      None),

    // Hand-rolled HLL whose ESTIMATE is oracle-gated (unlike the
    // engine-private sketch above): md5-derived registers, exact
    // BIGINT harmonic sum, fixed-order float finish — both engines
    // reproduce the register table and the estimate bit-for-bit,
    // and the exact count rides along as the error audit.
    "o11_daily_unique_hll" -> Decl(
      (s, d) => Reports.dailyUniqueHll(ev(s, d), "ts", "user_id"),
      Some(hllOracle)),

    "sql_cte_union" -> sqlParity(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type AS grp, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT 'total' AS kind, grp, CAST(SUM(cnt) AS BIGINT) AS cnt
        |FROM daily GROUP BY grp
        |UNION ALL
        |SELECT 'max_day' AS kind, grp, CAST(MAX(cnt) AS BIGINT) AS cnt
        |FROM daily GROUP BY grp""".stripMargin),

    "sql_window_frame" -> sqlParity(
      """SELECT d, cnt,
        |  CAST(SUM(cnt) OVER (ORDER BY d
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS running
        |FROM (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS cnt
        |      FROM events GROUP BY 1)""".stripMargin),

    "sql_intersect" -> sqlParity(
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'signup'""".stripMargin),

    "sql_having" -> sqlParity(
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id HAVING COUNT(*) >= 3
        |ORDER BY n_purchases DESC, user_id""".stripMargin),

    "sql_in_list_case" -> sqlParity(
      """SELECT CASE WHEN event_type IN ('view', 'click') THEN 'browse'
        |            WHEN event_type IN ('purchase', 'signup') THEN 'convert'
        |            ELSE 'other' END AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin),

    "sql_scalar_subquery" -> sqlParity(
      """SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events
        |GROUP BY 1
        |HAVING COUNT(*) > (SELECT COUNT(*) FROM events) / 40
        |ORDER BY d""".stripMargin),

    "sql_grouping_sets" -> sqlParity(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(COUNT(*) AS BIGINT) AS cnt, SUM(l_quantity) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin),

    // Analytic functions beyond row_number (§2.5 tier B): lag/lead
    // deltas over the daily series, and quartile bucketing.
    "sql_lag_lead" -> sqlParity(
      """SELECT d, cnt,
        |  cnt - LAG(cnt) OVER (ORDER BY d) AS delta_prev,
        |  LEAD(cnt) OVER (ORDER BY d) - cnt AS delta_next
        |FROM (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS cnt
        |      FROM events GROUP BY 1)""".stripMargin),

    "sql_ntile" -> sqlParity(
      """SELECT d, cnt,
        |  NTILE(4) OVER (ORDER BY cnt, d) AS quartile
        |FROM (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS cnt
        |      FROM events GROUP BY 1)""".stripMargin),

    // String-function surface (§2.8 tier B) — dialect-neutral forms.
    "sql_string_funcs" -> sqlParity(
      """SELECT event_type,
        |  UPPER(event_type) AS up,
        |  SUBSTR(event_type, 1, 3) AS pre,
        |  REPLACE(event_type, 'e', '3') AS repl,
        |  CAST(LENGTH(event_type) AS BIGINT) AS len,
        |  event_type || ':' || CAST(COUNT(*) AS STRING) AS tagged
        |FROM events GROUP BY event_type""".stripMargin),

    // 7-day moving average over the daily series (window frame).
    "sql_moving_avg" -> sqlParity(
      """SELECT d, cnt,
        |  AVG(cnt) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |    AS ma7
        |FROM (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS cnt
        |      FROM events GROUP BY 1)""".stripMargin),

    // users with no activity on a specific day — nonzero at every SF
    "sql_except" -> sqlParity(
      """SELECT DISTINCT user_id FROM events
        |EXCEPT
        |SELECT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'""".stripMargin),

    "sql_rollup" -> sqlParity(
      """SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events
        |GROUP BY ROLLUP (event_type, d)""".stripMargin),

    "sql_exists_subquery" -> sqlParity(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)""".stripMargin),

    // CUBE: all four grouping combinations in one pass. Null sort
    // order differs between the engines' defaults, so the ORDER BY
    // pins NULLS FIRST explicitly.
    "sql_cube" -> sqlParity(
      """SELECT event_type, user_id % 5 AS cohort,
        | CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events GROUP BY CUBE(event_type, user_id % 5)
        |ORDER BY event_type NULLS FIRST, cohort NULLS FIRST""".stripMargin),

    // EXCEPT ALL: bag difference (duplicates preserved), the set-op
    // the plain EXCEPT query can't exercise.
    "sql_except_all" -> sqlParity(
      """SELECT event_type FROM events WHERE user_id % 2 = 0
        |EXCEPT ALL
        |SELECT event_type FROM events WHERE user_id % 3 = 0""".stripMargin),

    // Rank-family windows over an aggregate: percent_rank + cume_dist
    // are exact rationals over small integers on both engines.
    "sql_percent_rank" -> sqlParity(
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
        | percent_rank() OVER (ORDER BY COUNT(*), event_type) AS pr,
        | CAST(cume_dist() OVER (ORDER BY COUNT(*), event_type) AS DOUBLE) AS cd
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // SQL:2003 aggregate FILTER clause + mixed DISTINCT aggregate in
    // one grouping — both engines parse the standard syntax verbatim.
    "sql_filter_clause" -> sqlParity(
      """SELECT event_type,
        | CAST(COUNT(*) FILTER (WHERE value > 0.5) AS BIGINT) AS hi_cnt,
        | CAST(COUNT(*) FILTER (WHERE value <= 0.5) AS BIGINT) AS lo_cnt,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Correlated LATERAL derived table — the standard decorrelation
    // surface (Spark plans it as a DomainJoin-rewritten aggregate).
    "sql_lateral" -> sqlParity(
      """SELECT n.n_name, t.cust_cnt FROM nation n,
        | LATERAL (SELECT CAST(COUNT(*) AS BIGINT) AS cust_cnt
        |          FROM customer c WHERE c.c_nationkey = n.n_nationkey) t
        |ORDER BY n.n_name""".stripMargin),

    // VALUES derived table joined against a fact — inline constant
    // relations with a column-aliased row constructor.
    "sql_values_join" -> sqlParity(
      """SELECT v.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events e JOIN (VALUES (0, 'even'), (1, 'odd')) AS v(par, lbl)
        |  ON e.user_id % 2 = v.par
        |GROUP BY v.lbl ORDER BY v.lbl""".stripMargin),

    // Named-window clause (WINDOW w AS …): one definition shared by
    // several over-clauses — both engines parse the SQL:2003 syntax
    // verbatim. (QUALIFY, the other candidate, is a Databricks/DuckDB
    // extension NOT in the OSS Spark 4.1 lexer — excluded by test.)
    "sql_named_window" -> sqlParity(
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
        | CAST(SUM(COUNT(*)) OVER w AS BIGINT) AS running,
        | rank() OVER w AS rnk
        |FROM events GROUP BY event_type
        |WINDOW w AS (ORDER BY COUNT(*), event_type)
        |ORDER BY event_type""".stripMargin),

    // GROUP BY ALL / ORDER BY ALL — the infer-the-keys shorthand both
    // engines added (Spark 3.4+, DuckDB): non-aggregate select items
    // become the grouping key, ALL orders by the full select list.
    "sql_group_by_all" -> sqlParity(
      """SELECT event_type, CAST(ts AS DATE) AS d,
        | CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events GROUP BY ALL ORDER BY ALL""".stripMargin),

    // INTERVAL arithmetic + date_trunc — the calendar constructs,
    // verbatim in both engines (both truncate weeks to Monday).
    "sql_interval_trunc" -> sqlParity(
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
        | CAST(ts + INTERVAL 1 DAY AS DATE) AS d_next,
        | CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events GROUP BY wk, d_next ORDER BY wk, d_next""".stripMargin),

    // TRY_CAST — error-tolerant casts, verbatim in both engines
    // (Spark 3.2+ / DuckDB): the numeric brand suffix parses, the
    // alphabetic type column yields NULL instead of failing the query
    // — the ingestion-hardening construct a messy corpus needs.
    "sql_try_cast" -> sqlParity(
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS cnt,
        | CAST(SUM(TRY_CAST(substr(p_brand, 7) AS BIGINT)) AS BIGINT) AS brand_num,
        | CAST(COUNT(TRY_CAST(p_type AS BIGINT)) AS BIGINT) AS numeric_types
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    // PIVOT — the relational-to-crosstab rotation, verbatim in both
    // engines (Spark 2.4+ FROM ... PIVOT; DuckDB supports the same
    // SQL-standard-ish form alongside its own PIVOT statement). The
    // IN list pins the output columns so the schemas agree exactly.
    // (the inner projection casts to DOUBLE so SUM agrees — DuckDB's
    // SUM(BIGINT) is HUGEINT, the one type the hasher can't compare)
    "sql_pivot" -> sqlParity(
      """SELECT * FROM (SELECT lang, source, CAST(n_chars AS DOUBLE) AS n_chars FROM documents)
        |PIVOT (SUM(n_chars) FOR lang IN ('en', 'de', 'fr'))
        |ORDER BY source""".stripMargin),

    // GROUPING() markers under ROLLUP — the standard way to tell a
    // subtotal row's NULL from a data NULL, verbatim in both engines
    // (explicit INTEGER casts since the native grouping types differ).
    "sql_grouping_fn" -> sqlParity(
      """SELECT lang, source, CAST(GROUPING(lang) AS INTEGER) AS g_lang,
        |  CAST(GROUPING(source) AS INTEGER) AS g_src,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM documents GROUP BY ROLLUP(lang, source)
        |ORDER BY g_lang, g_src, lang, source""".stripMargin),

    // UNPIVOT — the inverse rotation (wide metrics to tall rows),
    // verbatim in both engines (Spark 3.4+, DuckDB).
    "sql_unpivot" -> sqlParity(
      """SELECT * FROM (SELECT doc_id, CAST(n_chars AS BIGINT) AS chars,
        |               CAST(length(text) AS BIGINT) AS bytes FROM documents)
        |UNPIVOT (val FOR metric IN (chars, bytes))
        |ORDER BY doc_id, metric""".stripMargin),
  )

  // ------------------------------------------------------------ similarity

  /** DuckDB double-precision cosine between two 64-dim list columns,
    * matching VectorFunctions.cosine's sequential fold exactly.
    */
  private def duckCosine(a: String, b: String): String =
    s"list_sum([$a[i+1]*$b[i+1] for i in range(64)]) / " +
      s"(sqrt(list_sum([$a[i+1]*$a[i+1] for i in range(64)])) * " +
      s"sqrt(list_sum([$b[i+1]*$b[i+1] for i in range(64)])))"

  /** The SQL twin of `Similarity.autoCells`: IVF cell count ⌈√n⌉
    * clamped to [8, 1024], computed over the same corpus both engines
    * read — sqrt/ceil on an exact integer count are IEEE-identical, so
    * the two engines always pick the same centroid set.
    */
  private val autoCellsSql: String =
    "(SELECT LEAST(1024, GREATEST(8, CAST(ceil(sqrt(COUNT(*))) AS BIGINT))) FROM c)"

  /** Unrolled spherical k-means (Lloyd) refinement of the ⌈√n⌉ entry
    * seed as oracle CTEs — the SQL twin of
    * `Similarity.kmeansCentroids(emb, autoCells, iters)` (the r14
    * entry-tier upgrade: the √n budget fix left the entry centroids as
    * the first-⌈√n⌉ RAW vectors; refined centroids are what the budget
    * buys recall WITH). Expects a CTE `c(vec_id, v)` in scope and
    * yields `kc0` (the NORMALIZED first-⌈√n⌉ seed) through
    * `kc{iters}`: each iteration assigns every vector to its max-dot
    * cell (ties to the smallest c_id — the shared IVF argmax rule),
    * replaces each centroid with its members' NORMALIZED per-dim sum
    * (normalize(sum) ≡ normalize(mean) in exact math, and the Scala
    * side normalizes the sum — mirrored here so the doubles agree
    * bit-for-bit), and keeps the previous centroid for empty cells.
    * Every kcN is MATERIALIZED (read by the next assignment AND the
    * final consumer — the CTE chain rule).
    */
  private def lloydCentCtes(iters: Int): String = {
    val b = new StringBuilder(
      s"""cseed AS (SELECT vec_id AS c_id, v,
         |   sqrt(list_sum([v[i+1]*v[i+1] for i in range(64)])) AS nrm
         |   FROM c WHERE vec_id < $autoCellsSql),
         |kc0 AS MATERIALIZED (SELECT c_id,
         |   CASE WHEN nrm = 0 THEN v ELSE [v[i+1]/nrm for i in range(64)] END AS cv
         |   FROM cseed)""".stripMargin)
    for (r <- 1 to iters) {
      val p = s"kc${r - 1}"
      b ++= s""",
           |ksc$r AS (SELECT c.vec_id, c.v, c_id, list_sum([v[i+1]*cv[i+1] for i in range(64)]) AS cd FROM c, $p),
           |kasg$r AS (SELECT vec_id, v, c_id AS cell FROM (
           |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM ksc$r) WHERE rn = 1),
           |ksum$r AS (SELECT cell, list(sx ORDER BY dim) AS sv FROM (
           |   SELECT cell, t.i AS dim, SUM(v[t.i+1]) AS sx FROM kasg$r, range(64) t(i) GROUP BY 1, 2) GROUP BY 1),
           |knrm$r AS (SELECT cell, sv, sqrt(list_sum([sv[i+1]*sv[i+1] for i in range(64)])) AS nrm FROM ksum$r),
           |kc$r AS MATERIALIZED (SELECT p.c_id,
           |   CASE WHEN n.cell IS NULL THEN p.cv WHEN n.nrm = 0 THEN n.sv
           |        ELSE [n.sv[i+1]/n.nrm for i in range(64)] END AS cv
           |   FROM $p p LEFT JOIN knrm$r n ON p.c_id = n.cell)""".stripMargin
    }
    b.toString
  }

  /** The Lloyd iteration count every graph-family entry tier declares
    * (and [[lloydCentCtes]] unrolls) — one constant so the Spark side,
    * the oracle side, and the Scaladoc can never disagree. ONE
    * iteration is the knee the r14 serving-config sweep measured at
    * sf0.1 (COVERAGE.md, "Lloyd-refined entry centroids"): serving
    * recall@10 avg/min 0.81/0.60 (raw seed) → 0.90/0.70 with the
    * beam-20/rounds-4/probe-3 walk, while iteration 2 measured equal
    * recall and iteration 3 slightly worse (over-fitting the seed's
    * id-order to cell shapes the walk never exploits); refinement also
    * CUTS build wall ~30% by de-skewing the seeding join's hot cells.
    */
  private val GraphLloydIters = 1

  /** Oracle for the at-rest IVF pair (`sim_topk_ivf_atrest` and its
    * serve-only split): Lloyd-refined ⌈√n⌉ cells, top-1 assignment,
    * probe-3 query fan-out, cosine rank — identical whether the index
    * was written this pass or found standing, which is exactly the
    * serve split's correctness claim.
    */
  private lazy val ivfAtRestOracle: String =
    s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
       |${lloydCentCtes(GraphLloydIters)},
       |cent AS (SELECT c_id, cv FROM kc$GraphLloydIters),
       |scored AS (SELECT c.vec_id, c.v, c_id,
       |   ${"list_sum([v[i+1]*cv[i+1] for i in range(64)])"} AS cd FROM c, cent),
       |assign AS (SELECT vec_id, v, c_id AS cell FROM (
       |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM scored)
       |   WHERE rn = 1),
       |qprobe AS (SELECT vec_id AS q_id, v AS qv, c_id AS cell FROM (
       |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn
       |   FROM scored WHERE vec_id < 10)
       |   WHERE rn <= 3),
       |s AS (SELECT q_id, vec_id, ${duckCosine("qv", "av")} AS cos_sim FROM (
       |      SELECT q.q_id, a.vec_id, q.qv, a.v AS av
       |      FROM qprobe q JOIN assign a USING (cell) WHERE a.vec_id <> q.q_id))
       |SELECT q_id, vec_id, cos_sim, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
       |WHERE rn <= 10""".stripMargin

  /** Unrolled NN-Descent (Dong et al. WWW'11) as oracle CTEs — the
    * SQL twin of `Similarity.knnGraph(emb, cent(vec_id<autoCells), k,
    * rounds)`:
    * capped per-cell seeding, then per round the symmetric closure,
    * the id-ordered cap-2k incident lists, the middle-node wedge
    * self-join, a fresh cosine score (same double fold), keep-best
    * top-k. Every eN is MATERIALIZED (read by symN+1 and uN+1 — the
    * chain rule). Yields the final edge table as `vec_id, nb_id,
    * cos_sim, rn`.
    */
  private def knnGraphOracle(k: Int, rounds: Int,
                             lloyd: Int = GraphLloydIters,
                             corpusWhere: String = ""): String = {
    val cap = 2 * k
    val w = if (corpusWhere.isEmpty) "" else s" WHERE $corpusWhere"
    val b = new StringBuilder(
      s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings$w),
         |${lloydCentCtes(lloyd)},
         |cent AS (SELECT c_id, cv FROM kc$lloyd),
         |sc AS (SELECT c.vec_id, c.v, c_id, list_sum([v[i+1]*cv[i+1] for i in range(64)]) AS cd FROM c, cent),
         |asg AS (SELECT vec_id, v, c_id AS cell FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM sc) WHERE rn <= 2),
         |hcell AS (SELECT vec_id, v, c_id AS cell FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM sc) WHERE rn = 1),
         |heads AS (SELECT cell, vec_id AS dst, v AS dv FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS hr FROM hcell) WHERE hr <= $cap),
         |i0 AS (SELECT DISTINCT a.vec_id AS src, h.dst, ${duckCosine("a.v", "h.dv")} AS cos_sim
         |       FROM asg a JOIN heads h USING (cell) WHERE a.vec_id <> h.dst),
         |e0 AS MATERIALIZED (SELECT src, dst, cos_sim FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn FROM i0) WHERE rn <= $k)""".stripMargin)
    for (r <- 1 to rounds) {
      val p = s"e${r - 1}"
      b ++= s""",
               |sym$r AS (SELECT src, dst, cos_sim FROM $p UNION SELECT dst, src, cos_sim FROM $p),
               |cap$r AS (SELECT src AS mid, dst FROM (
               |   SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS cr FROM sym$r) WHERE cr <= $cap),
               |cd$r AS (SELECT DISTINCT w1.dst AS src, w2.dst AS dst
               |         FROM cap$r w1 JOIN cap$r w2 ON w1.mid = w2.mid AND w1.dst <> w2.dst),
               |sc$r AS (SELECT t.src, t.dst, ${duckCosine("a.v", "b.v")} AS cos_sim
               |         FROM cd$r t JOIN c a ON a.vec_id = t.src JOIN c b ON b.vec_id = t.dst),
               |u$r AS (SELECT DISTINCT * FROM (SELECT * FROM sc$r UNION ALL SELECT * FROM $p)),
               |e$r AS MATERIALIZED (SELECT src, dst, cos_sim FROM (
               |   SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn FROM u$r) WHERE rn <= $k)""".stripMargin
    }
    b ++= s"""
             |SELECT src AS vec_id, dst AS nb_id, cos_sim,
             |  ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn
             |FROM e$rounds""".stripMargin
    b.toString
  }

  /** Unrolled greedy best-first graph search as oracle CTEs — the SQL
    * twin of `Similarity.graphTopKAtRest` over a
    * `graphWriteAtRest(emb, cent(vec_id<autoCells), k, gRounds)` layout:
    * adjacency = the [[knnGraphOracle]] edge table; each query enters
    * at its top-1 cell's first `beam` heads (the stored head rule),
    * then `sRounds` rounds of expand-top-beam-through-adjacency,
    * score, set-union. Every rank is (cos DESC, id), every cosine the
    * same double fold, so the walk replays bit-identically; the
    * at-rest form's correctness claim is exactly that bucket-pruned
    * stored reads reproduce this unpruned recomputation.
    */
  private def graphSearchOracle(k: Int, gRounds: Int, beam: Int,
                                sRounds: Int,
                                entryProbe: Int = 1,
                                lloyd: Int = GraphLloydIters): String = {
    val b = new StringBuilder(
      s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
         |adj AS MATERIALIZED (SELECT vec_id AS src, nb_id AS dst FROM (${knnGraphOracle(k, gRounds, lloyd)})),
         |${lloydCentCtes(lloyd)},
         |cent AS (SELECT c_id, cv FROM kc$lloyd),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10),
         |qsc AS (SELECT q_id, c_id, list_sum([qv[i+1]*cv[i+1] for i in range(64)]) AS cd FROM q, cent),
         |qcell AS (SELECT q_id, c_id AS cell FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cd DESC, c_id) AS rn FROM qsc) WHERE rn <= $entryProbe),
         |csc AS (SELECT c.vec_id, c_id, list_sum([v[i+1]*cv[i+1] for i in range(64)]) AS cd FROM c, cent),
         |hcell AS (SELECT vec_id, c_id AS cell FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM csc) WHERE rn = 1),
         |heads AS (SELECT cell, vec_id FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS hr FROM hcell) WHERE hr <= $beam),
         |v0 AS MATERIALIZED (SELECT DISTINCT qc.q_id, h.vec_id, ${duckCosine("x.v", "q.qv")} AS cos_sim
         |   FROM qcell qc JOIN heads h USING (cell) JOIN c x ON x.vec_id = h.vec_id
         |   JOIN q ON q.q_id = qc.q_id WHERE h.vec_id <> qc.q_id)""".stripMargin)
    for (r <- 1 to sRounds) {
      val p = s"v${r - 1}"
      b ++= s""",
               |f$r AS (SELECT q_id, vec_id FROM (
               |   SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM $p) WHERE rn <= $beam),
               |nb$r AS (SELECT DISTINCT f.q_id, a.dst AS vec_id
               |   FROM f$r f JOIN adj a ON a.src = f.vec_id WHERE a.dst <> f.q_id),
               |sc$r AS (SELECT n.q_id, n.vec_id, ${duckCosine("x.v", "q.qv")} AS cos_sim
               |   FROM nb$r n JOIN c x ON x.vec_id = n.vec_id JOIN q ON q.q_id = n.q_id),
               |v$r AS MATERIALIZED (SELECT DISTINCT * FROM (SELECT * FROM $p UNION ALL SELECT * FROM sc$r))""".stripMargin
    }
    b ++= s"""
             |SELECT q_id, vec_id, cos_sim, rn FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM v$sRounds)
             |WHERE rn <= $k""".stripMargin
    b.toString
  }

  /** One unrolled greedy walk as PREFIX-NAMED oracle CTEs, so two
    * walks can live in one WITH scope (the append oracle runs the
    * insertion walk and the serve walk back to back). Expects in
    * scope: `cent(c_id, cv)` — the entry centroids; `$qRel(q_id, qv)`
    * — the query table; `$headsRel(cell, vec_id)` — the entry heads;
    * `$scoreRel(vec_id, v)` — the relation candidate vectors are
    * scored from; `$adjRel(src, dst)` — the adjacency. Yields
    * `${p}ans(q_id, vec_id, cos_sim, rn)`, the per-query top-`k`.
    * Round structure, ranks, and tie-breaks mirror
    * [[graphSearchOracle]] (and therefore `graphTopKAtRest`) exactly.
    */
  private def graphWalkCtes(p: String, qRel: String, scoreRel: String,
                            adjRel: String, headsRel: String,
                            beam: Int, sRounds: Int, k: Int,
                            entryProbe: Int): String = {
    val b = new StringBuilder(
      s"""${p}qsc AS (SELECT q_id, c_id, list_sum([qv[i+1]*cv[i+1] for i in range(64)]) AS cd FROM $qRel, cent),
         |${p}qcell AS (SELECT q_id, c_id AS cell FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cd DESC, c_id) AS rn FROM ${p}qsc) WHERE rn <= $entryProbe),
         |${p}v0 AS MATERIALIZED (SELECT DISTINCT qc.q_id, h.vec_id, ${duckCosine("x.v", "q.qv")} AS cos_sim
         |   FROM ${p}qcell qc JOIN $headsRel h USING (cell) JOIN $scoreRel x ON x.vec_id = h.vec_id
         |   JOIN $qRel q ON q.q_id = qc.q_id WHERE h.vec_id <> qc.q_id)""".stripMargin)
    for (r <- 1 to sRounds) {
      val prev = s"${p}v${r - 1}"
      b ++= s""",
               |${p}f$r AS (SELECT q_id, vec_id FROM (
               |   SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM $prev) WHERE rn <= $beam),
               |${p}nb$r AS (SELECT DISTINCT f.q_id, a.dst AS vec_id
               |   FROM ${p}f$r f JOIN $adjRel a ON a.src = f.vec_id WHERE a.dst <> f.q_id),
               |${p}sc$r AS (SELECT n.q_id, n.vec_id, ${duckCosine("x.v", "q.qv")} AS cos_sim
               |   FROM ${p}nb$r n JOIN $scoreRel x ON x.vec_id = n.vec_id JOIN $qRel q ON q.q_id = n.q_id),
               |${p}v$r AS MATERIALIZED (SELECT DISTINCT * FROM (SELECT * FROM $prev UNION ALL SELECT * FROM ${p}sc$r))""".stripMargin
    }
    b ++= s""",
             |${p}ans AS MATERIALIZED (SELECT q_id, vec_id, cos_sim, rn FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM ${p}v$sRounds)
             |  WHERE rn <= $k)""".stripMargin
    b.toString
  }

  /** The SQL twin of the graph APPEND lifecycle (`graphWriteAtRest` on
    * the 4/5 base + `graphAppendDelta` of the rest + the serve walk on
    * the grown graph), yielding the serve walk's top-10 from `sans`:
    *  - base corpus `c` = vec_id % 5 <> 0, entry centroids and heads
    *    trained/ranked on the BASE (append never touches them);
    *  - base adjacency = the unrolled NN-Descent over the base;
    *  - insertion walk `i…`: each delta node (query from the FULL
    *    relation) walks the BASE graph scoring BASE nodes — top
    *    build-k = its neighbors;
    *  - grown adjacency = base ∪ forward (delta→nb) ∪ reverse
    *    (nb→delta), the append-only reverse-edge rule;
    *  - serve walk `s…` over the grown adjacency scoring the FULL
    *    relation (inserted nodes are findable), entries still base.
    * Every rank is (cos DESC, id) and every cosine the same double
    * fold, so the whole lifecycle replays bit-identically.
    */
  private def graphAppendWalkCtes(k: Int, gRounds: Int, beam: Int,
                                  sRounds: Int, entryProbe: Int,
                                  lloyd: Int = GraphLloydIters): String = {
    val baseW = "vec_id % 5 <> 0"
    // adjb's nested query carries its own MATERIALIZED kc CTEs; DuckDB
    // rejects a MATERIALIZED alias shadowing an outer one already in
    // scope, so the nested subquery must precede the outer lloyd CTEs
    s"""WITH call AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
       |adjb AS MATERIALIZED (SELECT vec_id AS src, nb_id AS dst FROM (${knnGraphOracle(k, gRounds, lloyd, baseW)})),
       |c AS (SELECT vec_id, v FROM call WHERE $baseW),
       |${lloydCentCtes(lloyd)},
       |cent AS (SELECT c_id, cv FROM kc$lloyd),
       |csc AS (SELECT c.vec_id, c_id, list_sum([v[i+1]*cv[i+1] for i in range(64)]) AS cd FROM c, cent),
       |hcell AS (SELECT vec_id, c_id AS cell FROM (
       |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM csc) WHERE rn = 1),
       |heads0 AS (SELECT cell, vec_id FROM (
       |   SELECT *, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS hr FROM hcell) WHERE hr <= $beam),
       |insq AS (SELECT vec_id AS q_id, v AS qv FROM call WHERE vec_id % 5 = 0),
       |${graphWalkCtes("i", "insq", "c", "adjb", "heads0", beam, sRounds, k, entryProbe)},
       |adjg AS MATERIALIZED (
       |  SELECT src, dst FROM adjb
       |  UNION ALL SELECT q_id AS src, vec_id AS dst FROM ians
       |  UNION ALL SELECT vec_id AS src, q_id AS dst FROM ians),
       |srvq AS (SELECT vec_id AS q_id, v AS qv FROM call WHERE vec_id < 10),
       |${graphWalkCtes("s", "srvq", "call", "adjg", "heads0", beam, sRounds, 10, entryProbe)}""".stripMargin
  }

  /** Unrolled MMR (Carbonell & Goldstein 1998) as oracle CTEs — the
    * SQL twin of `Similarity.mmrSelect(corpus = emb except q, query =
    * vec 0, m, λ)`. Running redundancy red = incremental greatest
    * chain (max-associativity makes it equal Spark's one greatest over
    * all picked); every float literal is CAST to DOUBLE so DuckDB's
    * default DECIMAL literal arithmetic can never produce an exact 0.3
    * where the JVM holds 0.30000000000000004.
    */
  private def mmrOracle(m: Int, lambda: Double): String = {
    val lam = s"CAST($lambda AS DOUBLE)"
    val oml = s"(CAST(1.0 AS DOUBLE) - CAST($lambda AS DOUBLE))"
    val b = new StringBuilder(
      s"""WITH c0 AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM c0 WHERE vec_id = 0),
         |c AS (SELECT vec_id, v, ${duckCosine("v", "qv")} AS rel FROM c0, q WHERE vec_id <> 0),
         |s1 AS MATERIALIZED (SELECT vec_id, v, rel, CAST(0.0 AS DOUBLE) AS red FROM c),
         |p1 AS (SELECT vec_id, v, $lam * rel - $oml * red AS score FROM s1
         |       ORDER BY $lam * rel - $oml * red DESC, vec_id LIMIT 1)""".stripMargin)
    for (i <- 2 to m) {
      // round 2 starts the red chain from the plain cosine (no prior
      // pick exists — a greatest with the 0.0 seed would CLAMP
      // negative redundancy, which Spark's max-over-picked never does)
      val red =
        if (i == 2) duckCosine("t.v", "p1.v")
        else s"greatest(t.red, ${duckCosine("t.v", s"p${i - 1}.v")})"
      b ++= s""",
               |s$i AS MATERIALIZED (SELECT t.vec_id, t.v, t.rel, $red AS red
               |  FROM s${i - 1} t, p${i - 1} WHERE t.vec_id <> p${i - 1}.vec_id),
               |p$i AS (SELECT vec_id, v, $lam * rel - $oml * red AS score FROM s$i
               |        ORDER BY $lam * rel - $oml * red DESC, vec_id LIMIT 1)""".stripMargin
    }
    b ++= s"\nSELECT CAST(1 AS BIGINT) AS sel_round, vec_id, score AS mmr_score FROM p1"
    for (i <- 2 to m)
      b ++= s"\nUNION ALL SELECT CAST($i AS BIGINT), vec_id, score FROM p$i"
    b.toString
  }

  /** Unrolled greedy k-center (Gonzalez) as oracle CTEs: seed p1 =
    * smallest vec_id; each round i keeps a running min-distance table
    * mᵢ (incremental `least(prev, 1 − cos)` — MATERIALIZED, since mᵢ
    * is read by both pᵢ₊₁ and mᵢ₊₁ and DuckDB's default inlining is
    * exponential on such chains) and picks the farthest survivor,
    * ties to the smallest vec_id. The SQL twin of
    * `Similarity.kcenterSelect(emb, m)`.
    */
  private def kcenterOracle(m: Int): String = {
    val b = new StringBuilder(
      "WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),\n" +
        "p1 AS (SELECT vec_id, v FROM c ORDER BY vec_id LIMIT 1),\n" +
        s"m1 AS MATERIALIZED (SELECT c.vec_id, c.v, 1.0 - ${duckCosine("c.v", "p1.v")} AS mind\n" +
        "  FROM c, p1 WHERE c.vec_id <> p1.vec_id)")
    for (i <- 2 to m) {
      val prev = s"m${i - 1}"
      b ++= s""",
               |p$i AS (SELECT vec_id, v, mind FROM $prev ORDER BY mind DESC, vec_id LIMIT 1),
               |m$i AS MATERIALIZED (SELECT t.vec_id, t.v, least(t.mind, 1.0 - ${duckCosine("t.v", s"p$i.v")}) AS mind
               |  FROM $prev t, p$i WHERE t.vec_id <> p$i.vec_id)""".stripMargin
    }
    b ++= "\nSELECT CAST(1 AS BIGINT) AS sel_round, vec_id, CAST(NULL AS DOUBLE) AS dist FROM p1"
    for (i <- 2 to m)
      b ++= s"\nUNION ALL SELECT CAST($i AS BIGINT), vec_id, mind FROM p$i"
    b.toString
  }

  /** Unrolled two-iteration per-subspace Lloyd training of the PQ
    * codebooks (16 subspaces × 4 dims × 16 codes) as oracle CTEs —
    * the SQL twin of `Similarity.pqTrainBooks(…, m = 16, iters = 2)`.
    * Expects a CTE `c(vec_id, v)` in scope; yields `sub` (the
    * sub-vector table), `b0`…`b2` (the codebook per iteration, empty
    * cells inheriting the previous entry), and
    * `codes(m, vec_id, c_id, d2)` — the min-L2 assignment under the
    * TRAINED books with its per-subspace reconstruction error, ties
    * to the smallest code id exactly as the Spark side's array_sort.
    */
  /** The trained-IVFPQ top-k oracle shared VERBATIM by
    * `sim_topk_ivfpq` (scan-time) and `sim_topk_ivfpq_atrest` (the
    * stored-codes layout): the at-rest form's correctness claim is
    * exactly that partition pruning + stored codes reproduce the
    * scan-time result bit for bit, so one oracle gates both.
    */
  private lazy val ivfPqTopKOracle: String =
    s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
       |$pqTrainCtes,
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM c WHERE vec_id < $autoCellsSql),
       |cellscore AS (SELECT c.vec_id, c.v, c_id,
       |   list_sum([v[i+1]*cv[i+1] for i in range(64)]) AS cd FROM c, cent),
       |assign AS (SELECT vec_id, c_id AS cell FROM (
       |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM cellscore) WHERE rn = 1),
       |qprobe AS (SELECT vec_id AS q_id, c_id AS cell FROM (
       |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn
       |   FROM cellscore WHERE vec_id < 10) WHERE rn <= 2),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10),
       |parts AS (SELECT qp.q_id, a.vec_id, cd.m,
       |   list_sum([qv[4*cd.m+i+1]*b.cv[i+1] for i in range(4)]) AS part
       |  FROM qprobe qp JOIN assign a USING (cell)
       |    JOIN codes cd ON cd.vec_id = a.vec_id
       |    JOIN b2 b ON b.m = cd.m AND b.c_id = cd.c_id
       |    JOIN q ON q.q_id = qp.q_id
       |  WHERE a.vec_id <> qp.q_id),
       |s2 AS (SELECT q_id, vec_id, list_sum(list(part ORDER BY m)) AS approx_dot
       |  FROM parts GROUP BY 1, 2)
       |SELECT q_id, vec_id, approx_dot, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx_dot DESC, vec_id) AS rn FROM s2)
       |WHERE rn <= 10""".stripMargin

  private lazy val pqTrainCtes: String =
    pqTrainCtesOn("c", "vec_id", "vec_id < 16")

  /** [[pqTrainCtes]] parameterized on its training relation and seed
    * window — the residual twin trains on `resid` with codes seeded
    * from the first 16 rows BEYOND the centroid id range (renumbered
    * dense; see `Similarity.pqTrainBooksResidual`: the first rows ARE
    * the raw-seed centroids, so their residuals are ≈ 0 and seeding
    * from them degenerates every codebook).
    */
  private def pqTrainCtesOn(src: String, seedSel: String,
                            seedWhere: String): String = {
    val d2 = "list_sum([(s.sv[i+1]-b.cv[i+1])*(s.sv[i+1]-b.cv[i+1]) for i in range(4)])"
    def assign(out: String, book: String) =
      s"""$out AS (SELECT m, vec_id, sv, c_id FROM (
         |   SELECT s.m, s.vec_id, s.sv, b.c_id,
         |     ROW_NUMBER() OVER (PARTITION BY s.m, s.vec_id ORDER BY $d2 ASC, b.c_id ASC) AS rn
         |   FROM sub s JOIN $book b USING (m)) WHERE rn = 1)""".stripMargin
    def meanStep(out: String, a: String, prev: String, next: String) =
      s"""$out AS (SELECT m, c_id, list(mx ORDER BY dim) AS cv FROM (
         |   SELECT m, c_id, t.i AS dim, SUM(sv[t.i+1]) / COUNT(*) AS mx
         |   FROM $a, range(4) t(i) GROUP BY 1, 2, 3) GROUP BY 1, 2),
         |$next AS (SELECT $prev.m, $prev.c_id, COALESCE($out.cv, $prev.cv) AS cv
         |   FROM $prev LEFT JOIN $out ON $prev.m = $out.m AND $prev.c_id = $out.c_id)""".stripMargin
    s"""sub AS (SELECT t.m, vec_id, [v[4*t.m+i+1] for i in range(4)] AS sv FROM $src, range(16) t(m)),
       |b0 AS (SELECT m, $seedSel AS c_id, sv AS cv FROM sub WHERE $seedWhere),
       |${assign("a1", "b0")},
       |${meanStep("m1", "a1", "b0", "b1")},
       |${assign("a2", "b1")},
       |${meanStep("m2", "a2", "b1", "b2")},
       |codes AS (SELECT m, vec_id, c_id, d2 FROM (
       |   SELECT s.m, s.vec_id, b.c_id, $d2 AS d2,
       |     ROW_NUMBER() OVER (PARTITION BY s.m, s.vec_id ORDER BY $d2 ASC, b.c_id ASC) AS rn
       |   FROM sub s JOIN b2 b USING (m)) WHERE rn = 1)""".stripMargin
  }

  /** The residual-IVFPQ top-k oracle (`sim_topk_ivfpq_residual`):
    * FAISS's quantize-the-residual recipe replayed in SQL — residuals
    * under the assigned cell, PQ training on them (seed window beyond
    * the centroid range), and the asymmetric score as EXACT q·c(x)
    * plus the decoded-residual dot (`MIN(cd)` is the constant coarse
    * term of the (q, vec) group; `+ list_sum(... ORDER BY m)` is the
    * Spark side's cd + left-fold, same IEEE order).
    */
  private lazy val ivfPqResidualTopKOracle: String =
    s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM c WHERE vec_id < $autoCellsSql),
       |cellscore AS (SELECT c.vec_id, c.v, c_id,
       |   list_sum([v[i+1]*cv[i+1] for i in range(64)]) AS cd FROM c, cent),
       |assign AS (SELECT vec_id, c_id AS cell FROM (
       |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM cellscore) WHERE rn = 1),
       |resid AS (SELECT c.vec_id, [c.v[i+1] - ct.cv[i+1] for i in range(64)] AS v
       |   FROM c JOIN assign a ON c.vec_id = a.vec_id JOIN cent ct ON ct.c_id = a.cell),
       |${pqTrainCtesOn("resid", s"vec_id - $autoCellsSql",
            s"vec_id >= $autoCellsSql AND vec_id < $autoCellsSql + 16")},
       |qprobe AS (SELECT vec_id AS q_id, c_id AS cell, cd FROM (
       |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn
       |   FROM cellscore WHERE vec_id < 10) WHERE rn <= 2),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10),
       |parts AS (SELECT qp.q_id, a.vec_id, qp.cd, cd2.m,
       |   list_sum([qv[4*cd2.m+i+1]*b.cv[i+1] for i in range(4)]) AS part
       |  FROM qprobe qp JOIN assign a USING (cell)
       |    JOIN codes cd2 ON cd2.vec_id = a.vec_id
       |    JOIN b2 b ON b.m = cd2.m AND b.c_id = cd2.c_id
       |    JOIN q ON q.q_id = qp.q_id
       |  WHERE a.vec_id <> qp.q_id),
       |s2 AS (SELECT q_id, vec_id, MIN(cd) + list_sum(list(part ORDER BY m)) AS approx_dot
       |  FROM parts GROUP BY 1, 2)
       |SELECT q_id, vec_id, approx_dot, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx_dot DESC, vec_id) AS rn FROM s2)
       |WHERE rn <= 10""".stripMargin

  private val similarity: Seq[(String, Decl)] = Seq(
    "sim_topk_bruteforce" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), 10)
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10),
              |s AS (SELECT q_id, vec_id, ${duckCosine("qv", "v")} AS cos_sim
              |      FROM c, q WHERE vec_id <> q_id)
              |SELECT q_id, vec_id, cos_sim, rn FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
              |WHERE rn <= 10""".stripMargin)),

    // NN-Descent k-NN graph (Dong et al. WWW'11): top-2-cell seeding
    // improved by three local-join rounds — the batch form of the
    // graph every modern ANN serving index (HNSW et al.) builds. The
    // graph is OVER-BUILT at k=10 (the standard NND practice: the
    // deeper lists are the bridges that make the local join converge;
    // serving truncates to what it needs — recall@5 over the top half
    // measures 0.81 on this corpus vs 0.24 building at k=5 directly).
    // Fixed-round unroll, every stage rank-gated and re-scored with
    // the shared double fold, so the oracle reproduces it exactly.
    "sim_knn_graph" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.knnGraph(e,
          Similarity.lloydCentroidDf(e, autoCellsFor(s, d),
            GraphLloydIters), 10, 3)
      },
      Some(knnGraphOracle(10, 3))),

    // Recall@5 of the 3-round NN-Descent graph's top-5 slice against
    // the exact brute-force neighbor truth, per node — the quality
    // table that says when another descent round is worth its wedge
    // join.
    "sim_knn_graph_recall" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val e = emb(s, d)
        val truth = Similarity.bruteForceTopK(e, e, 5)
          .select(col("q_id").as("vec_id"), col("vec_id").as("nb_id"))
        val approx = Similarity.knnGraph(e,
            Similarity.lloydCentroidDf(e, autoCellsFor(s, d),
              GraphLloydIters), 10, 3)
          .filter(col("rn") <= 5)
          .select(col("vec_id"), col("nb_id"), lit(1).as("hit"))
        truth.join(approx, Seq("vec_id", "nb_id"), "left")
          .groupBy(col("vec_id"))
          .agg(count(lit(1)).as("k"), count(col("hit")).as("hits"))
          .withColumn("recall_at_k", col("hits").cast("double") / col("k"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH bs AS (SELECT a.vec_id, b.vec_id AS nb_id, ${duckCosine("a.v", "b.v")} AS cos_sim
              |      FROM (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings) a
              |      JOIN (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings) b
              |        ON a.vec_id <> b.vec_id),
              |truth AS (SELECT vec_id, nb_id FROM (
              |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nb_id) AS rn FROM bs)
              |   WHERE rn <= 5),
              |approx AS (SELECT vec_id, nb_id FROM (${knnGraphOracle(10, 3)}) WHERE rn <= 5)
              |SELECT t.vec_id, CAST(COUNT(*) AS BIGINT) AS k,
              |  CAST(COUNT(a.nb_id) AS BIGINT) AS hits,
              |  CAST(COUNT(a.nb_id) AS DOUBLE) / COUNT(*) AS recall_at_k
              |FROM truth t LEFT JOIN approx a
              |  ON t.vec_id = a.vec_id AND t.nb_id = a.nb_id
              |GROUP BY t.vec_id ORDER BY t.vec_id""".stripMargin)),

    // Serving from the NN-Descent graph — the vector-store capstone:
    // the k-NN graph, the node vectors, and the per-cell entry heads
    // are materialized AT REST (bucket-partitioned parquet), then a
    // fixed-round greedy best-first walk answers the query batch by
    // bucket-pruned reads alone — the corpus relation is never
    // scanned (plan-pinned in PlanShapeSpec). The oracle replays the
    // identical walk over the unrolled NN-Descent edge table.
    // Declared serving config (measured by the r14 serving-config
    // sweep, COVERAGE.md "Lloyd-refined entry centroids"): ⌈√n⌉ entry
    // cells refined by ONE Lloyd iteration (raw first-⌈√n⌉ seeds were
    // the r13 residual: recall@10 0.81 avg / 0.60 min at sf0.1), the
    // FULL stored 20-head beam (beam 16 left the last 4 heads of every
    // probed cell unused — the cheapest recall on the table), 4
    // expansion rounds, 3 entry cells. Measured at sf0.1: avg 0.90 /
    // min 0.70 (the r13 verdict gate); rounds=5 buys +0.01 for ~15%
    // more serve wall, centroid-nearest entry heads measured WORSE on
    // min (0.60 — a central entry set is less diverse), build k=16 and
    // 5 descent rounds bought nothing — each priced and rejected in
    // that sweep.
    "sim_topk_graph" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val cent = Similarity.lloydCentroidDf(e,
          autoCellsFor(s, d), GraphLloydIters)
        val path = s"target/atrest/graph-${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        Similarity.graphWriteAtRest(e, cent, 10, 3, path)
        Similarity.graphTopKAtRest(s, path, e.filter(col("vec_id") < 10),
          cent, beam = 20, rounds = 4, k = 10, entryProbe = 3)
      },
      Some(graphSearchOracle(10, 3, 20, 4, entryProbe = 3))),

    // The WALK priced alone (r13 verdict: one 20 s sim_topk_graph
    // number hid a ~2:1 build:serve split): the layout is built ONCE
    // per (corpus, config) — the path carries the config tag, so a
    // config change can never serve a stale layout — and every later
    // pass/session reuses it; the declared build cost lives in
    // sim_topk_graph, this query's bench number is the serve cost a
    // query batch actually pays against a standing index. Correctness
    // is the SAME oracle as sim_topk_graph: the walk over the
    // deterministic index is identical whether the index was built
    // this pass or found at rest (serving reads the layout's own
    // stored centroid set, bit-identical to retraining).
    "sim_topk_graph_serve" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val cells = autoCellsFor(s, d)
        val path = s"target/atrest/graphsv-${d.replaceAll("[^A-Za-z0-9.]", "_")}" +
          s"-k10g3c${cells}L$GraphLloydIters"
        // complete (cent written last) AND fingerprint-fresh: a corpus
        // regenerated under the same name/row-count rebuilds instead
        // of silently serving stale cells (r14 ADVICE)
        if (!Similarity.indexFresh(s, path, e)) {
          val cent = Similarity.lloydCentroidDf(e, cells, GraphLloydIters)
          Similarity.graphWriteAtRest(e, cent, 10, 3, path)
        }
        Similarity.graphTopKAtRest(s, path, e.filter(col("vec_id") < 10),
          Similarity.graphStoredCentroids(s, path),
          beam = 20, rounds = 4, k = 10, entryProbe = 3)
      },
      Some(graphSearchOracle(10, 3, 20, 4, entryProbe = 3))),

    // Recall@10 of the graph walk against the brute-force truth, per
    // query — what the beam/rounds knobs buy (read next to
    // sim_ivf_recall and sim_knn_graph_recall: index quality vs WALK
    // quality are different losses; a perfect graph still misses when
    // the walk's entry cell is wrong).
    "sim_graph_recall" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val e = emb(s, d)
        val cent = Similarity.lloydCentroidDf(e,
          autoCellsFor(s, d), GraphLloydIters)
        val path =
          s"target/atrest/graphrc-${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        Similarity.graphWriteAtRest(e, cent, 10, 3, path)
        val truth = Similarity
          .bruteForceTopK(e, e.filter(col("vec_id") < 10), 10)
          .select(col("q_id"), col("vec_id"))
        val approx = Similarity
          .graphTopKAtRest(s, path, e.filter(col("vec_id") < 10),
            cent, beam = 20, rounds = 4, k = 10, entryProbe = 3)
          .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
        truth.join(approx, Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("k"), count(col("hit")).as("hits"))
          .withColumn("recall_at_k",
            col("hits").cast("double") / col("k"))
          .orderBy(col("q_id"))
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10),
              |bs AS (SELECT q_id, vec_id, ${duckCosine("qv", "v")} AS cos_sim
              |       FROM c, q WHERE vec_id <> q_id),
              |truth AS (SELECT q_id, vec_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM bs)
              |  WHERE rn <= 10),
              |approx AS (SELECT q_id, vec_id FROM (${graphSearchOracle(10, 3, 20, 4, entryProbe = 3)}))
              |SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS k,
              |  CAST(COUNT(a.vec_id) AS BIGINT) AS hits,
              |  CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS recall_at_k
              |FROM truth t LEFT JOIN approx a
              |  ON t.q_id = a.q_id AND t.vec_id = a.vec_id
              |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin)),

    // The multi-entry hedge priced from below: the declared serving
    // walk entered at ONE cell instead of three (the Lv et al.
    // multi-probe idea applied to graph entry points). Read next to
    // sim_graph_recall: the delta is exactly what the extra entry
    // cells buy against the wrong-entry-cell miss class (a perfect
    // graph cannot recover from a bad entry within a fixed round
    // budget).
    "sim_graph_recall_probe1" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val e = emb(s, d)
        val cent = Similarity.lloydCentroidDf(e,
          autoCellsFor(s, d), GraphLloydIters)
        val path =
          s"target/atrest/graphp1-${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        Similarity.graphWriteAtRest(e, cent, 10, 3, path)
        val truth = Similarity
          .bruteForceTopK(e, e.filter(col("vec_id") < 10), 10)
          .select(col("q_id"), col("vec_id"))
        val approx = Similarity
          .graphTopKAtRest(s, path, e.filter(col("vec_id") < 10),
            cent, beam = 20, rounds = 4, k = 10,
            entryProbe = 1)
          .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
        truth.join(approx, Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("k"), count(col("hit")).as("hits"))
          .withColumn("recall_at_k",
            col("hits").cast("double") / col("k"))
          .orderBy(col("q_id"))
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10),
              |bs AS (SELECT q_id, vec_id, ${duckCosine("qv", "v")} AS cos_sim
              |       FROM c, q WHERE vec_id <> q_id),
              |truth AS (SELECT q_id, vec_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM bs)
              |  WHERE rn <= 10),
              |approx AS (SELECT q_id, vec_id FROM (${graphSearchOracle(10, 3, 20, 4, entryProbe = 1)}))
              |SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS k,
              |  CAST(COUNT(a.vec_id) AS BIGINT) AS hits,
              |  CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS recall_at_k
              |FROM truth t LEFT JOIN approx a
              |  ON t.q_id = a.q_id AND t.vec_id = a.vec_id
              |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin)),

    // Incremental insertion under the oracle gate — the FAISS-`add`
    // story ported to the graph tier (the last serve-tier asymmetry):
    // the graph is built on 4/5 of the corpus, the rest arrives as a
    // delta and is INSERTED by search — each new node walks the
    // existing graph (the same greedy serve walk, pinned to the
    // committed epoch) to find its build-k neighbors, then joins as
    // forward adjacency plus the reverse edges that make it
    // reachable, all at epoch 1 with meta count/fingerprint bumped
    // incrementally. The serve walk over the grown graph then replays
    // bit-identically in the oracle, which unrolls the ENTIRE
    // lifecycle in SQL: base NN-Descent, per-delta insertion walk,
    // append-only reverse edges, serve walk on the union. Unlike the
    // IVF appends there is no fresh-build equivalence to lean on (an
    // inserted graph differs from a re-descended one by construction)
    // — the oracle IS the append algorithm, and the recall audit
    // below prices what insertion costs against the fresh build.
    "sim_topk_graph_append" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val base = e.filter(col("vec_id") % 5 =!= 0)
        val cent = Similarity.lloydCentroidDf(base,
          Similarity.autoCells(base), GraphLloydIters)
        val path = s"target/atrest/graphap-${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        Similarity.graphWriteAtRest(base, cent, 10, 3, path)
        Similarity.graphAppendDelta(e.filter(col("vec_id") % 5 === 0),
          path, beam = 20, rounds = 4, entryProbe = 3)
        require(Similarity.indexFresh(s, path, e),
          "append must leave the graph fresh wrt the grown corpus")
        Similarity.graphTopKAtRest(s, path, e.filter(col("vec_id") < 10),
          Similarity.graphStoredCentroids(s, path),
          beam = 20, rounds = 4, k = 10, entryProbe = 3)
      },
      Some(s"""${graphAppendWalkCtes(10, 3, 20, 4, 3)}
              |SELECT q_id, vec_id, cos_sim, rn FROM sans""".stripMargin)),

    // Recall@10 of the APPENDED graph's walk against the brute-force
    // truth on the grown corpus — the quality gate of the insertion
    // path (read next to sim_graph_recall, the fresh build's number:
    // the delta is what append-only insertion costs in walk quality,
    // measured, not assumed). GraphAppendSpec pins the fresh-build
    // comparison; this row keeps the grown graph's recall under the
    // oracle gate at every SF the driver runs.
    "sim_graph_recall_append" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val e = emb(s, d)
        val base = e.filter(col("vec_id") % 5 =!= 0)
        val cent = Similarity.lloydCentroidDf(base,
          Similarity.autoCells(base), GraphLloydIters)
        val path =
          s"target/atrest/graphapr-${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        Similarity.graphWriteAtRest(base, cent, 10, 3, path)
        Similarity.graphAppendDelta(e.filter(col("vec_id") % 5 === 0),
          path, beam = 20, rounds = 4, entryProbe = 3)
        val truth = Similarity
          .bruteForceTopK(e, e.filter(col("vec_id") < 10), 10)
          .select(col("q_id"), col("vec_id"))
        val approx = Similarity
          .graphTopKAtRest(s, path, e.filter(col("vec_id") < 10),
            Similarity.graphStoredCentroids(s, path),
            beam = 20, rounds = 4, k = 10, entryProbe = 3)
          .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
        truth.join(approx, Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("k"), count(col("hit")).as("hits"))
          .withColumn("recall_at_k",
            col("hits").cast("double") / col("k"))
          .orderBy(col("q_id"))
      },
      Some(s"""${graphAppendWalkCtes(10, 3, 20, 4, 3)},
              |bs AS (SELECT q.q_id, x.vec_id, ${duckCosine("q.qv", "x.v")} AS cos_sim
              |       FROM call x, srvq q WHERE x.vec_id <> q.q_id),
              |truth AS (SELECT q_id, vec_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM bs)
              |  WHERE rn <= 10)
              |SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS k,
              |  CAST(COUNT(a.vec_id) AS BIGINT) AS hits,
              |  CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS recall_at_k
              |FROM truth t LEFT JOIN sans a
              |  ON t.q_id = a.q_id AND t.vec_id = a.vec_id
              |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin)),

    // Maximal Marginal Relevance (Carbonell & Goldstein SIGIR'98):
    // 8 results for query vector 0 balancing relevance against
    // redundancy at λ=0.7 — the diversity-aware retrieval finisher
    // (k-center's dual with a relevance term). Oracle unrolls the
    // same 8 rounds with an incremental greatest() redundancy chain.
    "sim_mmr_select" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.mmrSelect(e.filter(col("vec_id") =!= 0),
          e.filter(col("vec_id") === 0), 8, 0.7)
      },
      Some(mmrOracle(8, 0.7))),

    // Greedy k-center / farthest-point coreset selection (Gonzalez
    // 1985): 8 maximally-spread representatives in cosine distance,
    // each row carrying the coverage radius of the set before it —
    // the diversity-selection diagnostic. The oracle unrolls the same
    // 8 rounds as MATERIALIZED CTEs with an incremental least() chain;
    // min-associativity + the monotone 1−s rounding make the two
    // engines' argmax (and every tie) bit-identical.
    "sim_kcenter_select" -> Decl(
      (s, d) => Similarity.kcenterSelect(emb(s, d), 8),
      Some(kcenterOracle(8))),

    // k-center over the at-rest IVF layout with EXACT triangle-
    // inequality cell pruning (ball-tree bounds on the cell
    // directories): bit-identical to sim_kcenter_select — the SAME
    // oracle gates both, which is precisely the claim (pruned cells
    // provably hold neither the argmax nor any tie).
    "sim_kcenter_atrest" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        // cells stay at the FIXED 8 here on measurement: selection
        // results are exact at ANY cell count (only pruning
        // granularity changes), and 45 cells cost 4.6 -> 11.7 s at
        // sf0.1 in round-trip file overhead with no recorded scale
        // curve to justify it — unlike the ANN tier, where autoCells
        // buys recall AND an 8x smaller probed fraction
        val path = s"target/atrest/kc-${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        Similarity.ivfWriteAtRest(e, e.filter(col("vec_id") < 8), path)
        Similarity.ivfWriteCellStats(s, path, e.filter(col("vec_id") < 8))
        Similarity.kcenterSelectAtRest(s, path, e.filter(col("vec_id") < 8), 8)
      },
      Some(kcenterOracle(8))),

    // MMR over the same layout: relevance upper bound + redundancy
    // lower bound per cell, same exactness argument, same oracle as
    // sim_mmr_select.
    "sim_mmr_atrest" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val path = s"target/atrest/mmr-${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        val corpus = e.filter(col("vec_id") =!= 0)
        Similarity.ivfWriteAtRest(corpus, e.filter(col("vec_id") < 8), path)
        Similarity.ivfWriteCellStats(s, path, e.filter(col("vec_id") < 8))
        Similarity.mmrSelectAtRest(s, path, e.filter(col("vec_id") === 0),
          e.filter(col("vec_id") < 8), 8, 0.7)
      },
      Some(mmrOracle(8, 0.7))),

    "sim_neardup_cosine" -> Decl(
      (s, d) => Similarity.nearDupPairs(emb(s, d), 0.35),
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${duckCosine("a.v", "b.v")} AS cos_sim
              |FROM c a JOIN c b ON a.vec_id < b.vec_id
              |WHERE ${duckCosine("a.v", "b.v")} >= 0.35""".stripMargin)),

    // Sign-bucket pair candidates at the same threshold — kept as the
    // cheap low-recall tier: sim_neardup_recall_lsh measures it at
    // 6-8% recall at cos >= 0.35 (near-threshold pairs almost never
    // share all 6 sign bits). The scale path with usable recall is
    // sim_neardup_cells below.
    "sim_neardup_lsh" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.nearDupLsh(e, e.filter(col("vec_id") < 6), 6, 0.35)
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |an AS (SELECT vec_id AS a_id, v AS av FROM c WHERE vec_id < 6),
              |cbk AS (SELECT c.vec_id,
              |   CAST(SUM(CASE WHEN list_sum([v[i+1]*av[i+1] for i in range(64)]) > 0
              |            THEN (CAST(1 AS BIGINT) << CAST(a_id AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
              |  FROM c, an GROUP BY c.vec_id),
              |cb AS (SELECT vec_id, bucket FROM cbk
              |       QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id) <= ${Dedup.MaxBucket}),
              |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |      FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              |SELECT id_a, id_b, ${duckCosine("ca.v", "cbv.v")} AS cos_sim
              |FROM p JOIN c ca ON p.id_a = ca.vec_id JOIN c cbv ON p.id_b = cbv.vec_id
              |WHERE ${duckCosine("ca.v", "cbv.v")} >= 0.35""".stripMargin)),

    // Cell-co-assignment near-dup: every vector soft-assigned to its
    // top-2 cells (the IVF probe rule on the corpus side), pairs
    // sharing ANY cell verified by exact cosine — the scale path for
    // LOW-threshold embedding near-dup, where the sign-bucket
    // candidates collapse (see sim_neardup_recall_lsh).
    "sim_neardup_cells" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.nearDupCells(e, e.filter(col("vec_id") < 8), 2, 0.35)
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |cent AS (SELECT vec_id AS c_id, v AS cv FROM c WHERE vec_id < 8),
              |scored AS (SELECT c.vec_id, c_id, list_sum([v[i+1]*cv[i+1] for i in range(64)]) AS cd FROM c, cent),
              |assign AS (SELECT vec_id, c_id AS cell FROM (
              |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM scored)
              |   WHERE rn <= 2),
              |ak AS (SELECT vec_id, cell FROM assign
              |       QUALIFY ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) <= 256),
              |p AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              |      FROM ak a JOIN ak b ON a.cell = b.cell AND a.vec_id < b.vec_id)
              |SELECT id_a, id_b, ${duckCosine("ca.v", "cbv.v")} AS cos_sim
              |FROM p JOIN c ca ON p.id_a = ca.vec_id JOIN c cbv ON p.id_b = cbv.vec_id
              |WHERE ${duckCosine("ca.v", "cbv.v")} >= 0.35""".stripMargin)),

    // Recall audits for BOTH pair paths against the exact cosine
    // truth — the dedup-tier recall family extended to embeddings.
    // The bucket path's found=false rows are the measured collapse
    // (6-8% recall at this threshold); the cells path's are the
    // boundary pairs even two probes miss.
    "sim_neardup_recall_lsh" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.nearDupRecallAgainst(e,
          Similarity.nearDupLsh(e, e.filter(col("vec_id") < 6), 6, 0.35),
          0.35)
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |an AS (SELECT vec_id AS a_id, v AS av FROM c WHERE vec_id < 6),
              |cbk AS (SELECT c.vec_id,
              |   CAST(SUM(CASE WHEN list_sum([v[i+1]*av[i+1] for i in range(64)]) > 0
              |            THEN (CAST(1 AS BIGINT) << CAST(a_id AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
              |  FROM c, an GROUP BY c.vec_id),
              |cb AS (SELECT vec_id, bucket FROM cbk
              |       QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id) <= ${Dedup.MaxBucket}),
              |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |      FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
              |fnd AS (SELECT id_a, id_b
              |        FROM p JOIN c ca ON p.id_a = ca.vec_id JOIN c cbv ON p.id_b = cbv.vec_id
              |        WHERE ${duckCosine("ca.v", "cbv.v")} >= 0.35),
              |tr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${duckCosine("a.v", "b.v")} AS cos_sim
              |       FROM c a JOIN c b ON a.vec_id < b.vec_id
              |       WHERE ${duckCosine("a.v", "b.v")} >= 0.35)
              |SELECT tr.id_a, tr.id_b, tr.cos_sim,
              |  fnd.id_a IS NOT NULL AS found
              |FROM tr LEFT JOIN fnd ON tr.id_a = fnd.id_a AND tr.id_b = fnd.id_b""".stripMargin)),

    "sim_neardup_recall_cells" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.nearDupRecallAgainst(e,
          Similarity.nearDupCells(e, e.filter(col("vec_id") < 8), 2, 0.35),
          0.35)
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |cent AS (SELECT vec_id AS c_id, v AS cv FROM c WHERE vec_id < 8),
              |scored AS (SELECT c.vec_id, c_id, list_sum([v[i+1]*cv[i+1] for i in range(64)]) AS cd FROM c, cent),
              |assign AS (SELECT vec_id, c_id AS cell FROM (
              |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM scored)
              |   WHERE rn <= 2),
              |ak AS (SELECT vec_id, cell FROM assign
              |       QUALIFY ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) <= 256),
              |p AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              |      FROM ak a JOIN ak b ON a.cell = b.cell AND a.vec_id < b.vec_id),
              |fnd AS (SELECT id_a, id_b
              |        FROM p JOIN c ca ON p.id_a = ca.vec_id JOIN c cbv ON p.id_b = cbv.vec_id
              |        WHERE ${duckCosine("ca.v", "cbv.v")} >= 0.35),
              |tr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${duckCosine("a.v", "b.v")} AS cos_sim
              |       FROM c a JOIN c b ON a.vec_id < b.vec_id
              |       WHERE ${duckCosine("a.v", "b.v")} >= 0.35)
              |SELECT tr.id_a, tr.id_b, tr.cos_sim,
              |  fnd.id_a IS NOT NULL AS found
              |FROM tr LEFT JOIN fnd ON tr.id_a = fnd.id_a AND tr.id_b = fnd.id_b""".stripMargin)),

    "sim_topk_ivf" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 10),
          e.filter(col("vec_id") < 8), nProbe = 2, k = 10)
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |cent AS (SELECT vec_id AS c_id, v AS cv FROM c WHERE vec_id < 8),
              |scored AS (SELECT c.vec_id, c.v, c_id,
              |   ${"list_sum([v[i+1]*cv[i+1] for i in range(64)])"} AS cd FROM c, cent),
              |assign AS (SELECT vec_id, v, c_id AS cell FROM (
              |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM scored)
              |   WHERE rn = 1),
              |qprobe AS (SELECT vec_id AS q_id, v AS qv, c_id AS cell FROM (
              |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn
              |   FROM scored WHERE vec_id < 10)
              |   WHERE rn <= 2),
              |s AS (SELECT q_id, vec_id, ${duckCosine("qv", "av")} AS cos_sim FROM (
              |      SELECT q.q_id, a.vec_id, q.qv, a.v AS av
              |      FROM qprobe q JOIN assign a USING (cell) WHERE a.vec_id <> q.q_id))
              |SELECT q_id, vec_id, cos_sim, rn FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
              |WHERE rn <= 10""".stripMargin)),

    // The IVF index AT REST (the layout ivfTopK's design notes point
    // at): corpus materialized partitioned-by-cell once, then queries
    // prune to their probed cells at the FILE level — the parquet scan
    // carries a PartitionFilter (plan-pinned in PlanShapeSpec) instead
    // of re-assigning the whole corpus per query batch. Results are
    // bit-identical to the scan-time assignment, which is what the
    // oracle recomputes.
    "sim_topk_ivf_atrest" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val cent = Similarity.lloydCentroidDf(e,
          autoCellsFor(s, d), GraphLloydIters)
        val path = s"target/atrest/ivf-${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        Similarity.ivfWriteAtRest(e, cent, path)
        Similarity.ivfTopKAtRest(s, path, e.filter(col("vec_id") < 10),
          cent, nProbe = 3, k = 10)
      },
      Some(ivfAtRestOracle)),

    // The probe priced alone (the sim_topk_graph_serve discipline
    // applied to the IVF tier): a SELF-CONTAINED index — codes
    // partitioned by cell PLUS the trained quantizer persisted inside
    // the layout (ivfWriteIndex; what a FAISS index file carries) —
    // is built once per (corpus, config) and every later pass serves
    // from it: query probes assign against the STORED centroid set
    // (never retrained — a grown corpus would train different cells
    // than the stored codes were assigned under), and the scan prunes
    // to probe/√n of the cell directories. sim_topk_ivf_atrest above
    // keeps the full-lifecycle price; this number is what a query
    // batch pays against the standing index. Same oracle: the probe
    // result is identical whether the index was written this pass or
    // found at rest.
    "sim_topk_ivf_atrest_serve" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val cells = autoCellsFor(s, d)
        val path = s"target/atrest/ivfsv-${d.replaceAll("[^A-Za-z0-9.]", "_")}" +
          s"-c${cells}L$GraphLloydIters"
        // complete AND fingerprint-fresh (the graph-serve convention)
        if (!Similarity.indexFresh(s, path, e)) {
          val cent = Similarity.lloydCentroidDf(e, cells, GraphLloydIters)
          Similarity.ivfWriteIndex(e, cent, path)
        }
        Similarity.ivfTopKAtRest(s, s"$path/codes",
          e.filter(col("vec_id") < 10),
          Similarity.ivfStoredCentroids(s, path), nProbe = 3, k = 10)
      },
      Some(ivfAtRestOracle)),

    // FAISS-style incremental `add` under the oracle gate (the
    // rebuild-on-change → incremental-maintenance step of the serving
    // story): the index is built on 4/5 of the corpus, the remaining
    // rows arrive as a delta and are APPENDED — assigned under the
    // STORED quantizer, stamped epoch 1, meta count + fingerprint
    // bumped incrementally (XOR window signature, never a base
    // rescan) — and the probe over the grown standing index must be
    // bit-identical to a fresh build on the grown corpus, which is
    // exactly what the shared at-rest oracle computes. The freshness
    // claim is asserted in-query: indexFresh(grown) holds via the
    // incrementally-maintained fingerprint alone.
    "sim_topk_ivf_append" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val cent = Similarity.lloydCentroidDf(e,
          autoCellsFor(s, d), GraphLloydIters)
        val path = s"target/atrest/ivfap-${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        Similarity.ivfWriteIndex(e.filter(col("vec_id") % 5 =!= 0),
          cent, path)
        Similarity.ivfAppendDelta(e.filter(col("vec_id") % 5 === 0), path)
        require(Similarity.indexFresh(s, path, e),
          "append must leave the index fresh wrt the grown corpus")
        Similarity.ivfTopKAtRest(s, s"$path/codes",
          e.filter(col("vec_id") < 10),
          Similarity.ivfStoredCentroids(s, path), nProbe = 3, k = 10)
      },
      Some(ivfAtRestOracle)),

    // ANN self-evaluation: recall@10 of the IVF index against the
    // brute-force truth, per query — the measurement a production
    // vector index ships with (FAISS-style recall benchmarks). Both
    // sides are the SAME deterministic operators gated above, so the
    // oracle recomputes truth and approximation in SQL and the recall
    // fractions are exact rationals. The truth side's n² stays
    // query-side-bounded (broadcast ≤4096 anchors), the ivf side is
    // cell-pruned — evaluating recall costs no more than running both
    // queries.
    "sim_ivf_recall" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val e = emb(s, d)
        val truth = Similarity
          .bruteForceTopK(e, e.filter(col("vec_id") < 10), 10)
          .select(col("q_id"), col("vec_id"))
        val approx = Similarity.ivfTopK(e, e.filter(col("vec_id") < 10),
            e.filter(col("vec_id") < 8), nProbe = 2, k = 10)
          .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
        truth.join(approx, Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("k"), count(col("hit")).as("hits"))
          .withColumn("recall_at_k",
            col("hits").cast("double") / col("k"))
          .orderBy(col("q_id"))
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10),
              |bs AS (SELECT q_id, vec_id, ${duckCosine("qv", "v")} AS cos_sim
              |       FROM c, q WHERE vec_id <> q_id),
              |truth AS (SELECT q_id, vec_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM bs)
              |  WHERE rn <= 10),
              |cent AS (SELECT vec_id AS c_id, v AS cv FROM c WHERE vec_id < 8),
              |scored AS (SELECT c.vec_id, c.v, c_id,
              |   list_sum([v[i+1]*cv[i+1] for i in range(64)]) AS cd FROM c, cent),
              |assign AS (SELECT vec_id, v, c_id AS cell FROM (
              |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM scored)
              |   WHERE rn = 1),
              |qprobe AS (SELECT vec_id AS q_id, v AS qv, c_id AS cell FROM (
              |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn
              |   FROM scored WHERE vec_id < 10)
              |   WHERE rn <= 2),
              |ivs AS (SELECT q_id, vec_id, ${duckCosine("qv", "av")} AS cos_sim FROM (
              |      SELECT q.q_id, a.vec_id, q.qv, a.v AS av
              |      FROM qprobe q JOIN assign a USING (cell) WHERE a.vec_id <> q.q_id)),
              |approx AS (SELECT q_id, vec_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM ivs)
              |  WHERE rn <= 10)
              |SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS k,
              |  CAST(COUNT(a.vec_id) AS BIGINT) AS hits,
              |  CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS recall_at_k
              |FROM truth t LEFT JOIN approx a
              |  ON t.q_id = a.q_id AND t.vec_id = a.vec_id
              |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin)),

    "sim_topk_lsh" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.lshTopK(e, e.filter(col("vec_id") < 10),
          e.filter(col("vec_id") < 6), 6, 10)
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |an AS (SELECT vec_id AS a_id, v AS av FROM c WHERE vec_id < 6),
              |cbk AS (SELECT c.vec_id,
              |   CAST(SUM(CASE WHEN list_sum([v[i+1]*av[i+1] for i in range(64)]) > 0
              |            THEN (CAST(1 AS BIGINT) << CAST(a_id AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
              |  FROM c, an GROUP BY c.vec_id),
              |cb AS (SELECT c.vec_id, c.v, cbk.bucket FROM c JOIN cbk USING (vec_id)),
              |qb AS (SELECT vec_id AS q_id, v AS qv, bucket FROM cb WHERE vec_id < 10),
              |s AS (SELECT q_id, cb.vec_id, ${duckCosine("qv", "v")} AS cos_sim
              |      FROM cb JOIN qb USING (bucket) WHERE cb.vec_id <> q_id)
              |SELECT q_id, vec_id, cos_sim, rn FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
              |WHERE rn <= 10""".stripMargin)),

    // Recall@k of the sign-LSH ANN vs the brute-force truth — the
    // audit sim_ivf_recall / sim_pq_recall already give the other two
    // approximate tiers. Sign-LSH requires EXACT bucket equality
    // (all 6 sign bits), so its recall profile is the sharpest of the
    // three; this table prices that trade per query.
    "sim_lsh_recall" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val e = emb(s, d)
        val truth = Similarity
          .bruteForceTopK(e, e.filter(col("vec_id") < 10), 10)
          .select(col("q_id"), col("vec_id"))
        val approx = Similarity.lshTopK(e, e.filter(col("vec_id") < 10),
            e.filter(col("vec_id") < 6), 6, 10)
          .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
        truth.join(approx, Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("k"), count(col("hit")).as("hits"))
          .withColumn("recall_at_k",
            col("hits").cast("double") / col("k"))
          .orderBy(col("q_id"))
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10),
              |bs AS (SELECT q_id, vec_id, ${duckCosine("qv", "v")} AS cos_sim
              |       FROM c, q WHERE vec_id <> q_id),
              |truth AS (SELECT q_id, vec_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM bs)
              |  WHERE rn <= 10),
              |an AS (SELECT vec_id AS a_id, v AS av FROM c WHERE vec_id < 6),
              |cbk AS (SELECT c.vec_id,
              |   CAST(SUM(CASE WHEN list_sum([v[i+1]*av[i+1] for i in range(64)]) > 0
              |            THEN (CAST(1 AS BIGINT) << CAST(a_id AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
              |  FROM c, an GROUP BY c.vec_id),
              |cb AS (SELECT c.vec_id, c.v, cbk.bucket FROM c JOIN cbk USING (vec_id)),
              |qb AS (SELECT vec_id AS q_id, v AS qv, bucket FROM cb WHERE vec_id < 10),
              |s AS (SELECT q_id, cb.vec_id, ${duckCosine("qv", "v")} AS cos_sim
              |      FROM cb JOIN qb USING (bucket) WHERE cb.vec_id <> q_id),
              |approx AS (SELECT q_id, vec_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
              |  WHERE rn <= 10)
              |SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS k,
              |  CAST(COUNT(a.vec_id) AS BIGINT) AS hits,
              |  CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS recall_at_k
              |FROM truth t LEFT JOIN approx a
              |  ON t.q_id = a.q_id AND t.vec_id = a.vec_id
              |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin)),

    // Multi-probe sign-LSH (Lv et al. VLDB'07 adapted to sign
    // buckets): the query probes every bucket within Hamming 2 of
    // its own (22 of 64) — the fix for exact-bucket LSH's measured
    // 0.01-0.09 recall. Corpus bucketed once map-side; only the tiny
    // query side fans out x22.
    "sim_topk_lsh_multiprobe" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.lshTopKMultiProbe(e, e.filter(col("vec_id") < 10),
          e.filter(col("vec_id") < 6), 6, 10, 2)
      },
      Some {
        val probes = (0 until 64).filter(m => Integer.bitCount(m) <= 2)
          .map(m => s"xor(bucket, $m)").mkString(", ")
        s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
           |an AS (SELECT vec_id AS a_id, v AS av FROM c WHERE vec_id < 6),
           |cbk AS (SELECT c.vec_id,
           |   CAST(SUM(CASE WHEN list_sum([v[i+1]*av[i+1] for i in range(64)]) > 0
           |            THEN (CAST(1 AS BIGINT) << CAST(a_id AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM c, an GROUP BY c.vec_id),
           |cb AS (SELECT c.vec_id, c.v, cbk.bucket FROM c JOIN cbk USING (vec_id)),
           |qb AS (SELECT q_id, qv, unnest([$probes]) AS bucket
           |       FROM (SELECT vec_id AS q_id, v AS qv, bucket FROM cb WHERE vec_id < 10)),
           |s AS (SELECT q_id, cb.vec_id, ${duckCosine("qv", "v")} AS cos_sim
           |      FROM cb JOIN qb USING (bucket) WHERE cb.vec_id <> q_id)
           |SELECT q_id, vec_id, cos_sim, rn FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
           |WHERE rn <= 10""".stripMargin
      }),

    // Recall@k of the multi-probe path vs brute force — read next to
    // sim_lsh_recall: the same anchors and bucket rule, radius-2
    // probing instead of exact equality.
    "sim_lsh_recall_multiprobe" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val e = emb(s, d)
        val truth = Similarity
          .bruteForceTopK(e, e.filter(col("vec_id") < 10), 10)
          .select(col("q_id"), col("vec_id"))
        val approx = Similarity.lshTopKMultiProbe(e,
            e.filter(col("vec_id") < 10), e.filter(col("vec_id") < 6),
            6, 10, 2)
          .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
        truth.join(approx, Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("k"), count(col("hit")).as("hits"))
          .withColumn("recall_at_k",
            col("hits").cast("double") / col("k"))
          .orderBy(col("q_id"))
      },
      Some {
        val probes = (0 until 64).filter(m => Integer.bitCount(m) <= 2)
          .map(m => s"xor(bucket, $m)").mkString(", ")
        s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
           |q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10),
           |bs AS (SELECT q_id, vec_id, ${duckCosine("qv", "v")} AS cos_sim
           |       FROM c, q WHERE vec_id <> q_id),
           |truth AS (SELECT q_id, vec_id FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM bs)
           |  WHERE rn <= 10),
           |an AS (SELECT vec_id AS a_id, v AS av FROM c WHERE vec_id < 6),
           |cbk AS (SELECT c.vec_id,
           |   CAST(SUM(CASE WHEN list_sum([v[i+1]*av[i+1] for i in range(64)]) > 0
           |            THEN (CAST(1 AS BIGINT) << CAST(a_id AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM c, an GROUP BY c.vec_id),
           |cb AS (SELECT c.vec_id, c.v, cbk.bucket FROM c JOIN cbk USING (vec_id)),
           |qb AS (SELECT q_id, qv, unnest([$probes]) AS bucket
           |       FROM (SELECT vec_id AS q_id, v AS qv, bucket FROM cb WHERE vec_id < 10)),
           |s AS (SELECT q_id, cb.vec_id, ${duckCosine("qv", "v")} AS cos_sim
           |      FROM cb JOIN qb USING (bucket) WHERE cb.vec_id <> q_id),
           |approx AS (SELECT q_id, vec_id FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
           |  WHERE rn <= 10)
           |SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS k,
           |  CAST(COUNT(a.vec_id) AS BIGINT) AS hits,
           |  CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS recall_at_k
           |FROM truth t LEFT JOIN approx a
           |  ON t.q_id = a.q_id AND t.vec_id = a.vec_id
           |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
      }),

    // Triplet mining: top-kPos positives + deterministic hash-drawn
    // negatives outside the positive set, per anchor.
    "sim_triplet_mining" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.tripletMining(e, e.filter(col("vec_id") < 10), 5, 5)
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10),
              |s AS (SELECT q_id, vec_id, ${duckCosine("qv", "v")} AS cos_sim
              |      FROM c, q WHERE vec_id <> q_id),
              |pos AS (SELECT q_id, vec_id, rn FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
              |  WHERE rn <= 5),
              |cand AS (SELECT q_id, c.vec_id FROM c, q
              |         WHERE c.vec_id <> q_id
              |           AND NOT EXISTS (SELECT 1 FROM pos p
              |                           WHERE p.q_id = q.q_id AND p.vec_id = c.vec_id)),
              |neg AS (SELECT q_id, vec_id, rn FROM (
              |  SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
              |    ORDER BY CAST('0x'||substr(md5(q_id||':'||vec_id),1,15) AS BIGINT), vec_id) AS rn
              |  FROM cand) WHERE rn <= 5)
              |SELECT q_id, vec_id, 'pos' AS role, CAST(rn AS INTEGER) AS rn FROM pos
              |UNION ALL
              |SELECT q_id, vec_id, 'neg' AS role, CAST(rn AS INTEGER) AS rn FROM neg""".stripMargin)),

    // Product quantization (Jégou et al. 2011): corpus coded as 16
    // subspace codebook ids under books TRAINED per subspace (two
    // Lloyd iterations, min-L2 assignment — the oracle unrolls the
    // identical training as CTEs), queries full-precision, score
    // reconstructed per row in fixed subspace order — both engines
    // agree on every trained centroid, code, and approximate dot.
    // Training lifted recall@10 vs the brute-force truth from 0.32
    // (untrained data-row codebooks) to 0.46 at sf0.01.
    "sim_topk_pq" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val books = Similarity.pqTrainBooks(e,
          e.filter(col("vec_id") < 16), m = 16, iters = 2)
        Similarity.pqTopKWith(e, e.filter(col("vec_id") < 10), books, 10)
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |$pqTrainCtes,
              |q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10),
              |parts AS (SELECT q_id, cd.vec_id, cd.m,
              |   list_sum([qv[4*cd.m+i+1]*b.cv[i+1] for i in range(4)]) AS part
              |  FROM codes cd JOIN b2 b USING (m, c_id), q
              |  WHERE cd.vec_id <> q_id),
              |s2 AS (SELECT q_id, vec_id, list_sum(list(part ORDER BY m)) AS approx_dot
              |  FROM parts GROUP BY 1, 2)
              |SELECT q_id, vec_id, approx_dot, rn FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx_dot DESC, vec_id) AS rn FROM s2)
              |WHERE rn <= 10""".stripMargin)),

    // IVF-PQ (the FAISS layout): probe 2 of 8 cells, score candidates
    // from their 16 TRAINED PQ codes instead of full vectors — the
    // two gated primitives composed; trained centroids, codes,
    // probes, and scores all bit-exact across engines.
    "sim_topk_ivfpq" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val books = Similarity.pqTrainBooks(e,
          e.filter(col("vec_id") < 16), m = 16, iters = 2)
        Similarity.ivfPqTopKWith(e, e.filter(col("vec_id") < 10),
          e.filter(col("vec_id") < autoCellsFor(s, d)), books,
          nProbe = 2, k = 10)
      },
      Some(ivfPqTopKOracle)),

    // IVFPQ with RESIDUAL encoding — FAISS's quantize-x-minus-c(x)
    // recipe (Jégou et al. 2011 §III), the standard recall lever at
    // equal m/probe, declared as the measured NEGATIVE result the r15
    // PQ sweep recorded on this corpus (COVERAGE.md, "Residual-encoding
    // IVFPQ"; m=16, iters=2, ⌈√n⌉ cells): recall@10 0.37 vs raw
    // 0.49-0.53 at every probe (1/2/4) and quantizer axis (raw seeds /
    // 1 / 3 Lloyd rounds), probe-INVARIANT because the exact q·c(x)
    // term dominates ranking when the quantizer explains none of a
    // near-uniform corpus's variance (residual rel_dist2 0.34-0.37 vs
    // raw 0.35 — no shrink, so the residual premise fails here). The
    // raw tier stays
    // the declared serving config; this query keeps the rejected
    // variant oracle-gated so the finding reproduces cross-engine.
    "sim_topk_ivfpq_residual" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val cent = e.filter(col("vec_id") < autoCellsFor(s, d))
        val books =
          Similarity.pqTrainBooksResidual(e, cent, seedK = 16, 16, 2)
        Similarity.ivfPqResidualTopKWith(e, e.filter(col("vec_id") < 10),
          cent, books, nProbe = 2, k = 10)
      },
      Some(ivfPqResidualTopKOracle)),

    // The FAISS-style IVFPQ layout end to end: write the corpus
    // partitioned by cell carrying ONLY its trained PQ codes, then
    // answer queries off a partition-pruned scan of the stored codes
    // — bit-identical to the scan-time composition above (same
    // oracle), with the corpus neither re-assigned nor re-coded per
    // query batch. Write cost is part of the operator, as in
    // sim_topk_ivf_atrest.
    "sim_topk_ivfpq_atrest" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val books = Similarity.pqTrainBooks(e,
          e.filter(col("vec_id") < 16), m = 16, iters = 2)
        val cent = e.filter(col("vec_id") < autoCellsFor(s, d))
        val path = s"target/atrest/ivfpq-${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        Similarity.ivfPqWriteAtRest(e, cent, books, path)
        Similarity.ivfPqTopKAtRest(s, path, e.filter(col("vec_id") < 10),
          cent, books, nProbe = 2, k = 10)
      },
      Some(ivfPqTopKOracle)),

    // The probe priced alone on the IVFPQ tier — the tier where
    // self-containment matters MOST: this index has TWO trained
    // components (coarse quantizer + m PQ codebooks), and stored
    // codes are meaningless under any other codebook set, so serving
    // resolves BOTH from the layout (ivfPqWriteIndex persists
    // codes + books + cent, the FAISS index-file contents). Built
    // once per (corpus, config); every later pass pays the pruned
    // probe + the code-table scoring alone. Same oracle as the
    // scan-time and lifecycle IVFPQ queries — bit-equality with the
    // standing index IS the claim.
    "sim_topk_ivfpq_atrest_serve" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val cells = autoCellsFor(s, d)
        val path = s"target/atrest/ivfpqsv-${d.replaceAll("[^A-Za-z0-9.]", "_")}" +
          s"-c${cells}m16i2"
        // complete AND fingerprint-fresh (the graph-serve convention)
        if (!Similarity.indexFresh(s, path, e)) {
          val books = Similarity.pqTrainBooks(e,
            e.filter(col("vec_id") < 16), m = 16, iters = 2)
          Similarity.ivfPqWriteIndex(e, e.filter(col("vec_id") < cells),
            books, path)
        }
        Similarity.ivfPqTopKAtRest(s, s"$path/codes",
          e.filter(col("vec_id") < 10),
          Similarity.ivfStoredCentroids(s, path),
          Similarity.ivfPqStoredBooks(s, path), nProbe = 2, k = 10)
      },
      Some(ivfPqTopKOracle)),

    // Incremental `add` on the IVFPQ tier — the tier where append
    // discipline matters MOST: the delta must be PQ-encoded under the
    // STORED codebooks and cell-assigned under the STORED quantizer
    // (re-deriving either would write codes the standing probe decodes
    // wrongly). Build on 4/5 of the corpus, append the rest, probe the
    // grown index: bit-identical to the fresh build the shared oracle
    // recomputes, with the epoch stamp keeping replayed serve batches
    // pinned to the rows they originally saw (IndexAppendSpec).
    "sim_topk_ivfpq_append" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val books = Similarity.pqTrainBooks(e,
          e.filter(col("vec_id") < 16), m = 16, iters = 2)
        val cent = e.filter(col("vec_id") < autoCellsFor(s, d))
        val path =
          s"target/atrest/ivfpqap-${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        Similarity.ivfPqWriteIndex(e.filter(col("vec_id") % 5 =!= 0),
          cent, books, path)
        Similarity.ivfPqAppendDelta(e.filter(col("vec_id") % 5 === 0), path)
        require(Similarity.indexFresh(s, path, e),
          "append must leave the index fresh wrt the grown corpus")
        Similarity.ivfPqTopKAtRest(s, s"$path/codes",
          e.filter(col("vec_id") < 10),
          Similarity.ivfStoredCentroids(s, path),
          Similarity.ivfPqStoredBooks(s, path), nProbe = 2, k = 10)
      },
      Some(ivfPqTopKOracle)),

    // SemDedup: cluster-scoped semantic dedup (keep-lowest-id). The
    // oracle reuses the IVF assignment CTE shape and recomputes the
    // same within-cell pairs.
    //
    // (ivfPqTopKOracle lives below the map; it gates BOTH the
    // scan-time and the at-rest IVFPQ queries — the at-rest layout's
    // correctness claim IS bit-equality with the scan-time plan.)
    "sim_semdedup" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.semDedup(e, e.filter(col("vec_id") < 8), 0.35)
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |cent AS (SELECT vec_id AS c_id, v AS cv FROM c WHERE vec_id < 8),
              |scored AS (SELECT c.vec_id, c.v, c_id,
              |   list_sum([v[i+1]*cv[i+1] for i in range(64)]) AS cd FROM c, cent),
              |assign AS (SELECT vec_id, v, c_id AS cell FROM (
              |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM scored)
              |   WHERE rn = 1),
              |p AS (SELECT b.vec_id
              |      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
              |      WHERE ${duckCosine("a.v", "b.v")} >= 0.35),
              |d AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dups FROM p GROUP BY vec_id)
              |SELECT assign.vec_id, CAST(cell AS INTEGER) AS cell,
              |  COALESCE(n_dups, 0) AS n_dups, (COALESCE(n_dups, 0) > 0) AS is_dup
              |FROM assign LEFT JOIN d USING (vec_id)""".stripMargin)),

    // Int8 quantization: per-vector scale + quantized values. The
    // vector is compared as a comma-joined string (no declared query
    // emits a raw array — the comparator's array handling is unproven,
    // and the string pins element order and values just as hard).
    "sim_quantize_int8" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        Similarity.quantizeInt8(emb(s, d))
          .select(col("vec_id"), col("scale"),
            concat_ws(",", col("qvec").cast("array<string>")).as("qstr"))
      },
      Some("""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
             |m AS (SELECT vec_id, v, list_max([abs(x) for x in v]) AS ma FROM c)
             |SELECT vec_id, ma/127 AS scale,
             |  CASE WHEN ma = 0 THEN array_to_string([CAST(0 AS BIGINT) for x in v], ',')
             |  ELSE array_to_string([CAST(floor(x / (ma/127) + 0.5) AS BIGINT) for x in v], ',')
             |  END AS qstr
             |FROM m""".stripMargin)),

    // Exact top-k over the quantized vectors: the scales cancel out of
    // the cosine, so scores are integer dot products (exact in
    // doubles, order-independent) over root-self-dots.
    "sim_topk_int8" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.int8TopK(e, e.filter(col("vec_id") < 10), 10)
      },
      Some("""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
             |m AS (SELECT vec_id, v, list_max([abs(x) for x in v]) AS ma FROM c),
             |qt AS (SELECT vec_id, CASE WHEN ma = 0 THEN [CAST(0 AS DOUBLE) for x in v]
             |   ELSE [CAST(floor(x / (ma/127) + 0.5) AS DOUBLE) for x in v] END AS q FROM m),
             |qs AS (SELECT vec_id AS q_id, q AS qv FROM qt WHERE vec_id < 10),
             |s AS (SELECT q_id, qt.vec_id,
             |   list_sum([qv[i+1]*q[i+1] for i in range(64)]) /
             |   (sqrt(list_sum([qv[i+1]*qv[i+1] for i in range(64)])) *
             |    sqrt(list_sum([q[i+1]*q[i+1] for i in range(64)]))) AS cos_sim
             | FROM qt, qs WHERE qt.vec_id <> q_id)
             |SELECT q_id, vec_id, cos_sim, rn FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
             |WHERE rn <= 10""".stripMargin)),

    // EXACT cosine silhouette at LINEAR cost: mean distance to a cell
    // is a dot with the cell's summed unit vectors, so no pairwise
    // join exists — one assignment projection, one (cell, dim) agg,
    // one k-row broadcast. The oracle mirrors the same sum trick.
    "sim_silhouette" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.silhouette(e, e.filter(col("vec_id") < 8))
      },
      Some("""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
             |cent AS (SELECT vec_id AS c_id, v AS cv FROM c WHERE vec_id < 8),
             |scored AS (SELECT c.vec_id, c.v, c_id,
             |   list_sum([v[i+1]*cv[i+1] for i in range(64)]) AS cd FROM c, cent),
             |assign AS (SELECT vec_id, v, c_id AS cell FROM (
             |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM scored)
             |   WHERE rn = 1),
             |uv AS (SELECT vec_id, cell,
             |   [x / sqrt(list_sum([y*y for y in v])) for x in v] AS u FROM assign),
             |e AS (SELECT cell, i, u[i+1] AS x FROM uv, range(64) t(i)),
             |cd AS (SELECT cell, i, SUM(x) AS sx FROM e GROUP BY 1, 2),
             |csl AS (SELECT cell, list(sx ORDER BY i) AS s_vec FROM cd GROUP BY cell),
             |cm AS (SELECT cell, COUNT(*) AS m FROM uv GROUP BY cell),
             |md AS (SELECT uv.vec_id, uv.cell, csl.cell AS s_cell, cm.m,
             |   list_sum([uv.u[i+1]*csl.s_vec[i+1] for i in range(64)]) AS us
             |   FROM uv, csl JOIN cm ON csl.cell = cm.cell),
             |vals AS (SELECT vec_id, cell,
             |   MAX(CASE WHEN s_cell = cell AND m > 1 THEN 1.0 - (us - 1.0)/(m - 1) END) AS a,
             |   MIN(CASE WHEN s_cell <> cell THEN 1.0 - us/m END) AS b
             |   FROM md GROUP BY 1, 2)
             |SELECT vec_id, CAST(cell AS INTEGER) AS cell, a, b,
             |  CASE WHEN a IS NULL OR b IS NULL OR greatest(a, b) <= 0.0 THEN 0.0
             |       ELSE (b - a) / greatest(a, b) END AS s
             |FROM vals""".stripMargin)),

    // Two-stage retrieval (the production ANN serving pattern):
    // int8-coarse top-40 over the corpus, then exact double-precision
    // re-rank of ONLY those candidates to the final 10. The oracle
    // composes the int8 pipeline with an exact re-scoring CTE.
    "sim_topk_rerank" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.rerankTopK(e, e.filter(col("vec_id") < 10), 40, 10)
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |m AS (SELECT vec_id, v, list_max([abs(x) for x in v]) AS ma FROM c),
              |qt AS (SELECT vec_id, CASE WHEN ma = 0 THEN [CAST(0 AS DOUBLE) for x in v]
              |   ELSE [CAST(floor(x / (ma/127) + 0.5) AS DOUBLE) for x in v] END AS q FROM m),
              |qs AS (SELECT vec_id AS q_id, q AS qv FROM qt WHERE vec_id < 10),
              |s AS (SELECT q_id, qt.vec_id, ${duckCosine("qv", "q")} AS cos_sim
              | FROM qt, qs WHERE qt.vec_id <> q_id),
              |coarse AS (SELECT q_id, vec_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
              |  WHERE rn <= 40),
              |ex AS (SELECT co.q_id, co.vec_id, ${duckCosine("qc.v", "cc.v")} AS cos_sim
              | FROM coarse co JOIN c cc ON cc.vec_id = co.vec_id
              |                JOIN c qc ON qc.vec_id = co.q_id)
              |SELECT q_id, vec_id, cos_sim, rn FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM ex)
              |WHERE rn <= 10""".stripMargin)),

    // IVF cell-balance histogram: the load-balance audit (hot cells
    // are THE operational IVF failure at scale). Same assignment CTE
    // as sim_semdedup; load factor 1.0 = perfectly even.
    "sim_ivf_cells" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        Similarity.ivfCellBalance(e, e.filter(col("vec_id") < 8))
      },
      Some("""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
             |cent AS (SELECT vec_id AS c_id, v AS cv FROM c WHERE vec_id < 8),
             |scored AS (SELECT c.vec_id, c_id,
             |   list_sum([v[i+1]*cv[i+1] for i in range(64)]) AS cd FROM c, cent),
             |assign AS (SELECT vec_id, c_id AS cell FROM (
             |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd DESC, c_id) AS rn FROM scored)
             |   WHERE rn = 1),
             |counts AS (SELECT CAST(cell AS INTEGER) AS cell,
             |           CAST(COUNT(*) AS BIGINT) AS n_vecs FROM assign GROUP BY 1),
             |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total FROM counts)
             |SELECT cell, n_vecs, n_total,
             |  CAST(n_vecs AS DOUBLE) * 8.0 / CAST(n_total AS DOUBLE) AS load_factor
             |FROM counts, tot""".stripMargin)),

    // PQ reconstruction distortion: per-vector squared error of the
    // TRAINED codebook reconstruction vs the original — the
    // quantizer's self-evaluation over the same unrolled-Lloyd codes
    // CTE as sim_topk_pq. Untrained max-dot codes measured mean
    // rel_dist2 ≈ 1.2 (worse than the zero vector — the audit that
    // forced the trainer); the trained min-L2 books measure ≈ 0.34.
    "sim_pq_distortion" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = emb(s, d)
        val books = Similarity.pqTrainBooks(e,
          e.filter(col("vec_id") < 16), m = 16, iters = 2)
        Similarity.pqDistortionWith(e, books)
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |$pqTrainCtes,
              |agg AS (SELECT vec_id, list_sum(list(d2 ORDER BY m)) AS dist2
              |  FROM codes GROUP BY 1),
              |n2t AS (SELECT vec_id, list_sum([x*x for x in v]) AS n2 FROM c)
              |SELECT n2t.vec_id, n2, dist2,
              |  CASE WHEN n2 > 0.0 THEN dist2/n2 ELSE 0.0 END AS rel_dist2
              |FROM n2t JOIN agg USING (vec_id)""".stripMargin)),

    // ANN self-evaluation for the TRAINED PQ tier (the sim_ivf_recall
    // pattern): recall@10 of asymmetric-distance PQ search against
    // the brute-force truth, per query — the row that puts round-10's
    // training gain (0.32 -> 0.46 mean) under the oracle gate, so a
    // codebook regression shows as a red row, not a silent drift.
    "sim_pq_recall" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.functions._
        val e = emb(s, d)
        val books = Similarity.pqTrainBooks(e,
          e.filter(col("vec_id") < 16), m = 16, iters = 2)
        val truth = Similarity
          .bruteForceTopK(e, e.filter(col("vec_id") < 10), 10)
          .select(col("q_id"), col("vec_id"))
        val approx = Similarity
          .pqTopKWith(e, e.filter(col("vec_id") < 10), books, 10)
          .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
        truth.join(approx, Seq("q_id", "vec_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("k"), count(col("hit")).as("hits"))
          .withColumn("recall_at_k",
            col("hits").cast("double") / col("k"))
          .orderBy(col("q_id"))
      },
      Some(s"""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
              |$pqTrainCtes,
              |q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 10),
              |bs AS (SELECT q_id, vec_id, ${duckCosine("qv", "v")} AS cos_sim
              |       FROM c, q WHERE vec_id <> q_id),
              |truth AS (SELECT q_id, vec_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM bs)
              |  WHERE rn <= 10),
              |parts AS (SELECT q_id, cd.vec_id, cd.m,
              |   list_sum([qv[4*cd.m+i+1]*b.cv[i+1] for i in range(4)]) AS part
              |  FROM codes cd JOIN b2 b USING (m, c_id), q
              |  WHERE cd.vec_id <> q_id),
              |s2 AS (SELECT q_id, vec_id, list_sum(list(part ORDER BY m)) AS approx_dot
              |  FROM parts GROUP BY 1, 2),
              |approx AS (SELECT q_id, vec_id FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx_dot DESC, vec_id) AS rn FROM s2)
              |  WHERE rn <= 10)
              |SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS k,
              |  CAST(COUNT(a.vec_id) AS BIGINT) AS hits,
              |  CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS recall_at_k
              |FROM truth t LEFT JOIN approx a
              |  ON t.q_id = a.q_id AND t.vec_id = a.vec_id
              |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin)),

    // Johnson-Lindenstrauss random projection 64 -> 16 dims with an
    // md5-derived +-1 sign matrix both engines regenerate from (i, j);
    // per-vector norms and anchor distances in both spaces are the
    // O(n) self-evaluation of the distance-preservation claim.
    "sim_rand_proj" -> Decl(
      (s, d) => Similarity.randomProjection(emb(s, d), 64, 16),
      Some("""WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
             |p AS (SELECT vec_id, v,
             |  [ list_sum([ v[i+1] * (CASE WHEN CAST('0x'||substr(md5('rp:'||i||':'||j),1,15) AS BIGINT) % 2 = 0
             |                         THEN 1.0 ELSE -1.0 END) for i in range(64)]) / sqrt(16.0)
             |    for j in range(16)] AS y FROM c),
             |a AS (SELECT v AS av, y AS ay FROM p WHERE vec_id = 0)
             |SELECT vec_id,
             |  list_sum([x*x for x in v]) AS n2_orig,
             |  list_sum([x*x for x in y]) AS n2_proj,
             |  list_sum([(v[i+1]-av[i+1])*(v[i+1]-av[i+1]) for i in range(64)]) AS d2_anchor_orig,
             |  list_sum([(y[j+1]-ay[j+1])*(y[j+1]-ay[j+1]) for j in range(16)]) AS d2_anchor_proj
             |FROM p, a""".stripMargin)),
  )

  // -------------------------------------------------------------- registry

  val all: Seq[(String, Decl)] =
    parity ++ ingest ++ relational ++ text ++ dedup ++ similarity ++
      multimodal ++ scalePath ++ composite ++ curation

  def queries: Map[String, QFn] =
    all.map { case (n, decl) => n -> decl.fn }.toMap

  def oracles: Map[String, String] =
    all.collect { case (n, Decl(_, Some(sql))) => n -> sql }.toMap

  /** Headline queries timed by Bench. The first 20 are the round-1
    * set, unchanged, so the round-over-round total stays comparable on
    * that shared prefix. Round 5 appends the two most expensive shapes
    * that were previously unbenchmarked — the skew-safe LSH star dedup
    * and the curate-tokenize capstone — so regressions there are no
    * longer invisible; cross-round totals should be compared on the
    * first 20 queries only (the driver JSON carries per-query times).
    */
  val headline: Seq[String] = Seq(
    "o08_select_range", "o10_daily_average", "o11_daily_unique",
    "o12_group_count_desc", "o13_top3_per_day", "o17_align_by_date",
    "o18_dashboard", "ingest_parse_roundtrip", "tpch_q1_pricing",
    "tpch_q3_shipping", "tpch_q5_local_supplier", "text_stats",
    "text_lang_id", "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "sim_topk_bruteforce", "sim_topk_lsh", "sim_topk_ivf",
    "mm_decode_features",
    // round-5 additions — excluded from cross-round total comparisons
    "dedup_lsh_star_skew", "pipeline_curate_tokenize",
    // the heaviest shapes added later in round 5: ExactSubstr span
    // removal (positional-gram corpus pass), BPE training (iterative
    // word-table aggregates), and the wedge-join triangle count
    "dedup_exact_substr", "pipeline_bpe_train", "rel_triangles",
    // round-6 additions: the batched-BPE scale path (256 merges in a
    // handful of driver rounds — the claim is it completes in seconds),
    // the dump-intake capstone (quality → cross-LSH → decontaminate),
    // and the greedy subword encode
    "pipeline_bpe_train256", "pipeline_intake_dump", "pipeline_wordpiece",
    // round-8 additions: real image resize end-to-end (PNG decode →
    // Graphics2D box-fit → re-encode → re-decode), and the conditional
    // bigram LM quality score (two count shuffles + gram-keyed join +
    // doc re-agg — a representative multi-shuffle curation shape)
    "mm_resize_real", "text_bigram_lm",
    // round-9 additions: hybrid RRF (two retriever top-n reductions +
    // an n-row fusion join), and the two new TPC-H shapes (diamond
    // aggregate with runtime exchange reuse; broadcast-dim distinct)
    "text_hybrid_rrf", "tpch_q11_important_parts", "tpch_q16_supplier_cnt",
    // round-9 batch 2: the exact prefix-filtered set join, the
    // capped-block thresholded-levenshtein join, and the linear
    // silhouette — the three newest shapes with real per-row cost
    "dedup_ppjoin", "dedup_edit_blocked", "sim_silhouette",
    // round-9 batch 3: the two-stage coarse+rerank ANN
    "sim_topk_rerank",
    // round-10 addition: the at-rest IVF story end-to-end — build the
    // cell-partitioned layout, then answer queries off a
    // partition-pruned scan (write cost is part of the operator)
    "sim_topk_ivf_atrest",
    // round-10 batch 2: the pigeonhole-lossless block-combination
    // SimHash banding (28 exploded tables, one rank-capped equi-join)
    "dedup_simhash_blocked",
    // round-10 batch 3: the audit-driven ANN fixes — multi-probe
    // sign-LSH (query fans out x22 buckets) and soft cell
    // co-assignment near-dup pairs (corpus x2 cell fan-out, capped)
    "sim_topk_lsh_multiprobe", "sim_neardup_cells",
    // round-10 batch 4: the star-alternation components fixpoint, the
    // per-document PageRank keyword graph, and the unigram-LM
    // tokenizer (seed agg + broadcast-Viterbi E-step + encode)
    "dedup_clusters_star", "text_textrank", "pipeline_unigram_encode",
    // round-10 batch 5: the h-index coreness rounds (per-node rank
    // windows over neighbor fan-out — a new window-over-join shape),
    // the Q20 nested semi-join, the register-aggregate HLL, and the
    // LSH-edges → star-components composition (the components tier's
    // scale path, also carrying its scaling curves)
    "rel_coreness", "tpch_q20_potential_promo", "o11_daily_unique_hll",
    "dedup_lsh_components",
    // round-10 batch 6: the full FAISS-style IVFPQ story — train the
    // codebooks, write the cell-partitioned stored-codes layout, and
    // answer queries off the pruned scan (train + write costs are
    // part of the operator)
    "sim_topk_ivfpq_atrest",
    // round-11 additions: the three-round NN-Descent graph build
    // (per-round wedge join + keep-best rank — the graph-ANN
    // foundation), and the sorted-neighborhood dedup (two-level
    // distributed rank + windowed candidate joins + pair-scoped
    // verify — a new global-order shape in the headline set)
    "sim_knn_graph", "dedup_sorted_neighborhood",
    // round-12 addition: the graph-ANN SERVING story end-to-end —
    // build the NN-Descent index, materialize adjacency + nodes +
    // entry heads bucket-partitioned at rest, then answer the query
    // batch with a fixed-round greedy walk over bucket-pruned reads
    // (build + write costs are part of the operator, the
    // sim_topk_ivf_atrest pricing discipline)
    "sim_topk_graph",
    // round-14 addition: the build-vs-serve split the r13 verdict
    // asked for — the SAME walk against a standing layout built once
    // per (corpus, config); this number is the serve cost alone,
    // sim_topk_graph above stays the full-lifecycle price
    "sim_topk_graph_serve",
    // round-14 addition: the same split on the IVF tier — the probe
    // against a standing self-contained index (stored quantizer,
    // pruned cell reads); sim_topk_ivf_atrest keeps the lifecycle
    // price
    "sim_topk_ivf_atrest_serve",
    // round-14 addition: the split on the IVFPQ tier — BOTH trained
    // components (coarse quantizer + PQ codebooks) resolve from the
    // standing layout; sim_topk_ivfpq_atrest keeps the lifecycle price
    "sim_topk_ivfpq_atrest_serve",
    // round-15 addition: the residual-encoding IVFPQ variant — kept
    // declared and priced although the r15 PQ sweep REJECTED it for the
    // serving tier (recall@10 0.37 vs raw 0.49-0.53 at equal budget on
    // this corpus); the negative result stays measured round-over-round
    "sim_topk_ivfpq_residual",
    // round-16 addition: FAISS-style incremental `add` on the IVFPQ
    // tier end-to-end — build on 4/5 of the corpus, encode + assign
    // the delta under the STORED books/quantizer, append at epoch 1,
    // bump the fingerprint incrementally, probe the grown index
    "sim_topk_ivfpq_append",
    // round-17 addition: incremental insertion on the GRAPH tier —
    // build the NN-Descent index on 4/5, insert the rest by greedy
    // search (forward + reverse edges at epoch 1, heads untouched),
    // then serve off the grown graph; the last serve tier to close
    // the grow-without-rebuild story
    "sim_topk_graph_append")
}
