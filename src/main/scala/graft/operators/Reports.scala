package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The fixed report-query family of the reference engine, re-expressed as
  * declarative DataFrame pipelines (reference: ballcone/dao.py:236-342,
  * ballcone/web_ballcone.py:27-94).
  *
  * Everything here is built-in Catalyst surface: hash aggregates get
  * partial/final phases (map-side combine) for free, `orderBy.limit`
  * plans as TakeOrderedAndProject (a true distributed top-k), and the
  * single window function partitions by day — at 100 TB the daily
  * partition count stays small and bounded, so WindowExec's per-partition
  * sort is cheap. No custom physical operators are needed for parity.
  */
object Reports {

  /** The central expression: every aggregate keys on the event day
    * (reference: `CAST(datetime AS DATE)`, ballcone/dao.py:255,280,307).
    */
  def day(ts: Column): Column = to_date(ts)

  /** O8 — raw select with inclusive date filter, sort, limit
    * (ballcone/dao.py:236-249). `tieBreak` columns make the limit
    * deterministic under timestamp ties (the reference leaves those
    * unspecified).
    */
  def selectRange(df: DataFrame, tsCol: String, start: Option[String],
                  stop: Option[String], limit: Int,
                  tieBreak: Seq[String] = Nil): DataFrame = {
    val sortCols = (tsCol +: tieBreak).map(col)
    df.filter(DateRange.pred(col(tsCol), start, stop))
      .orderBy(sortCols: _*)
      .limit(limit)
  }

  /** O10 — per-day AVG/SUM/COUNT of one field (ballcone/dao.py:251-275). */
  def dailyAverage(df: DataFrame, tsCol: String, field: String,
                   start: Option[String] = None,
                   stop: Option[String] = None): DataFrame =
    df.filter(DateRange.pred(col(tsCol), start, stop))
      .groupBy(day(col(tsCol)).as("d"))
      .agg(avg(col(field)).as(s"avg_$field"),
           sum(col(field)).as(s"sum_$field"),
           count(col(field)).as(s"cnt_$field"))
      .orderBy("d")

  /** O11 — per-day COUNT(*) ("visits") or COUNT(DISTINCT field)
    * ("unique") (ballcone/dao.py:277-301). Exact distinct, as the
    * reference requires; `approx_count_distinct` is the documented
    * relaxation at scale.
    */
  def dailyCount(df: DataFrame, tsCol: String,
                 distinctField: Option[String] = None,
                 start: Option[String] = None,
                 stop: Option[String] = None): DataFrame = {
    val cnt = distinctField.map(f => count_distinct(col(f)))
      .getOrElse(count(lit(1)))
    df.filter(DateRange.pred(col(tsCol), start, stop))
      .groupBy(day(col(tsCol)).as("d"))
      .agg(cnt.as("cnt"))
      .orderBy("d")
  }

  /** Hand-rolled HyperLogLog distinct (Flajolet et al. 2007) whose
    * ESTIMATE is itself oracle-gateable: registers derive from the
    * shared md5 `hash60` (index = low `p` bits, rho = leading zeros
    * of the remaining 52-bit field + 1, an exact integer via the
    * bit-length idiom), so any engine reproduces the register table
    * bit-for-bit — unlike `approx_count_distinct`, whose
    * engine-private sketch forces a rows-only check. The harmonic
    * term is summed as the exact BIGINT Σ 2^(53−M_j) (every term an
    * integer, max 256·2^53 < 2^63 — no float summation-order risk);
    * the only float ops are the final constant-multiply/divide and
    * the small-range linear-counting branch (m·ln(m/V) when the raw
    * estimate ≤ 2.5m with V empty registers), both fixed-order and
    * engine-identical. Emits the exact distinct alongside, so the
    * row is its own error audit.
    *
    * Scale shape: this is the MERGEABLE form exact distinct lacks —
    * the (day, register) max-aggregate combines map-side and unions
    * across shards/streams (max of maxes), so the shuffle carries at
    * most m rows per day instead of one row per distinct user. The
    * exact count rides along here for the audit; a 100 TB run drops
    * it and keeps only the register table.
    */
  def dailyUniqueHll(df: DataFrame, tsCol: String, field: String,
                     p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "register exponent p in [4,16]")
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m.toDouble)
    val two53 = 9007199254740992L // 2^53
    val numer = alpha * m.toDouble * m.toDouble * two53.toDouble
    val h = graft.functions.TextFunctions.hash60(col(field).cast("string"))
    // nulls are excluded up front, matching COUNT(DISTINCT)'s
    // semantics — a null would otherwise land a phantom null-index
    // register that inflates n_regs and skews the estimate
    val base = df.filter(col(field).isNotNull)
      .select(day(col(tsCol)).as("d"), h.as("h"))
      .select(col("d"), pmod(col("h"), lit(m.toLong)).as("idx"),
        expr(s"h div $m").as("rem"))
      // bin(0) renders as "0" (length 1), so the all-zero remainder
      // needs its own branch to reach the conventional rho = 53
      .select(col("d"), col("idx"),
        when(col("rem") === 0L, lit(53L))
          .otherwise(lit(53L) - length(bin(col("rem"))).cast("long"))
          .as("rho"))
    val regs = base.groupBy(col("d"), col("idx"))
      .agg(max(col("rho")).as("mj"))
    val perDay = regs.groupBy(col("d"))
      .agg(count(lit(1)).as("n_regs"),
        sum(expr("shiftleft(1L, cast(53 - mj as int))")).as("z_present"))
      .select(col("d"),
        (lit(m.toLong) - col("n_regs")).as("v_zero"),
        (col("z_present") +
          (lit(m.toLong) - col("n_regs")) * lit(two53)).as("z_scaled"))
    val raw = lit(numer) / col("z_scaled").cast("double")
    val est = when(raw <= lit(2.5 * m) && col("v_zero") > 0L,
        lit(m.toDouble) *
          log(lit(m.toDouble) / col("v_zero").cast("double")))
      .otherwise(raw)
    val exact = df.groupBy(day(col(tsCol)).as("d"))
      .agg(count_distinct(col(field)).as("n_exact"))
    perDay.select(col("d"), col("v_zero"), est.as("hll_est"))
      .join(exact, "d")
      .select(col("d"), col("n_exact"), col("v_zero"), col("hll_est"),
        (abs(col("hll_est") - col("n_exact").cast("double")) /
          col("n_exact").cast("double")).as("rel_err"))
      .orderBy("d")
  }

  /** O12 — per-(day, group) COUNT[(DISTINCT)] with the reference's exact
    * ordering `(day, count asc|desc, group)` (ballcone/dao.py:303-321).
    */
  def dailyGroupCount(df: DataFrame, tsCol: String, field: String,
                      group: String, distinct: Boolean, ascending: Boolean,
                      start: Option[String] = None,
                      stop: Option[String] = None): DataFrame = {
    val cnt = if (distinct) count_distinct(col(field)) else count(col(field))
    val dir = if (ascending) col("cnt").asc else col("cnt").desc
    df.filter(DateRange.pred(col(tsCol), start, stop))
      .groupBy(day(col(tsCol)).as("d"), col(group).as("grp"))
      .agg(cnt.as("cnt"))
      .orderBy(col("d"), dir, col("grp"))
  }

  /** O13 — top-N groups per day: O12 wrapped in
    * `ROW_NUMBER() OVER (PARTITION BY d ORDER BY cnt [ASC|DESC], grp)`
    * (ballcone/dao.py:323-330). The `grp` tiebreaker makes row_number
    * deterministic under count ties, exactly like the reference.
    */
  def topNPerDay(df: DataFrame, tsCol: String, field: String, group: String,
                 distinct: Boolean, ascending: Boolean, n: Int,
                 start: Option[String] = None,
                 stop: Option[String] = None): DataFrame = {
    val grouped =
      dailyGroupCount(df, tsCol, field, group, distinct, ascending, start, stop)
    val dir = if (ascending) col("cnt").asc else col("cnt").desc
    val w = Window.partitionBy(col("d")).orderBy(dir, col("grp"))
    grouped
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .drop("rn")
      .orderBy(col("d"), dir, col("grp"))
  }

  /** O17 — align the "visits" and "unique" daily series on day
    * (ballcone/web_ballcone.py:66-73). Spark coalesces the using-column
    * on a full-outer join, matching the reference's insertion-ordered
    * dict merge.
    */
  def alignByDate(visits: DataFrame, unique: DataFrame): DataFrame =
    // full-outer joins cannot broadcast in Spark; the sort-merge here
    // is over two day-keyed aggregate series (≤ the day count rows
    // even at 100 TB), so the shuffle is bounded and tiny
    visits.withColumnRenamed("cnt", "visits")
      .join(unique.withColumnRenamed("cnt", "uniq"), Seq("d"), "full_outer")
      .orderBy("d")

  /** Traffic-anomaly days: each day's visit count against its trailing
    * `trail`-day mean, flagged when the ratio leaves [1/factor, factor]
    * — the spike/drop alarm a monitoring dashboard derives from the
    * O11 daily series. The deliberately ratio-based form (no stddev)
    * keeps every derived column EXACT rational arithmetic over integer
    * counts, so the flag can never flip between engines on a last-ulp
    * variance difference.
    *
    * Scale shape: one daily aggregate (partial+final), then a window
    * over the day series — which is one row per day, thousands of rows
    * at any corpus size; the window cost is nil and the series fits
    * one partition by construction.
    */
  def anomalyDays(df: DataFrame, tsCol: String, trail: Int = 7,
                  factor: Double = 1.5): DataFrame = {
    // densify over a date spine first: zero-event days must appear as
    // cnt=0 rows, or (a) gaps silently compress the trailing window
    // across the gap and (b) a TOTAL outage day — the most anomalous
    // day possible — produces no row and can never be flagged. The
    // spine is a 1-row aggregate exploded to one row per day; the
    // series stays day-count-sized.
    val daily = dailyCount(df, tsCol)
    val dense = daily
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
      .join(daily, Seq("d"), "left")
      .select(col("d"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val w = Window.orderBy(col("d")).rowsBetween(-trail, -1)
    dense
      .withColumn("trail_avg", avg(col("cnt")).over(w))
      .withColumn("n_trail", count(col("cnt")).over(w))
      .filter(col("n_trail") === trail)
      // an all-zero trailing window makes the ratio 0/0: keep the
      // ratio NULL there and flag iff the day itself has traffic
      // (engine-portable — no IEEE Inf/NaN semantics in the compare)
      .withColumn("ratio",
        when(col("trail_avg") > 0, col("cnt") / col("trail_avg")))
      .select(col("d"), col("cnt"), col("trail_avg"), col("ratio"),
        when(col("trail_avg") > 0,
          col("ratio") > factor || col("ratio") < 1.0 / factor)
          .otherwise(col("cnt") > 0)
          .as("is_anomaly"))
  }

  /** Exponentially-weighted moving average of the daily visit series
    * (pandas `ewm(adjust=True)` semantics, truncated to a trailing
    * `window`-row horizon): the smoothed trend line a dashboard
    * overlays on raw counts.
    *
    * ewma_n = Σ_{k<m} 2^{−k}·x_{n−k} / Σ_{k<m} 2^{−k}, m = min(n,
    * window). With `alpha = 0.5` both sums scale by 2^{window−1} into
    * EXACT BIGINT arithmetic — num = Σ x·2^{window−1−k}, den = 2^window
    * − 2^{window−m} — and the single final double division is
    * bit-identical on both engines regardless of aggregation order.
    * The windowed horizon is what makes this possible AT ANY SERIES
    * LENGTH: the previous running-sum formulation multiplied by 2^i
    * (i = absolute row number), which overflows double at i ≥ 1024 —
    * about 2.8 years of days — and silently degraded exactness past
    * ~30 days; truncated weights below 2^{−29} differ from the
    * infinite-horizon EWMA by < 2^{−29} relative, well under any
    * dashboard's rendering precision.
    *
    * Shape: the daily series (one row per day) joins its own trailing
    * `window` rows by row-number range — a ≤window× fanout on a
    * day-count-sized frame, constant work per day forever.
    */
  def ewmaDaily(df: DataFrame, tsCol: String, window: Int = 30): DataFrame = {
    require(window >= 1 && window <= 30,
      "window in [1, 30] keeps the weighted sum exact in BIGINT " +
        "(counts up to 2^23 x weights up to 2^29 x 30 terms < 2^63)")
    val rn = Window.orderBy(col("d"))
    val daily = dailyCount(df, tsCol)
      .withColumn("i", row_number().over(rn))
    val hist = daily.select(col("i").as("j"), col("cnt").as("xj"))
    daily.join(hist,
        col("j") <= col("i") && col("j") > col("i") - window)
      .groupBy(col("d"), col("cnt"), col("i"))
      .agg(sum(col("xj") *
        expr(s"shiftleft(1L, ${window - 1} - (i - j))")).as("num"))
      .select(col("d"), col("cnt"),
        (col("num").cast("double") /
          expr(s"cast(shiftleft(1L, $window) - " +
            s"shiftleft(1L, $window - least(i, $window)) as double)"))
          .as("ewma"))
  }

  /** O18 — dashboard: one day's COUNT(DISTINCT field) per service, sorted
    * by (-count, service) (ballcone/web_ballcone.py:27-36). The reference
    * loops one query per service table; with a service column this is a
    * single grouped aggregate — one shuffle instead of N queries.
    */
  def dashboard(df: DataFrame, tsCol: String, serviceCol: String,
                field: String, dayStr: String): DataFrame =
    df.filter(DateRange.pred(col(tsCol), Some(dayStr), Some(dayStr)))
      .groupBy(col(serviceCol).as("service"))
      .agg(count_distinct(col(field)).as("cnt"))
      .orderBy(col("cnt").desc, col("service"))

  /** Daily dispersion of a numeric field: per-day count, mean, and
    * SAMPLE standard deviation computed from explicit sums in a
    * fixed closed form — sqrt((n·Σx² − (Σx)²) / (n·(n−1))) — rather
    * than an engine's streaming variance (Welford vs naive disagree
    * in low-order bits and combine order; the closed form over
    * reduced sums is one deterministic IEEE tree on both sides).
    * Single-day groups emit stddev 0.
    */
  def dailyStddev(df: DataFrame, tsCol: String,
                  field: String): DataFrame =
    df.groupBy(day(col(tsCol)).as("d"))
      .agg(count(col(field)).as("n"),
        sum(col(field)).as("sx"),
        sum(col(field) * col(field)).as("sxx"))
      .select(col("d"), col("n"),
        (col("sx") / col("n").cast("double")).as("mean"),
        when(col("n") > 1,
          sqrt(greatest(
            (col("n").cast("double") * col("sxx") - col("sx") * col("sx")) /
              (col("n").cast("double") * (col("n").cast("double") - 1.0)),
            lit(0.0))))
          .otherwise(lit(0.0)).as("stddev"))
      .orderBy(col("d"))

  /** Per-(day, group) share of the day's total — the O12 family
    * extended with the proportion every dashboard renders next to
    * the count. The day total joins back from the same aggregate
    * rolled up once more (day-count-sized, broadcastable), so the
    * event stream is scanned and shuffled exactly once; the share is
    * an exact bigint-over-bigint double division.
    */
  def dailyGroupShare(df: DataFrame, tsCol: String,
                      groupCol: String): DataFrame = {
    val counts = df.groupBy(day(col(tsCol)).as("d"),
        col(groupCol).as("grp"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("d")).agg(sum(col("cnt")).as("day_total"))
    counts.join(broadcast(totals), "d")
      .select(col("d"), col("grp"), col("cnt"), col("day_total"),
        (col("cnt").cast("double") / col("day_total").cast("double"))
          .as("share"))
      .orderBy(col("d"), col("cnt").desc, col("grp"))
  }

  /** Per-user lifespan rollup: first/last seen, distinct active days,
    * event count, and span in days — the base table for churn and
    * engagement cuts. One hash aggregate keyed on the user; the span
    * is date arithmetic on the aggregated bounds (no second scan).
    */
  def userLifespan(df: DataFrame, userCol: String,
                   tsCol: String): DataFrame =
    df.groupBy(col(userCol).as("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(day(col(tsCol))).as("active_days"),
        min(day(col(tsCol))).as("first_day"),
        max(day(col(tsCol))).as("last_day"))
      .withColumn("span_days",
        (datediff(col("last_day"), col("first_day")) + 1).cast("long"))

  /** Day-of-week seasonal profile over the daily-visit series: per
    * weekday, how many days were observed and the min/max/mean daily
    * count — the seasonality view behind "is Monday always this
    * quiet". The weekday index is EPOCH-DAY ARITHMETIC ((days since
    * 1970-01-01 + 3) mod 7 → 0 = Monday), not a dayofweek() builtin,
    * because Spark (1 = Sunday) and DuckDB (0 = Sunday) disagree on
    * the convention — the formula is engine-neutral by construction.
    *
    * Scale shape: rides [[dailyCount]]'s per-day aggregate; the
    * profile is a second hash agg over ≤ 7 output rows.
    */
  def dowProfile(df: DataFrame, tsCol: String): DataFrame =
    dailyCount(df, tsCol)
      .withColumn("dow",
        ((datediff(col("d"), lit("1970-01-01")) + 3) % 7).cast("long"))
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("cnt")).as("total"),
        min(col("cnt")).as("min_cnt"), max(col("cnt")).as("max_cnt"),
        (sum(col("cnt")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_cnt"))
}
