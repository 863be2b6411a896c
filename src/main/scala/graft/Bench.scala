package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract → BENCH_r{N}.json).
  *
  * Each query is forced end-to-end with a noop-format write so the full
  * plan executes (a bare `count()` would let Catalyst prune most of the
  * work). One warm-up pass of the first query absorbs JVM/codegen
  * startup so numbers reflect steady-state execution.
  *
  * Contention discipline (round 7 post-mortem: a run that started at
  * loadavg 2.94 ended at 10.29 and inflated two untouched ANN queries
  * 5-20× while self-labeling "not contended"):
  *  - the quiet-box gate re-arms BETWEEN queries, not just at the start
  *    — when the 1-min loadavg has climbed past the threshold, the
  *    harness waits (bounded) for it to drop before the next query;
  *  - the loadavg at measurement time is recorded PER QUERY
  *    (`query_load`), so any one number can be audited for contention
  *    after the fact;
  *  - each query is checked against the previous round's time (parsed
  *    from the newest BENCH_r*.json in the working directory, or
  *    SPARK_GRAFT_PREV_BENCH): a result >3× its prior-round value
  *    triggers an automatic quiet-wait + re-run (up to
  *    SPARK_GRAFT_MAX_RERUNS, default 2), keeping the minimum across
  *    all passes. A genuine plan regression reproduces on a quiet box;
  *    a load spike does not.
  *  - (round 13, after a load ramp DURING measurement slipped every
  *    arm-time check and inflated three r12 numbers 2-3×) the loadavg
  *    is read again AFTER each measurement (`query_load_end`); a
  *    post-load breach plus a >1.5× regression vs best-known re-runs
  *    under the gate; a query still in that state whose reruns never
  *    armed quiet lands in `suspect` and flags the artifact
  *    `contended` — a contaminated number can no longer present as a
  *    quiet one, while a value that reproduces under a quiet-armed
  *    rerun is accepted as a legitimate cost change (a heavy query's
  *    own threads keep the post-load above the gate even on an idle
  *    box, so post-load alone cannot condemn it).
  */
object Bench {

  /** Per-query seconds from a prior bench file. Two formats exist:
    * this harness's own output line (flat `"queries":{"name":sec,...}`)
    * and the driver's `BENCH_r*.json`, which wraps that line ESCAPED
    * inside a `"tail"` field (`\"queries\":{\"name\":sec,...`). The raw
    * text is tried first; when the flat object is absent the text is
    * JSON-unescaped (`\"` → `"`) and re-tried — so the historical-
    * minimum reference is populated from either format. (Round 8
    * shipped a raw-only parse: the >3× rerun guard silently never
    * fired against driver files.)
    */
  def parsePrevQueries(text: String): Map[String, Double] = {
    val qObj = """"queries"\s*:\s*\{([^}]*)\}""".r
    val pair = """"([^"]+)"\s*:\s*(-?[0-9.eE+-]+)""".r
    def parse(t: String): Map[String, Double] =
      qObj.findFirstMatchIn(t).map { m =>
        pair.findAllMatchIn(m.group(1)).flatMap { p =>
          scala.util.Try(p.group(1) -> p.group(2).toDouble).toOption
        }.toMap
      }.getOrElse(Map.empty)
    val raw = parse(text)
    if (raw.nonEmpty) raw else parse(text.replace("\\\"", "\""))
  }

  /** Newest BENCH_r{N}.json in `dir` by round number, if any. */
  def newestBench(dir: java.io.File): Option[java.io.File] = {
    val pat = """BENCH_r(\d+)\.json""".r
    Option(dir.listFiles()).getOrElse(Array.empty).flatMap { f =>
      f.getName match {
        case pat(n) => Some(n.toInt -> f)
        case _ => None
      }
    }.sortBy(-_._1).headOption.map(_._2)
  }

  /** Per-query MINIMUM seconds across every BENCH_r*.json in `dir` —
    * the rerun reference. Using the min over history (not just the
    * newest round) keeps the >3× outlier check sharp even when the
    * previous round's numbers were themselves contention-inflated
    * (round 7: sim_topk_ivf recorded 8.82 s vs a 0.44 s quiet-box
    * truth — a newest-only reference would have let a 26 s measurement
    * through unchallenged). Errored entries (-1) are ignored.
    */
  def bestKnown(dir: java.io.File): Map[String, Double] = {
    val pat = """BENCH_r(\d+)\.json""".r
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => pat.findFirstIn(f.getName).contains(f.getName)) ++
      // the local per-run floor history (see main): every line is one
      // full bench line, immune to the driver artifact's truncation
      Option(new java.io.File(dir, "BENCH_LOCAL.jsonl"))
        .filter(_.isFile).toArray
    files.flatMap { f =>
      scala.util.Try {
        val src = scala.io.Source.fromFile(f)
        val text = try src.mkString finally src.close()
        // line-by-line first (BENCH_LOCAL.jsonl holds one full bench
        // line per run — a whole-file parse would stop at the FIRST
        // queries object and drop every later run's floors), falling
        // back to the whole file when no line parses on its own: a
        // pretty-printed or line-wrapped BENCH_r*.json would otherwise
        // silently contribute nothing, re-opening the unbaselined-
        // rerun hole the floor history exists to close
        val perLine = text.linesIterator
          .flatMap(l => parsePrevQueries(l).toSeq).toList
        if (perLine.nonEmpty) perLine else parsePrevQueries(text).toList
      }.getOrElse(List.empty)
    }.filter(_._2 > 0)
      .groupMapReduce(_._1)(_._2)(math.min)
  }

  /** Seconds as the contract line prints them: 3 decimals, '.' always. */
  private def sec(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }

  /** The lean contract line: the LAST stdout line, read from a
    * 2000-char output tail that also holds sbt's `[info] ` prefix and its
    * closing `[success] Total time ...` line. Seconds carry 3 decimals,
    * `sf` is the data directory's basename, and the contention verdict
    * is a flag plus the number of suspect queries (their names are in
    * the full line). `queries` stays last, inside any surviving suffix.
    */
  def contractLine(results: Seq[(String, Double)], errors: collection.Map[String, String],
                   contended: Boolean, suspects: Int, sfDir: String): String = {
    val total = results.map(_._2).filter(_ >= 0).sum
    val errJson = errors.map { case (k, v) => s""""$k":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s""""$k":${sec(v)}""" }
      .mkString("{", ",", "}")
    val sf = new java.io.File(sfDir).getName
    s"""{"metric":"total","value":${sec(total)},"errors":$errJson,""" +
      s""""contended":$contended,"suspect":$suspects,"sf":"${esc(sf)}","queries":$qs}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val maxReruns = sys.env.getOrElse("SPARK_GRAFT_MAX_RERUNS", "2").toInt
    val rerunFactor =
      sys.env.getOrElse("SPARK_GRAFT_RERUN_FACTOR", "3.0").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SargableDates

    // per-query best-known times: the rerun oracle. Absent history or
    // query → no rerun trigger (first round, renamed query).
    // SPARK_GRAFT_PREV_BENCH pins a single reference file instead.
    val prev: Map[String, Double] =
      sys.env.get("SPARK_GRAFT_PREV_BENCH").map(new java.io.File(_))
        .map { f =>
          scala.util.Try {
            val src = scala.io.Source.fromFile(f)
            try parsePrevQueries(src.mkString) finally src.close()
          }.getOrElse(Map.empty[String, Double])
        }.getOrElse(bestKnown(new java.io.File(".")))

    // a query failure must FAIL the bench (errors listed + nonzero
    // exit), not silently vanish from the total and make a regression
    // look like a speedup
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        Queries.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        errors.getOrElseUpdate(name,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Each query runs twice and reports the faster pass: the first
    // execution is dominated by one-time JIT + whole-stage-codegen
    // compilation (up to 3x the steady-state time at this data size),
    // and steady-state throughput is the quantity that scales to the
    // cluster. Cold-start cost is amortized over a job's lifetime.
    def minOf2(name: String): Double = {
      val a = once(name)
      val b = once(name)
      if (a < 0 || b < 0) -1.0 else math.min(a, b)
    }

    val queryLoad =
      scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val queryLoadEnd =
      scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // hypervisor-steal core-seconds observed across a query's
    // measurement passes — the contaminant loadavg cannot see (r14
    // textrank decomposition); -1 when /proc/stat is unreadable
    val querySteal =
      scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val reruns = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    var everContended = false
    val quietLoad =
      sys.env.getOrElse("SPARK_GRAFT_QUIET_LOAD", "3.0").toDouble

    // Re-armed quiet gate + outlier re-run: measure, and while the
    // result is >rerunFactor× the previous round's time, wait for a
    // quiet box and measure again (bounded by maxReruns). The minimum
    // across passes is reported — min-of-N under contention converges
    // on the steady-state number a quiet box would have produced.
    //
    // The arm-time gate alone is blind to a job RAMPING mid-measurement
    // (round 12: loadavg ran 2.9→7.7 while every query_load read below
    // the gate, inflating three queries 2-3×), so the loadavg is also
    // read AFTER each measurement: a query whose post-load breached the
    // gate AND whose time regressed >1.5× its best-known value is
    // treated as contaminated and re-run under the quiet gate.
    // a query is "quiet-verified" when at least one rerun pass ARMED
    // quiet (loadavg below the gate at rerun start): a value that
    // reproduces under a quiet arm is a legitimate cost, not
    // contamination — without this, any heavy query that genuinely
    // got slower would flag itself forever, because its OWN 30+ s of
    // 32-thread work keeps the post-measurement loadavg above the
    // gate on a perfectly quiet box
    val quietVerified =
      scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    def run(name: String): Double = {
      if (BenchEnv.load1() >= quietLoad)
        everContended |= !BenchEnv.awaitQuiet()
      queryLoad(name) = BenchEnv.load1()
      val st0 = BenchEnv.stealTicks()
      var best = minOf2(name)
      querySteal(name) = BenchEnv.stealSecondsSince(st0)
      queryLoadEnd(name) = BenchEnv.load1()
      // a measurement is environment-tainted when the post-load
      // breached the gate OR the hypervisor stole >5% of the window's
      // core-time (steal core-s vs wall × cores of the ~2 passes) —
      // the r14 steal-based trigger; either taint plus a regression
      // (or no floor at all) demands a quiet-armed confirmation
      def stealHigh: Boolean =
        querySteal.getOrElse(name, -1.0) > 0 && best > 0 &&
          querySteal(name) > 0.05 * cpus.toInt * (2.0 * best)
      def contaminated: Boolean =
        (queryLoadEnd(name) >= quietLoad || stealHigh) &&
          (prev.get(name) match {
            // no best-known floor (brand-new query, first round): a
            // post-load breach alone is enough to demand ONE
            // quiet-armed confirmation pass — without this, a load
            // ramp during a first-round measurement records as a
            // quiet number because every regression check needs a
            // baseline to regress FROM (r13 ADVICE). One quiet-armed
            // pass settles it: the query's own threads keep post-load
            // high on an idle box, so repeating would burn reruns
            // forever on every heavy newcomer.
            case None => !quietVerified.getOrElse(name, false)
            case Some(p) => p > 0 && best > p * 1.5
          })
      var tries = 0
      while (best > 0 && tries < maxReruns &&
          (prev.get(name).exists(p => p > 0 && best > p * rerunFactor) ||
            contaminated)) {
        tries += 1
        System.err.println(f"[bench] $name%s ${best}%.2f s suspect " +
          f"(prev ${prev.getOrElse(name, -1.0)}%.2f s, post-load " +
          f"${queryLoadEnd(name)}%.2f) - rerun $tries")
        val armedQuiet = BenchEnv.awaitQuiet()
        everContended |= !armedQuiet
        quietVerified(name) = quietVerified.getOrElse(name, false) ||
          armedQuiet
        queryLoad(name) = BenchEnv.load1()
        val stR = BenchEnv.stealTicks()
        val again = minOf2(name)
        // overwrite with the latest pass's delta: the trigger and the
        // recorded annotation describe the most recent environment
        querySteal(name) = BenchEnv.stealSecondsSince(stR)
        queryLoadEnd(name) = BenchEnv.load1()
        if (again > 0) best = math.min(best, again)
      }
      if (tries > 0) reruns(name) = tries
      best
    }

    // quiet-box gate: wait (bounded) for the 1-min loadavg to drop
    // before the first timed pass, and self-label the run "contended"
    // on timeout — a loaded-box number must never read as a plan
    // regression (round 6: loadavg 5.35 measured a 1.3 s query at 6.2 s)
    val quiet = BenchEnv.awaitQuiet()
    everContended = !quiet
    val loadStart = BenchEnv.loadavg()

    // global warm-up covering the distinct infrastructure paths:
    // parquet scan + sort (o08), broadcast-join machinery (q5), and
    // the documents/md5 pipeline — broadcast thread pools and codegen
    // for these dominate first-run noise otherwise
    Seq("o08_select_range", "tpch_q5_local_supplier", "text_stats")
      .foreach(once)
    val results = Queries.headline.map(n => n -> run(n))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val errJson = errors.map { case (k, v) => s""""$k":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    val loadJson = queryLoad.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    val rerunJson = reruns.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    val loadEndJson = queryLoadEnd.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    val stealJson = querySteal.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    // self-identification rule for the r12 failure mode (a load ramp
    // DURING measurement recorded as quiet): a query whose
    // post-measurement load breached the gate, whose reported time is
    // still >1.5× its best-known value, AND that never got a
    // quiet-armed rerun is a number this run could not verify — list
    // it and flag the artifact. A value that REPRODUCED under a
    // quiet-armed rerun is a legitimate cost change, and a blanket
    // end-loadavg flag would false-flag clean runs (the harness's own
    // final heavy query keeps the 1-min loadavg elevated at run end).
    // unbaselined queries (no prev entry) flag on the post-load breach
    // alone — with no floor to regress from, an unverified number
    // under load is exactly the class the rule exists to catch
    val suspect = results.collect { case (n, v) if v > 0 &&
        (queryLoadEnd.getOrElse(n, 0.0) >= quietLoad ||
          (querySteal.getOrElse(n, -1.0) > 0 &&
            querySteal(n) > 0.05 * cpus.toInt * (2.0 * v))) &&
        prev.get(n).fold(true)(p => p > 0 && v > p * 1.5) &&
        !quietVerified.getOrElse(n, false) => n }
    everContended |= suspect.nonEmpty
    val suspectJson = suspect.map(n => s""""$n"""").mkString("[", ",", "]")
    // Two output lines since round 18 (r17 verdict: the driver keeps
    // only the TAIL of stdout, and the inlined query_load/query_steal
    // telemetry — 58 entries each since r16 — pushed the line's HEAD
    // past the kept window, so the driver's JSON parse failed and
    // PERF_r16/r17 per-query comparisons came back empty):
    //  - the FULL line (all contention/steal telemetry) goes to stderr
    //    and BENCH_LOCAL.jsonl, where bestKnown and humans read it;
    //  - the LEAN contract line ([[contractLine]]) is the LAST
    //    stdout line, small enough to survive the tail window whole.
    //    `queries` still rides at the END of both lines (round-9
    //    lesson: trailing placement keeps the per-query record inside
    //    any suffix that survives).
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","errors":$errJson,"contended":$everContended,"suspect":$suspectJson,"loadavg_start":"$loadStart","loadavg_end":"${BenchEnv.loadavg()}","query_load":$loadJson,"query_load_end":$loadEndJson,"query_steal":$stealJson,"reruns":$rerunJson,"passes":"min_of_2","sf":"$sfDir","queries":$qs}"""
    System.err.println(fullLine)
    // local floor history (BENCH_LOCAL.jsonl, appended per run): the
    // in-repo reference bestKnown reads alongside the driver files, so
    // the rerun guard keeps floors even if an artifact truncates again
    try {
      val w = new java.io.FileWriter("BENCH_LOCAL.jsonl", true)
      try w.write(fullLine + "\n") finally w.close()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not append BENCH_LOCAL.jsonl: $e")
    }
    println(contractLine(results, errors, everContended, suspect.size, sfDir))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
