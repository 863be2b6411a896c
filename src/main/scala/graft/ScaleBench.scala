package graft

import org.apache.spark.sql.SparkSession

/** Scaling-curve harness: measures the dedup/ANN/intake headline at
  * sf0.001 / sf0.01 / sf0.1 PLUS a locally synthesized ~sf1 point
  * (10× sf0.1 via [[ScaleSynth]]) and ENFORCES near-linear wall-time
  * growth on the capped paths.
  *
  * Every 100 TB design claim in this repo (capped LSH buckets ⇒ linear
  * candidate pairs, broadcast decontamination, map-side ANN cell
  * assignment) is proven by plan shape and skew specs at fixed SF; this
  * main converts those arguments into MEASURED curves. The gate is
  * `t(10×) / t(1×) < bound` (default 15, SPARK_GRAFT_SCALE_BOUND) per
  * query between sf0.1 and the synthesized sf1: a hidden super-linear
  * constant (an uncapped bucket, an accidental cross join, a
  * driver-side collect growing with the corpus) blows straight past a
  * 15× allowance at 10× the rows, while honest near-linear paths with
  * fixed overheads land well under it.
  *
  * Output: one JSON line with per-query per-point seconds and 10×
  * ratios. Exit 1 when a quiet-box run violates the bound; exit 2 when
  * violations occurred but the box never went quiet (timings suspect —
  * see BenchEnv.awaitQuiet); exit 0 otherwise. SCALING.md records the
  * builder-box curves.
  */
object ScaleBench {

  /** The queries whose scale behavior carries the 100 TB claims:
    * MinHash+LSH near-dup, SimHash near-dup, cross-corpus LSH, the
    * full intake capstone, and IVF ANN search — plus (round 8) the
    * heavy shapes whose driver-bench numbers kept drifting without a
    * quiet-box curve to exonerate them: the ExactSubstr positional-gram
    * pass, the SimHash bit-sum fold, the triangle wedge join, the
    * curate→tokenize composite, batched BPE training, and the
    * sign-LSH ANN search (the other r7 "weak on measurement" query);
    * plus the late-round-8 classifier tier: NB train+score (two corpus
    * scans, dims-row broadcast model) and the feature-hashing
    * embedding (one explode + one docs·dims-keyed aggregation); plus
    * (round 9) the two newest headline SHAPES, which had driver
    * numbers but no curve: the per-row codec roundtrip
    * (mm_resize_real) and the multi-shuffle conditional LM
    * (text_bigram_lm).
    */
  val ScaleQueries: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_simhash_neardup", "dedup_cross_corpus_lsh",
    "pipeline_intake_dump", "sim_topk_ivf",
    "dedup_exact_substr", "dedup_simhash", "rel_triangles",
    "pipeline_curate_tokenize", "pipeline_bpe_train256",
    "sim_topk_lsh", "pipeline_nb_score", "text_hash_embed",
    "mm_resize_real", "text_bigram_lm",
    // round-9 additions whose 100 TB claims need curves: the exact
    // prefix-filtered set join (candidate space rides the shingle df
    // distribution), the capped-block edit-distance join (per-task
    // cost bounded by maxBlock^2 — the curve proves the cap holds as
    // blocks multiply), the linear-cost silhouette (the claim IS the
    // linearity), and the two-stage int8-coarse + exact-rerank ANN
    "dedup_ppjoin", "dedup_edit_blocked", "sim_silhouette",
    "sim_topk_rerank",
    // round 10: the block-combination SimHash banding — 28 exploded
    // (tab, key) rows per doc, one rank-capped equi-join; the curve
    // proves the 28x fan-out stays linear and the cap bounds the
    // candidate space as buckets densify
    "dedup_simhash_blocked",
    // round-10 batch 4/5: the star-alternation components measured on
    // their SCALE edge generator (LSH-verified pairs — the exact
    // ngramJaccard edges behind dedup_clusters_star refuse >100k docs
    // BY DESIGN, which the first sf10 attempt measured the hard way)
    // and the per-document PageRank keyword graph (3 fixed
    // iterations; cost ∝ Σ per-doc edges, partition width sized from
    // token mass — the fixed-32-partition version OOM'd at sf10)
    "dedup_lsh_components", "text_textrank",
    // round-10 batch 5: the fixed-round h-index coreness (4 rounds of
    // edges⨝values + per-node rank windows — cost ∝ edges, nodes
    // fixed, the bounded-round claim the exact peel can't make) and
    // the mergeable HLL (the claim IS that the shuffle carries ≤ m
    // register rows per day regardless of distinct volume — the
    // curve should be scan-bound linear)
    "rel_coreness", "o11_daily_unique_hll",
    // round 11: the NN-Descent graph build (the wedge cap's claim is
    // candidates ≤ 4nk² per round — linear in the vector count) and
    // the sorted-neighborhood dedup (two-level distributed rank +
    // g/g+1 windowed candidate joins — the curve proves the rank
    // never funnels through one reducer)
    "sim_knn_graph", "dedup_sorted_neighborhood",
    // round 12: the graph-ANN serving capstone — build + at-rest
    // write + fixed-round greedy walk; the claim is the walk's reads
    // are bucket-pruned (cost ∝ frontier, not corpus) so the curve
    // should track the BUILD's near-linear cost
    "sim_topk_graph",
    // round 14: the walk ALONE against a standing layout (built once
    // per point by the query's build-if-absent path; min-of-2 takes
    // the serve-only pass) — the claim is the sharpest in the suite:
    // serving cost ∝ frontier, NOT corpus, so the curve should be
    // near-FLAT across both decades
    "sim_topk_graph_serve",
    // round 15: the other two standing-index probes (self-contained
    // IVF and IVFPQ layouts; build-if-stale, so min-of-2 records the
    // serve-only pass) — the expectation is graph-serve-class flat
    // curves: probe reads prune to probe/√n cell dirs and the scoring
    // join is query-side-bounded; a non-flat curve here is a finding
    "sim_topk_ivf_atrest_serve", "sim_topk_ivfpq_atrest_serve",
    // round 15: the de-NTILE'd corpus tier splits (the r14 verdict's
    // last single-reducer plans, now the range-sampled two-level
    // rank) — the curve is the proof the fix holds at decade scale:
    // the heavy lifting is the LM scoring (linear bigram joins), the
    // rank is bucket-local sorts over (doc_id, score) rows
    "pipeline_ccnet_buckets", "pipeline_kn_buckets",
    // round 16: the two remaining "bounded by construction" window
    // claims get the measured treatment the tier splits got — the
    // vocab-growth cumulative sum runs the two-level bucket prefix
    // sum (windows only over ≤|partitions|-row offset tables), the
    // NB-AUC rank runs over distinct integer vote sums (≤ vote range,
    // not corpus-sized); both curves should be scan/agg-dominated
    "text_vocab_growth", "pipeline_nb_auc",
    // round 16: FAISS-style incremental add on the IVFPQ tier — the
    // claim is append cost ∝ delta (assign + encode under stored
    // state, footer-count + window-sig fingerprint), never a base
    // rescan; the query prices build(4/5) + append(1/5) + probe, so
    // its curve should track the fresh-build query's
    "sim_topk_ivfpq_append",
    // round 17: insertion-by-search on the graph tier — the append
    // claim here is one bounded walk per inserted node (cost ∝ delta
    // × serve-walk cost, never a re-descent), so the lifecycle curve
    // should track sim_topk_graph's build-dominated shape; the append
    // phase ALONE was priced in r17 (COVERAGE.md, "The append phase
    // priced ALONE"): a fixed 200-row graph append took 18.6→21.5 s
    // across the sf0.1→sf1 decade, dominated by the walk's fixed
    // 4-round cost at these sizes
    "sim_topk_graph_append")

  /** The subset also measured at the SECOND synthesized decade (sf10 =
    * 100× sf0.1 via the two-level substitution). Two consecutive
    * decades each under the bound is far stronger evidence than one:
    * a log-linear or quadratic term that hides in decade one's fixed
    * overheads shows in decade two. Round 9 extends the set from the
    * original five headliners to the six r8 single-decade queries —
    * rel_triangles especially, whose 6.59× decade-1 ratio needs a
    * second point to distinguish m^1.5 wedge growth from a cliff.
    */
  val Sf10Queries: Set[String] = Set(
    "dedup_minhash_lsh", "dedup_simhash_neardup", "dedup_cross_corpus_lsh",
    "pipeline_intake_dump", "sim_topk_ivf",
    "dedup_exact_substr", "dedup_simhash", "rel_triangles",
    "pipeline_curate_tokenize", "pipeline_bpe_train256", "sim_topk_lsh",
    // round 9: second decade for edit_blocked (cap saturation
    // predicts a flat ratio) and silhouette (the linearity claim)
    "dedup_edit_blocked", "sim_silhouette",
    // round 10: dedup_ppjoin joins decade 2 — the r9 exclusion (8 GiB
    // OOM enumerating the Theta(replicas^2) true-pair output) was
    // really the AllPairs-grade candidate space; with the position
    // filter in, the sf10 point runs to completion in ~100 s on the
    // same heap (single-shot probe before wiring: 13.3 s -> 99.5 s,
    // ratio ~7.5 under the bound). Also the five remaining
    // single-decade curves, closing the r9 evidence gap: NB scoring,
    // the per-row codec roundtrip, the feature-hash embedding, the
    // conditional bigram LM, and the int8-coarse + exact-rerank ANN.
    "dedup_ppjoin", "pipeline_nb_score", "mm_resize_real",
    "text_hash_embed", "text_bigram_lm", "sim_topk_rerank",
    // round 10: the lossless simhash banding measures both decades
    // from day one — its candidate bound (28·256·cap²) predicts a
    // flat curve once buckets saturate
    "dedup_simhash_blocked",
    // round-10 batch 4/5: both iterative-graph shapes at both
    // decades, on their scale-path edge generators
    "dedup_lsh_components", "text_textrank",
    // round-10 batch 5: both newcomers take both decades from day one
    "rel_coreness", "o11_daily_unique_hll",
    // round 11: both newcomers at both decades — NND's wedge cap and
    // SNM's two-level rank are exactly the claims a second decade
    // distinguishes from fixed-overhead luck
    "sim_knn_graph", "dedup_sorted_neighborhood",
    // round 12: the serving walk at both decades — single-shot probes
    // before wiring: 20.8 s sf1 / see SCALING_r12 for the recorded
    // curve (the lesson stands: queries join these sets only in the
    // same round a full regeneration records them)
    "sim_topk_graph",
    // round 14: serve-only at both decades — the near-flat claim is
    // exactly what a second decade distinguishes from small-point luck
    "sim_topk_graph_serve",
    // round 15: both at-rest probes at both decades, same rationale
    "sim_topk_ivf_atrest_serve", "sim_topk_ivfpq_atrest_serve",
    // round 15: both tier splits at both decades — a distributed-rank
    // claim is exactly what a second decade distinguishes from
    // fixed-overhead luck (the sorted-neighborhood precedent)
    "pipeline_ccnet_buckets", "pipeline_kn_buckets",
    // round 16: the two newly-measured window claims at both decades,
    // same rationale (a bounded-window claim that only LOOKS flat
    // under decade one's fixed overheads shows at decade two)
    "text_vocab_growth", "pipeline_nb_auc",
    // round 17: the IVFPQ append lifecycle completes its decade (the
    // r16 verdict's missing point) — the end-to-end curve should
    // track the fresh-build query's; priced alone in r17 (COVERAGE.md,
    // "The append phase priced ALONE"), a fixed 200-row IVFPQ append
    // was corpus-flat (3.0→6.1 s) while the build grew 5.2→32.2 s
    "sim_topk_ivfpq_append",
    // round 18: the graph-append lifecycle at both decades (the r17
    // verdict's missing rows — "append cost ∝ delta" needs the same
    // two-decade treatment every other lifecycle claim got)
    "sim_topk_graph_append")

  /** Queries whose largest point sits at the 8 GiB heap edge and
    * swings run-to-run on GC luck for an UNCHANGED plan
    * (dedup_ppjoin: 30.5–51.1 s observed at sf10 across r12): their
    * sf10 measurement is min-of-3 so the recorded curve is the
    * stable point, not the draw.
    */
  val VarianceProne: Set[String] = Set("dedup_ppjoin")

  /** Per-(query, point) MINIMUM seconds across every SCALING_r*.json
    * in `dir` — the rerun reference (the [[Bench.bestKnown]] idea at
    * point granularity). The r13 scale record's absolutes were
    * 1.4–1.6× ambient-inflated while reporting `contended: false`
    * (the per-query ARM gate held but the load ramped during
    * measurement); the min over history is the floor a contaminated
    * point is checked against. Point labels are the `"sfX":seconds`
    * pairs inside each query's object; ratio/sweep/error fields don't
    * match the sf-prefixed label pattern.
    */
  def bestKnownPoints(dir: java.io.File): Map[(String, String), Double] = {
    val filePat = """SCALING_r\d+\.json""".r
    val obj = """"([A-Za-z0-9_]+)"\s*:\s*\{([^{}]*)\}""".r
    val pair = """"(sf[0-9.]+)"\s*:\s*(-?[0-9.eE+]+)""".r
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => filePat.findFirstIn(f.getName).contains(f.getName))
    files.flatMap { f =>
      scala.util.Try {
        val src = scala.io.Source.fromFile(f)
        try src.mkString finally src.close()
      }.toOption.toSeq.flatMap { text =>
        obj.findAllMatchIn(text).flatMap { m =>
          val q = m.group(1)
          pair.findAllMatchIn(m.group(2)).flatMap { p =>
            scala.util.Try((q, p.group(1)) -> p.group(2).toDouble).toOption
          }
        }
      }
    }.filter(_._2 > 0)
      .groupMapReduce(_._1)(_._2)(math.min)
  }

  def main(args: Array[String]): Unit = {
    val testdata =
      sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
    val sf1Dir =
      sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft-scale/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val bound =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_BOUND", "15.0").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SargableDates

    val (docRows, embRows) =
      ScaleSynth.synthesize(spark, s"$testdata/sf0.1", sf1Dir, replicas = 10)
    System.err.println(s"[scale] sf1 ready: $docRows docs, $embRows vecs")

    // second decade: sf10 = 100 replicas of sf0.1 (SPARK_GRAFT_SF10=0
    // skips it — halves harness runtime when only decade one matters)
    val withSf10 = sys.env.getOrElse("SPARK_GRAFT_SF10", "1") != "0"
    val sf10Dir =
      sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/graft-scale/sf10")
    if (withSf10) {
      val (d10, e10) =
        ScaleSynth.synthesize(spark, s"$testdata/sf0.1", sf10Dir,
          replicas = 100)
      System.err.println(s"[scale] sf10 ready: $d10 docs, $e10 vecs")
    }

    val quiet = BenchEnv.awaitQuiet()
    val loadStart = BenchEnv.loadavg()

    val points: Seq[(String, String)] = Seq(
      "sf0.001" -> s"$testdata/sf0.001",
      "sf0.01" -> s"$testdata/sf0.01",
      "sf0.1" -> s"$testdata/sf0.1",
      "sf1" -> sf1Dir)
    def pointsFor(q: String): Seq[(String, String)] =
      if (withSf10 && Sf10Queries(q)) points :+ ("sf10" -> sf10Dir)
      else points

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // warm-up failures key under "warmup:" so a transient warm-up error
    // never shadows (getOrElseUpdate) the real measured failure, and a
    // warm-up-only blip doesn't fail a run whose measured passes are
    // clean — warmup keys are excluded from the exit-code decision
    def once(name: String, dir: String, warmup: Boolean = false): Double = {
      val t0 = System.nanoTime()
      try Queries.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        val key = (if (warmup) "warmup:" else "") + s"$name@$dir"
        errors.getOrElseUpdate(key,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    def minOfN(name: String, dir: String, n: Int): Double = {
      val runs = (1 to n).map(_ => once(name, dir))
      if (runs.exists(_ < 0)) -1.0 else runs.min
    }
    def minOf2(name: String, dir: String): Double = minOfN(name, dir, 2)

    // warm codegen/broadcast machinery on the small point first
    ScaleQueries.foreach(q => once(q, s"$testdata/sf0.01", warmup = true))

    // measure smallest-to-largest so JIT state only ever favors the
    // SMALL points (biasing ratios conservative, not optimistic); the
    // quiet gate re-arms per query so load arriving mid-run shows up
    // as a wait, not a poisoned ratio (round 7's driver-bench lesson)
    var midRunContended = false
    val quietLoadT =
      sys.env.getOrElse("SPARK_GRAFT_QUIET_LOAD", "3.0").toDouble
    val maxReruns = sys.env.getOrElse("SPARK_GRAFT_MAX_RERUNS", "2").toInt
    val prevPts = bestKnownPoints(new java.io.File("."))
    val suspects = scala.collection.mutable.ArrayBuffer.empty[String]
    // per-point hypervisor-steal core-seconds (latest measurement) —
    // the contaminant loadavg cannot see (the Bench steal rule at
    // point granularity); keyed "q@label" in its own JSON object so
    // bestKnownPoints's "sfX":sec parser never sees these entries
    val steal = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // the r13 hole, closed with the Bench post-measurement rule at
    // POINT granularity: the arm-time gate is blind to a load ramp
    // DURING a measurement, so the loadavg is read again after each
    // point; a post-load breach while the value sits >1.5× its
    // best-known floor (or has NO floor — a first-round point) re-runs
    // under the quiet gate, and a point that never got a quiet-armed
    // pass lands in `suspect` — a contaminated absolute can no longer
    // present as a quiet one. A value that REPRODUCES under a
    // quiet-armed rerun is a legitimate cost change (the harness's own
    // 32-thread work keeps post-load high on an idle box, so post-load
    // alone cannot condemn it).
    val times: Map[String, Map[String, Double]] = ScaleQueries.map { q =>
      if (BenchEnv.load1() >= quietLoadT)
        midRunContended |= !BenchEnv.awaitQuiet()
      q -> pointsFor(q).map { case (label, dir) =>
        // variance-prone queries take min-of-3 at the heap-edge sf10
        // point: dedup_ppjoin's unchanged plan swung 30.5-51.1 s on
        // GC luck there (r12 verdict watch) — one extra pass records
        // the stable point instead of the draw
        val passes = if (label == "sf10" && VarianceProne(q)) 3 else 2
        val st0 = BenchEnv.stealTicks()
        var best = minOfN(q, dir, passes)
        steal(s"$q@$label") = BenchEnv.stealSecondsSince(st0)
        var loadEnd = BenchEnv.load1()
        // taint = post-load breach OR >5% of the window's core-time
        // stolen by the hypervisor (steal core-s vs wall × cores over
        // the `passes` measurements) — the Bench steal trigger
        def stealHigh: Boolean =
          steal(s"$q@$label") > 0 && best > 0 &&
            steal(s"$q@$label") >
              0.05 * cpus.toInt * (passes.toDouble * best)
        def contaminated: Boolean =
          best > 0 && (loadEnd >= quietLoadT || stealHigh) &&
            prevPts.get((q, label)).fold(true)(p => p > 0 && best > p * 1.5)
        var quietVerified = false
        var tries = 0
        while (contaminated && !quietVerified && tries < maxReruns) {
          tries += 1
          System.err.println(f"[scale] $q@$label ${best}%.2f s suspect " +
            f"(floor ${prevPts.getOrElse((q, label), -1.0)}%.2f s, " +
            f"post-load $loadEnd%.2f, steal ${steal(s"$q@$label")}%.2f " +
            "core-s) - quiet rerun " + tries)
          quietVerified = BenchEnv.awaitQuiet()
          midRunContended |= !quietVerified
          val stR = BenchEnv.stealTicks()
          val again = minOfN(q, dir, passes)
          steal(s"$q@$label") = BenchEnv.stealSecondsSince(stR)
          loadEnd = BenchEnv.load1()
          if (again > 0) best = math.min(best, again)
        }
        if (contaminated && !quietVerified) suspects += s"$q@$label"
        label -> best }.toMap
    }.toMap

    // maxBlock cost/recall sweep for the suite's most expensive query:
    // the block cap is the knob a 100 TB edit-distance dedup tunes —
    // record the measured (seconds, pairs-found) point per cap at
    // sf0.1 so the chosen 64 is a documented trade, not a default
    val sweep = Seq(32, 64).map { cap =>
      val docs = graft.core.Tables
        .read(spark, s"$testdata/sf0.1", "documents")
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup
        .editDistancePairs(docs, 8, 16, cap).count()
      (cap, (System.nanoTime() - t0) / 1e9, pairs)
    }
    val sweepJson = sweep.map { case (c, s, p) =>
      s""""cap_$c":{"sec":$s,"pairs":$p}""" }.mkString("{", ",", "}")

    // the gate is PER DECADE: sf0.1→sf1 for every query, and sf1→sf10
    // for the five second-decade queries — each 10× in rows must stay
    // under the same bound
    val ratios: Map[String, Double] = ScaleQueries.map { q =>
      val t1 = times(q)("sf0.1"); val t10 = times(q)("sf1")
      q -> (if (t1 > 0 && t10 > 0) t10 / t1 else -1.0)
    }.toMap
    val ratios2: Map[String, Double] = ScaleQueries.flatMap { q =>
      times(q).get("sf10").map { t100 =>
        val t10 = times(q)("sf1")
        q -> (if (t10 > 0 && t100 > 0) t100 / t10 else -1.0)
      }
    }.toMap
    val violations =
      (ratios.filter { case (_, r) => r < 0 || r >= bound }.keys ++
        ratios2.filter { case (_, r) => r < 0 || r >= bound }.keys
          .map(_ + "@decade2")).toSeq.sorted

    val qJson = ScaleQueries.map { q =>
      val pts = pointsFor(q).map { case (l, _) =>
        s""""$l":${times(q)(l)}""" }.mkString(",")
      val d2 = ratios2.get(q).map(r => s""","ratio_decade2":$r""").getOrElse("")
      s""""$q":{$pts,"ratio_10x":${ratios(q)}$d2}"""
    }.mkString("{", ",", "}")
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }
    val errJson = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    val vJson = violations.map(v => s""""$v"""").mkString("[", ",", "]")
    // NOTE deliberately NOT flagged on end-of-RUN loadavg: this
    // harness's own 32-thread sf10 work keeps the 1-min loadavg ≈ 14
    // at the end of a CLEAN run (SCALING_r12 measured exactly that).
    // Contention protection is the per-query re-armed gate PLUS the
    // per-POINT post-measurement suspect rule above — `suspect` lists
    // the points this run could not quiet-verify.
    val contended = !quiet || midRunContended || suspects.nonEmpty
    val suspectJson = suspects.map(s => s""""$s"""").mkString("[", ",", "]")
    val stealJson = steal.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"scale","queries":$qJson,"bound":$bound,""" +
      s""""edit_blocked_sweep":$sweepJson,"suspect":$suspectJson,""" +
      s""""query_steal":$stealJson,""" +
      s""""violations":$vJson,"contended":$contended,"errors":$errJson,""" +
      s""""loadavg_start":"$loadStart","loadavg_end":"${BenchEnv.loadavg()}",""" +
      s""""passes":"min_of_2","sf1_docs":$docRows,"sf1_vecs":$embRows}"""
    println(line)
    // land the curves beside BENCH_r{N}.json so scaling regressions are
    // caught per-round: round number from SPARK_GRAFT_ROUND, else
    // newest BENCH_r{N} + 1 (the driver writes BENCH at round end, so
    // mid-round the newest one is the PREVIOUS round's)
    val outPath = sys.env.get("SPARK_GRAFT_SCALING_OUT").getOrElse {
      val n = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt).getOrElse {
        Bench.newestBench(new java.io.File("."))
          .map(_.getName.replaceAll("""\D""", "").toInt + 1).getOrElse(0)
      }
      f"SCALING_r$n%02d.json"
    }
    try {
      val w = new java.io.PrintWriter(outPath, "UTF-8")
      try w.println(line) finally w.close()
      System.err.println(s"[scale] wrote $outPath")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[scale] could not write $outPath: $e")
    }
    spark.stop()
    // warm-up-only failures don't gate; measured failures do
    if (errors.keys.exists(!_.startsWith("warmup:")) || violations.nonEmpty)
      sys.exit(if (quiet && !midRunContended) 1 else 2)
  }
}
