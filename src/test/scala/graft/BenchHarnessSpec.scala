package graft

import org.scalatest.funsuite.AnyFunSuite

/** The contention-proofing pieces of the [[Bench]] harness (round 7
  * post-mortem: a run that started quiet ended at loadavg 10.29 and
  * inflated two untouched queries 5-20× while self-labeling "not
  * contended"): prior-round parsing drives the >3× auto-rerun, and
  * newest-BENCH selection must pick the highest round, not the
  * lexicographically last file.
  */
class BenchHarnessSpec extends AnyFunSuite {

  test("parsePrevQueries reads this harness's own output line") {
    val line = """{"metric":"total","value":27.05,"unit":"sec","queries":""" +
      """{"o08_select_range":0.21,"sim_topk_ivf":8.82,"neg":-1.0,""" +
      """"sci":1.2e-2},"errors":{},"sf":"/root/testdata/sf0.1"}"""
    val got = Bench.parsePrevQueries(line)
    assert(got("o08_select_range") === 0.21)
    assert(got("sim_topk_ivf") === 8.82)
    assert(got("neg") === -1.0)
    assert(got("sci") === 0.012)
    assert(got.size === 4)
  }

  test("parsePrevQueries is empty on junk or missing queries object") {
    assert(Bench.parsePrevQueries("""{"metric":"total"}""").isEmpty)
    assert(Bench.parsePrevQueries("not json at all").isEmpty)
  }

  test("parsePrevQueries reads the driver's BENCH_r*.json format " +
       "(queries escaped inside the tail field)") {
    // byte-exact copy of the real round-7 driver file — the round-8
    // guard parsed this to an EMPTY map (regex expected the harness's
    // raw line, the driver escapes it inside "tail"), so the >3×
    // auto-rerun silently never fired
    val in = getClass.getResourceAsStream("/graft/BENCH_r07_driver.json")
    assert(in != null, "fixture /graft/BENCH_r07_driver.json missing")
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val got = Bench.parsePrevQueries(text)
    assert(got.size === 28)
    assert(got("o08_select_range") === 0.196295938)
    assert(got("sim_topk_ivf") === 8.820059949)
    assert(got("pipeline_curate_tokenize") === 1.708367589)
    assert(got("dedup_minhash_lsh") === 2.204837928)
    // the guard condition that was dead in round 8: with this history
    // a 5.49 s pipeline_curate_tokenize measurement MUST trigger
    // (5.49 > 3 × 1.71)
    assert(5.49 > got("pipeline_curate_tokenize") * 3.0)
  }

  test("newestBench picks the highest round number") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec").toFile
    try {
      for (n <- Seq("01", "02", "10", "09")) {
        val f = new java.io.File(dir, s"BENCH_r$n.json")
        val w = new java.io.PrintWriter(f); try w.print("{}") finally w.close()
      }
      // decoys that must not match
      new java.io.File(dir, "BENCH_rXX.json").createNewFile()
      new java.io.File(dir, "SCALING_r11.json").createNewFile()
      assert(Bench.newestBench(dir).map(_.getName) ===
        Some("BENCH_r10.json"))
    } finally {
      Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      dir.delete()
    }
  }

  test("newestBench is None when no bench files exist") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec2").toFile
    try assert(Bench.newestBench(dir).isEmpty)
    finally dir.delete()
  }

  test("bestKnown merges per-query minima across rounds, ignoring errors") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec3").toFile
    def write(name: String, body: String): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      try w.print(body) finally w.close()
    }
    try {
      // r7 contention-inflated a (8.82 vs r6's 0.61); b errored in r6;
      // c only exists in r7
      write("BENCH_r06.json", """{"queries":{"a":0.61,"b":-1.0}}""")
      write("BENCH_r07.json", """{"queries":{"a":8.82,"b":3.37,"c":1.0}}""")
      // driver format: harness line escaped inside "tail"
      write("BENCH_r08.json",
        """{"n":8,"rc":0,"tail":"[info] {\"metric\":\"total\",""" +
        """\"queries\":{\"a\":0.5,\"d\":2.0},\"errors\":{}}\n"}""")
      write("notes.txt", """{"queries":{"a":0.001}}""")
      val got = Bench.bestKnown(dir)
      assert(got === Map("a" -> 0.5, "b" -> 3.37, "c" -> 1.0, "d" -> 2.0))
    } finally {
      Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      dir.delete()
    }
  }

  test("bestKnown reads BENCH_LOCAL.jsonl and survives a left-truncated driver tail") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec5").toFile
    def write(name: String, body: String): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      try w.print(body) finally w.close()
    }
    try {
      // the r9+ driver failure mode this round surfaced: the stored
      // tail keeps only the SUFFIX of the harness line, and with
      // `queries` leading it fell off — every post-r08 query lost its
      // floor and re-ran as "unbaselined" each round
      write("BENCH_r14.json",
        """{"n":14,"rc":0,"tail":"oad\":2.9},\"query_load_end\":""" +
        """{\"a\":2.66},\"reruns\":{}}\n"}""")
      // the fix, both halves: `queries` now trails the line (inside
      // any surviving suffix), and the local per-run history keeps
      // full lines
      write("BENCH_LOCAL.jsonl",
        """{"metric":"total","value":9.9,"passes":"min_of_2","queries":{"a":1.5,"e":7.0}}""" +
          "\n" +
          """{"metric":"total","value":9.1,"passes":"min_of_2","queries":{"a":1.2,"e":9.0}}""")
      val got = Bench.bestKnown(dir)
      assert(got === Map("a" -> 1.2, "e" -> 7.0))
    } finally {
      Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      dir.delete()
    }
  }

  test("the contract line fits a 2000-char output tail with room to spare") {
    // every headline query at 99.999 s, all suspect, on a contended box:
    // the line as sbt prints it ("[info] " + line + newline) plus sbt's
    // 74-char closing "[success] Total time: ..." line
    val results = Queries.headline.map(_ -> 99.999)
    val line = Bench.contractLine(results, Map.empty, contended = true,
      suspects = results.size, sfDir = "/data/tpch/sf0.1")
    val tail = "[info] " + line + "\n" + "x" * 74
    assert(tail.getBytes("UTF-8").length <= 1900, s"${tail.length} B")
    // and it still parses as a bench line, every query included
    val back = Bench.parsePrevQueries(line)
    assert(back.size === results.size && back.values.forall(_ === 99.999))
    assert(line.contains(""""sf":"sf0.1""""))
    assert(!line.contains(""""unit""""))
  }

  test("bestKnownPoints merges per-(query, point) minima across SCALING rounds") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec4").toFile
    def write(name: String, body: String): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      try w.print(body) finally w.close()
    }
    try {
      // the real artifact shape: per-query point seconds + ratio
      // fields (not sf-labeled, must be ignored), a sweep object whose
      // inner keys are not sf-labeled, an errors object, and a -1
      // errored point that must not become a floor
      write("SCALING_r12.json",
        """{"metric":"scale","queries":{"q1":{"sf0.1":2.0,"sf1":20.0,""" +
        """"ratio_10x":10.0},"q2":{"sf0.1":-1.0,"sf1":4.0}},""" +
        """"edit_blocked_sweep":{"cap_32":{"sec":9.9,"pairs":25}},""" +
        """"errors":{}}""")
      write("SCALING_r13.json",
        """{"metric":"scale","queries":{"q1":{"sf0.1":1.4,"sf1":31.0,""" +
        """"ratio_10x":22.1},"q2":{"sf0.1":0.9,"sf1":5.0}}}""")
      write("BENCH_r13.json", """{"queries":{"q1":0.01}}""")
      val got = ScaleBench.bestKnownPoints(dir)
      assert(got(("q1", "sf0.1")) === 1.4)
      assert(got(("q1", "sf1")) === 20.0)
      assert(got(("q2", "sf0.1")) === 0.9)
      assert(got(("q2", "sf1")) === 4.0)
      assert(!got.keySet.exists(_._2 == "ratio_10x"))
      assert(!got.contains(("q1", "sf0.01")), "no invented points")
      assert(!got.keySet.exists(_._1.startsWith("cap_")))
      assert(got.size === 4, s"unexpected extras: $got")
    } finally {
      Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      dir.delete()
    }
  }
}
