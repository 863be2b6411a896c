package perfbench

import scala.collection.mutable

/** The library operators behind [[graft.Queries]], timed alone in the
  * traced runs (neither service workload calls them):
  * batch passes over a fixed list of queries, each forced to a noop
  * sink the way [[graft.Bench]] forces them.
  *
  * The list covers the iterative tail (textrank, star-cluster dedup,
  * k-core), one ANN serve path over a standing index, and two
  * single-pass controls. A first, untimed pass builds the standing
  * indexes under `target/atrest` in the working directory and compiles
  * the plans; two timed passes follow. Each query's results from the
  * first pass are written to `<data>/verify/<query>` beside the
  * registry's oracle SQL, and `run.py` checks them against DuckDB with
  * `tools/check.py`.
  *
  * Job counts come from the status tracker, per job group. A query
  * whose count differs between the two timed passes fails the run: a
  * later pass then reused state an earlier one left behind. The one
  * exception is [[JobsVary]].
  */
object OperatorsProbe {

  val Queries: Seq[String] = Seq(
    "text_textrank", "dedup_clusters_star", "rel_coreness",
    "sim_topk_ivf_atrest_serve", "dedup_minhash_lsh", "o11_daily_unique")

  /** Queries whose job count differs between passes of one run with no
    * state carried between them: `text_textrank` builds every frame from
    * its input on each call, yet issued 23, 20 and 23 jobs in the three
    * passes of one run and 20, 23 and 20 in another, so the count is
    * decided at run time. Its `.jobs` is the median of the timed passes
    * and is left out of the check.
    */
  val JobsVary: Set[String] = Set("text_textrank")

  final case class Run(query: String, pass: Int, wallS: Double, cpuS: Double, jobs: Int)

  /** The `operators.*` layer metrics, and a line for each query whose
    * job count differed between the timed passes.
    */
  def run(ctx: Main.Ctx): (Map[String, Double], Seq[String]) = {
    val spark = ctx.spark
    val sf = s"${ctx.dataDir}/sf"
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    val groupSpans = mutable.Map.empty[String, Long]
    // the batch harness's session width, restored afterwards
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", Env.nproc.toString)
    val verify = s"${ctx.dataDir}/verify"

    def once(name: String, pass: Int, parent: Long): Run = {
      val group = s"op-$pass-$name"
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val c0 = Env.cpuSeconds()
      val t0 = System.nanoTime()
      // building the frame is timed too: iterative operators run their
      // rounds while the frame is built
      val q = graft.Queries.queries(name)(spark, sf)
      if (pass == 0) q.coalesce(1).write.mode("overwrite").parquet(s"$verify/$name")
      else q.write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      val c1 = Env.cpuSeconds()
      sc.clearJobGroup()
      groupSpans(group) = ctx.tracer.record(parent, s"operators.$name", t0, t1)
      Run(name, pass, (t1 - t0) / 1e9, c1 - c0, tracker.getJobIdsForGroup(group).length)
    }

    val startMs = System.currentTimeMillis()
    Queries.foreach(q => once(q, 0, 0L))
    val oracle = Queries.map(q => s"${Json.str(q)}:${Json.str(graft.Queries.oracles(q))}")
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$verify/oracle_sql.json"), oracle)

    val runs = mutable.ArrayBuffer.empty[Run]
    val passTimes = (1 to 2).map { pass =>
      val p0 = System.nanoTime()
      val passSpan = ctx.tracer.nextId()
      runs ++= Queries.map(q => once(q, pass, passSpan))
      val p1 = System.nanoTime()
      ctx.tracer.record(0L, "operators.pass", p0, p1, Map("pass" -> pass.toString), id = passSpan)
      (p1 - p0) / 1e9
    }
    spark.conf.set("spark.sql.shuffle.partitions", width)
    Main.log(f"operators: two timed passes, ${passTimes.sum}%.1f s")

    val varying = runs.groupBy(_.query).collect {
      case (q, rs) if !JobsVary(q) && rs.map(_.jobs).distinct.size > 1 =>
        s"$q issued ${rs.sortBy(_.pass).map(_.jobs).mkString(" then ")} jobs in the timed passes"
    }.toSeq.sorted

    val layers = mutable.Map.empty[String, Double]
    runs.groupBy(_.query).foreach { case (q, rs) =>
      layers(s"operators.$q.s") = Stats.median(rs.map(_.wallS).toSeq)
      layers(s"operators.$q.jobs") = Stats.median(rs.map(_.jobs.toDouble).toSeq)
      layers(s"operators.$q.cpu_s") = Stats.median(rs.map(_.cpuS).toSeq)
    }
    layers("operators.total_s") = Stats.median(passTimes)
    ctx.sparkLayer.foreach { l =>
      Thread.sleep(500) // let the listener bus drain
      l.emitSpans(ctx.tracer, groupSpans.toMap, Map.empty, Nil, startMs, System.currentTimeMillis())
    }
    (layers.toMap, varying)
  }
}
