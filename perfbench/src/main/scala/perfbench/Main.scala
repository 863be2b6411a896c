package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in-process: the program's public
  * entry points ([[graft.GraftMain.start]], [[graft.sources.Ingest]],
  * [[graft.store.ServiceStore]], [[graft.operators.Reports]], the
  * [[graft.api.WebApi]] over loopback HTTP, [[graft.Queries]]) are
  * driven and timed from outside; the traced runs also time each layer
  * alone, the library operators behind [[graft.Queries]] included.
  *
  * {{{
  * java -cp … perfbench.Main --workload ingest --seed 1 --seconds 20 \
  *   --trace 0 --data <input dir> --out <result json>
  * }}}
  *
  * The working directory must be a scratch directory: the operator
  * queries of the traced run keep standing indexes under the relative
  * `target/atrest`.
  * `run.py` sets all of this up and turns the result file into the
  * benchmark's output line.
  */
object Main {

  final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                       dataDir: String, tracer: Tracer,
                       sparkLayer: Option[SparkLayer]) {
    @volatile var setupS: Double = -1.0
    /** Called by the workload when set-up is over and timing starts.
      * `idleS` is time set-up spent waiting for a trigger boundary,
      * which depends only on when the run started and is left out.
      */
    def ready(idleS: Double = 0.0): Unit = {
      setupS = Env.sinceProcessStart() - idleS
      log(f"set-up done ($idleS%.2f s of trigger wait left out)")
    }
  }

  /** Progress on stderr, stamped with seconds since process start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${Env.sinceProcessStart()}%.1fs] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val trace = opts.getOrElse("trace", "0") == "1"
    val out = opts("out")
    val envStart = Env.mark()

    // the service's own session settings (GraftMain.main)
    val spark = SparkSession.builder()
      .master(s"local[${Env.nproc}]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SargableDates
    graft.functions.DotProductExpr.register(spark)
    log("spark session up")
    val layer = if (trace) {
      val l = new SparkLayer
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toInt, opts("data"),
      new Tracer(trace), layer)
    val outcome =
      try workload match {
        case "ingest" => IngestWorkload.run(ctx)
        case "reports" => ReportsWorkload.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Outcome(correct = false, 1, 1, Map.empty, Map.empty,
            Seq(s"run failed: ${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    log("run done")
    val envMetrics = Env.metrics(envStart, Env.mark())
    val e2e = outcome.endToEnd ++ Map("setup_s" -> ctx.setupS)
    val result =
      s"""{"correct":${outcome.correct},"attempted":${outcome.attempted},""" +
        s""""failed":${outcome.failed},"end_to_end":${Json.obj(e2e)},""" +
        s""""per_layer":${Json.obj(outcome.perLayer ++ envMetrics)},""" +
        s""""checks":${outcome.checks.map(Json.str).mkString("[", ",", "]")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), result + "\n")
    if (trace)
      ctx.tracer.write(opts("spans"), Map("workload" -> Json.str(workload),
        "seed" -> opts("seed"), "end_to_end" -> Json.obj(e2e)))
    try spark.stop() catch { case _: Throwable => () }
    // the service workloads leave non-daemon HTTP/streaming threads
    // behind once their parts are stopped; the result is on disk
    sys.exit(0)
  }
}
