package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** What one workload run hands back to [[Main]]: the correctness
  * verdict, the attempt/failure counts, the end-to-end and per-layer
  * metrics, and a line for each correctness check that failed.
  */
final case class Outcome(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    checks: Seq[String])

/** Order statistics over a sample, linear interpolation between ranks. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** The machine around a run, read from /proc the way [[graft.BenchEnv]]
  * does, plus this process's own CPU time.
  */
object Env {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU core-seconds since the JVM started. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Seconds since the JVM process started. */
  def sinceProcessStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def nproc: Int = Runtime.getRuntime.availableProcessors()
  def heapCapBytes: Long = Runtime.getRuntime.maxMemory()

  /** A snapshot to diff at the end of the run. */
  final case class Mark(stealTicks: Long, load1: Double)
  def mark(): Mark = Mark(graft.BenchEnv.stealTicks(), graft.BenchEnv.load1())

  /** env.* layer metrics between two marks. */
  def metrics(start: Mark, end: Mark): Map[String, Double] = Map(
    "env.steal_core_s" ->
      (if (start.stealTicks < 0 || end.stealTicks < 0) -1.0
       else (end.stealTicks - start.stealTicks) / 100.0),
    "env.load1_start" -> start.load1,
    "env.load1_end" -> end.load1,
    "env.nproc" -> nproc.toDouble,
    "env.heap_cap_gb" -> heapCapBytes / 1073741824.0)
}

/** In-memory spans, written to one file when the run ends. A span is
  * opened and closed around a call into one of the program's layers;
  * `parent` links it to the span that caused it (0 = the workload).
  * Disabled (the untraced run), nothing is kept.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String,
                        startNs: Long, endNs: Long, attrs: Map[String, String])

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** Wall-clock anchor so spans built from Spark's epoch-ms timestamps
    * and from System.nanoTime share one time axis.
    */
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  def nanosOfEpochMs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L
  def epochMsOfNanos(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  def nextId(): Long = ids.incrementAndGet()

  def record(parent: Long, name: String, startNs: Long, endNs: Long,
             attrs: Map[String, String] = Map.empty, id: Long = -1L): Long =
    if (!enabled) 0L
    else {
      val sid = if (id > 0) id else nextId()
      spans.add(Span(sid, parent, name, startNs, endNs, attrs))
      sid
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name: duration minus the part of the span's
    * interval its children cover (children merged, so overlapping
    * children count once).
    */
  def selfTimesMs(): Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = -1L
        var curB = -1L
        kids.foreach { case (a, b) =>
          if (a > curB) { covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        covered += curB - curA
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def write(path: String, extra: Map[String, String]): Unit = {
    val sb = new StringBuilder
    sb.append("{")
    extra.foreach { case (k, v) => sb.append(Json.str(k)).append(":").append(v).append(",") }
    sb.append("\"self_ms\":").append(Json.obj(selfTimesMs())).append(",\"spans\":[")
    sb.append(all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        f""""start_ms":${epochMsOfNanos(s.startNs)}%.3f,"end_ms":${epochMsOfNanos(s.endNs)}%.3f""" +
        (if (s.attrs.isEmpty) "" else ",\"attrs\":" + Json.strObj(s.attrs)) + "}"
    }.mkString(",\n"))
    sb.append("]}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
  def strObj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
}
