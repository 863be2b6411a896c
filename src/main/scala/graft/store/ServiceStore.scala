package graft.store

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.ReentrantReadWriteLock

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Per-service storage O4-O7 + O14.
  *
  * The reference creates one DuckDB table per service on first sight
  * (ballcone/dao.py:174-185). Here the idiomatic-at-scale equivalent is
  * ONE parquet dataset partitioned by `service` (SURVEY §1.3, §7.4.3):
  * dynamic partition overwrite gives atomic per-batch appends, new
  * services materialize as new partition directories with no DDL race,
  * and partition pruning turns every per-service query into a scan of
  * just that service's files. The per-table API surface of the
  * reference (create/drop/list/exists/size) maps to partition ops.
  *
  * The store holds one row schema (the `Ingest.pipeline` entry). It is
  * inferred from one footer on the first read that finds data and
  * reused by every later read, so a report request plans without a
  * schema job and lists only its own service's directory.
  */
final class ServiceStore(spark: SparkSession, warehouse: String) {
  import ServiceStore._

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val shared = sharedOf(fs.makeQualified(new Path(warehouse)).toString)

  private def servicePath(service: String) =
    new Path(warehouse, s"service=$service")

  def checkService(service: String): Boolean = service.matches(ServicePattern)

  /** Moves with every append, drop and rewrite swap made through any
    * store over this warehouse in this JVM. A reader that keeps a plan
    * over the store's files (the console's views) rebuilds it when
    * this changes; read it before listing, so a change made meanwhile
    * shows as a change next time.
    */
  def version: Long = shared.version.get

  /** Runs `body` under the shared side of the store's read guard: no
    * rewrite swap runs meanwhile, so a frame listed and collected
    * inside `body` reads exactly the files it listed (see [[compact]]).
    * Appends are not held back. Reentrant.
    */
  def reading[A](body: => A): A = {
    val lock = shared.guard.readLock()
    lock.lock()
    try body finally lock.unlock()
  }

  @volatile private var schema: Option[StructType] = None

  /** The store's schema, `service` included. `service` is pinned to a
    * string: partition inference would type an all-digit set of
    * service names as int, and a later `service=blog` would not cast.
    */
  private def storeSchema(): StructType = schema.getOrElse {
    val inferred = StructType(spark.read.parquet(warehouse).schema.map { f =>
      if (f.name == "service") f.copy(dataType = StringType) else f
    })
    schema = Some(inferred)
    inferred
  }

  /** O5: append a batch of entries. `df` must carry a `service` column
    * plus the Entry columns; the write is partitioned so each service
    * lands in its own directory (first sight creates it — the
    * reference's dynamic CREATE TABLE, syslog_protocol.py:61-65).
    */
  def append(df: DataFrame): Unit = {
    df.write.mode("append").partitionBy("service").parquet(warehouse)
    shared.version.incrementAndGet()
  }

  /** O7: list services — partition-directory scan, sorted by name
    * (dao.py:150-160).
    */
  def list(): Seq[String] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("service="))
      .map(_.stripPrefix("service="))
      .sorted
  }

  /** O7: existence test (dao.py:162-172). */
  def exists(service: String): Boolean =
    checkService(service) && fs.exists(servicePath(service))

  /** O4: drop a service's data (dao.py:187-193). */
  def drop(service: String): Unit =
    if (exists(service)) {
      fs.delete(servicePath(service), true)
      shared.version.incrementAndGet()
    }

  /** O8 input: one service's entries, planned in `session`. Only
    * `service=<s>/` is listed and scanned. A service dropped after the
    * caller looked reads as empty, as a filter over the whole
    * warehouse would. The frame keeps the files listed here: collect
    * it inside [[reading]] so no rewrite retires them first.
    */
  def read(service: String, session: SparkSession = spark): DataFrame = {
    val s = storeSchema()
    try session.read.schema(s).option("basePath", warehouse)
      .parquet(servicePath(service).toString).drop("service")
    catch { case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
      session.createDataFrame(java.util.List.of[Row](),
        StructType(s.filterNot(_.name == "service")))
    }
  }

  /** All services (for dashboard fan-out as one grouped aggregate). */
  def readAll(session: SparkSession = spark): DataFrame =
    session.read.schema(storeSchema()).parquet(warehouse)

  /** O22 — bulk migration (tools/monet2duck.py): ingest an external
    * table wholesale and verify row counts. The reference pages with
    * LIMIT/OFFSET in 3072-row batches; Spark's reader already splits
    * and parallelizes the scan, so migration is one distributed
    * write with a count check, not a driver-side loop.
    * Returns (rows in source, rows landed for those services).
    *
    * `verifyDestination = false` (default): the landed count is
    * OBSERVED on the write pass itself (metrics piggyback on the job;
    * no destination scans) — note both numbers then derive from reads
    * of the SOURCE, so a source mutating mid-migration shows up as a
    * count mismatch. `verifyDestination = true` restores the
    * reference tool's before/after destination delta (two extra store
    * scans) for an end-to-end landed check.
    */
  def migrate(source: DataFrame, serviceCol: String,
              verifyDestination: Boolean = false): (Long, Long) = {
    val renamed =
      if (serviceCol == "service") source
      else source.withColumnRenamed(serviceCol, "service")
    val expected = renamed.count()
    if (verifyDestination) {
      val services = renamed.select("service").distinct()
        .collect().map(_.getString(0)).toSeq
      def countFor(): Long =
        if (list().isEmpty) 0L
        else readAll().filter(col("service").isin(services: _*)).count()
      val before = countFor()
      append(renamed)
      (expected, countFor() - before)
    } else {
      val obs = org.apache.spark.sql.Observation()
      append(renamed.observe(obs, count(lit(1)).as("landed")))
      (expected, obs.get("landed").asInstanceOf[Long])
    }
  }

  /** Version-upgrade export/import (tools/duck-upgrade.sh:21-22 dumps
    * every table to parquet and reloads it into a fresh database).
    * The store already IS partitioned parquet, so export is a
    * distributed copy of the dataset and import is a [[migrate]] from
    * the exported copy — no per-table loop, no driver staging.
    */
  def exportTo(path: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    readAll().observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").partitionBy("service").parquet(path)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Load an [[exportTo]] dump (or any service-partitioned parquet
    * dataset) into this store; returns (source rows, rows landed).
    */
  def importFrom(path: String): (Long, Long) =
    migrate(spark.read.parquet(path), "service")

  /** Maintenance compaction — the price of a 5 s micro-batch ingest
    * loop is a file per trigger, so a day of streaming leaves ~17k
    * tiny files per service and scan parallelism degenerates into
    * file-open overhead. Rewrites one service's partition into
    * `ceil(bytes / targetFileBytes)` evenly-sized files (repartition —
    * a shuffle of that service's data only — balances them; coalesce
    * would inherit the skew being repaired). The live loop runs the
    * bounded [[compactSmallFiles]] instead; this is the full rewrite.
    *
    * Concurrency contract, shared by every rewrite (compact,
    * compactSorted, expire, compactSmallFiles):
    *  - SNAPSHOT-SCOPED: only the parquet files listed at scan time
    *    are rewritten and retired. The live directory itself is never
    *    moved, so an append (before, during or after the rewrite) only
    *    ever adds files that the swap leaves alone, and never fails.
    *  - READERS: the swap runs under the exclusive side of the store's
    *    read guard. A reader that plans and runs its query inside
    *    [[reading]] (every `WebApi` handler) sees a service's files as
    *    one consistent set — never a retired file, never a partly
    *    swapped or empty service. A reader outside the guard can see,
    *    for the milliseconds of the swap, both or neither of the old
    *    and new files.
    *  - CRASH-SAFE: the swap is journalled (see [[swap]]). A failure
    *    before the journal exists leaves the partition untouched; after
    *    it, the next rewrite of that service (or the maintenance pass
    *    `GraftMain.start` runs) carries the journal out. Either way no
    *    row is lost or duplicated.
    *
    * Returns (files before, files after).
    */
  def compact(service: String,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    compact(service, targetFileBytes, () => ())

  /** [[compact]] variant that also CLUSTERS the rewrite by `sortCol`
    * (typically the event timestamp): files get disjoint time ranges
    * (range repartition) and rows sort within each file, so parquet
    * min/max column statistics let a date-ranged scan (O8/O9) skip
    * whole files and row groups instead of reading a service's entire
    * history. Micro-batch appends arrive roughly time-ordered anyway;
    * this makes the property exact after compaction. Same snapshot/
    * swap concurrency contract as [[compact]].
    */
  def compactSorted(service: String, sortCol: String,
                    targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    rewritePartition(service)(identity) { (df, bytes) =>
      sortedFiles(df, sortCol, bytes, targetFileBytes)
    }.fold((0, 0)) { case (before, after, _) => (before, after) }

  /** Test seam: `beforeSwap` runs between the compaction scan and the
    * swap — the race window a concurrent append must survive
    * (CompactionSpec injects an append there).
    */
  private[graft] def compact(service: String, targetFileBytes: Long,
                             beforeSwap: () => Unit): (Int, Int) =
    rewritePartition(service, beforeSwap)(identity) { (df, bytes) =>
      df.repartition(filesFor(bytes, targetFileBytes))
    }.fold((0, 0)) { case (before, after, _) => (before, after) }

  /** Live-loop maintenance, which the ingest stream runs right after
    * each append (so it never races the store's only writer). A
    * service whose live directory holds at least [[MinSmallFiles]]
    * files below [[TargetFileBytes]] has those files, and only those,
    * rewritten into one file sorted by `datetime` (one per
    * [[TargetFileBytes]] of input, in disjoint ranges, if they add up
    * to more). Larger files are never read: a pass rewrites the last
    * pass's output plus the micro-batch files since, under
    * [[MinSmallFiles]] × [[TargetFileBytes]] per service however large
    * the store grows, and a service holds at most [[MinSmallFiles]]
    * small files between passes. The swap waits at
    * most [[SwapWaitMs]] for readers to leave the guard; if they do
    * not, the pass is dropped for that service (its staged file is
    * deleted, the partition is unchanged) and the next pass tries
    * again. Returns the services whose small files were rewritten.
    */
  def compactSmallFiles(): Seq[String] =
    compactSmallFiles(TargetFileBytes, SwapWaitMs, () => ())

  /** Test seam: a smaller `targetFileBytes` makes a test-sized file
    * large; `afterStep` runs after each rename or delete of a swap (a
    * throw there is a crash between them).
    */
  private[graft] def compactSmallFiles(targetFileBytes: Long, swapWaitMs: Long,
                                       afterStep: () => Unit): Seq[String] =
    list().filter { service =>
      rewritePartition(service, swapWaitMs = swapWaitMs, afterStep = afterStep) { live =>
        val small = live.filter(_.getLen < targetFileBytes)
        if (small.size >= MinSmallFiles) small else Seq.empty
      } { (df, bytes) => sortedFiles(df, "datetime", bytes, targetFileBytes) }
        .isDefined
    }

  /** `df` as `ceil(bytes / targetFileBytes)` files of disjoint `sortCol`
    * ranges, each sorted by it. One file needs no shuffle.
    */
  private def sortedFiles(df: DataFrame, sortCol: String, bytes: Long,
                          targetFileBytes: Long): DataFrame = {
    val n = filesFor(bytes, targetFileBytes)
    (if (n == 1) df.coalesce(1) else df.repartitionByRange(n, col(sortCol)))
      .sortWithinPartitions(col(sortCol))
  }

  private def filesFor(bytes: Long, targetFileBytes: Long): Int =
    math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt

  /** Retention TTL — drop a service's entries older than `keepSince`
    * (the lifecycle op the reference delegates to manual SQL; at a 5 s
    * ingest cadence a store only grows without it). The store
    * partitions by service (matching the reference's per-service
    * tables), so date retention is a REWRITE of that service's
    * partition, not a partition drop — the honest tradeoff of this
    * layout; a time-partitioned lake would prune instead. The rewrite
    * rides [[compact]]'s snapshot/swap machinery, so it inherits the
    * same concurrency contract: completed concurrent appends survive
    * (and are NOT ttl-filtered — they are newer than the snapshot by
    * construction), and a crash is finished by the next rewrite.
    * Returns (rows kept, rows dropped), both observed on the rewrite
    * pass itself — no extra store scans.
    */
  def expire(service: String, keepSince: java.sql.Timestamp,
             tsCol: String = "datetime"): (Long, Long) =
    expire(service, keepSince, tsCol, () => ())

  /** Test seam twin of [[compact]]'s: `beforeSwap` runs in expire's
    * scan→swap window (CompactionSpec drives a racing compact through
    * it — the lifecycle pair serialized by the per-service rewrite
    * lock).
    */
  private[graft] def expire(service: String, keepSince: java.sql.Timestamp,
                            tsCol: String,
                            beforeSwap: () => Unit): (Long, Long) = {
    val kept = org.apache.spark.sql.Observation()
    rewritePartition(service, beforeSwap)(identity) { (df, _) =>
      df.filter(col(tsCol) >= lit(keepSince))
        .observe(kept, count(lit(1)).as("kept"))
    }.fold((0L, 0L)) { case (_, _, snapshotRows) =>
      val k = kept.get("kept").asInstanceOf[Long]
      (k, snapshotRows - k)
    }
  }

  /** Shared snapshot→rewrite→swap core ([[compact]]'s concurrency
    * contract). `select` picks the snapshot from the live files (none:
    * nothing to do); `build` receives the snapshot read (with a
    * row-count observation already attached below it) and the
    * snapshot's bytes, and returns the frame to write. Returns
    * (snapshot files, files after the swap, snapshot rows), or None
    * when there was nothing to rewrite or the guard did not come
    * within `swapWaitMs`. Lifecycle rewrites of one service serialize
    * on its rewrite lock, held end-to-end (`beforeSwap` included — a
    * racing rewrite launched there blocks until this one's swap
    * completes): they share the staging and journal paths.
    */
  private def rewritePartition(service: String, beforeSwap: () => Unit = () => (),
                               swapWaitMs: Long = Long.MaxValue,
                               afterStep: () => Unit = () => ())(
      select: Seq[FileStatus] => Seq[FileStatus])(
      build: (DataFrame, Long) => DataFrame): Option[(Int, Int, Long)] =
    shared.rewriteLocks.computeIfAbsent(service, _ => new Object).synchronized {
      val ready = recover(service, swapWaitMs)
      require(exists(service), s"unknown service: $service")
      val snapshot = if (ready) select(parquetFiles(servicePath(service))) else Nil
      if (snapshot.isEmpty) None
      else rewriteFiles(service, snapshot, beforeSwap, swapWaitMs, afterStep)(build)
    }

  private def rewriteFiles(service: String, snapshot: Seq[FileStatus],
                           beforeSwap: () => Unit, swapWaitMs: Long,
                           afterStep: () => Unit)(
      build: (DataFrame, Long) => DataFrame): Option[(Int, Int, Long)] = {
    val staging = stagingPath(service)
    val obs = org.apache.spark.sql.Observation()
    val source = spark.read.parquet(snapshot.map(_.getPath.toString): _*)
      .observe(obs, count(lit(1)).as("snapshot_rows"))
    build(source, snapshot.map(_.getLen).sum)
      .write.mode("overwrite").parquet(staging.toString)
    val rows = obs.get("snapshot_rows").asInstanceOf[Long]
    beforeSwap()
    val swapped = exclusively(swapWaitMs) {
      swap(service, parquetFiles(staging).map(_.getPath.getName),
        snapshot.map(_.getPath.getName), afterStep)
    }
    fs.delete(staging, true)
    if (swapped) Some((snapshot.size, parquetFiles(servicePath(service)).size, rows))
    else None
  }

  private def stagingPath(service: String) =
    new Path(warehouse, s".compact-service=$service")

  private def journalPath(service: String) =
    new Path(warehouse, s".swap-service=$service")

  /** The swap: a journal naming the staged files to move in and the
    * snapshot files to delete is written to a side file and made
    * visible by one rename; then it is carried out and removed. Every
    * step is idempotent, so a journal found later (after a crash
    * anywhere in between) is simply carried out again by [[recover]]:
    * the staged files carry every snapshot row, so the result holds
    * each row once. Before the journal exists, nothing live changed.
    */
  private def swap(service: String, staged: Seq[String], retired: Seq[String],
                   afterStep: () => Unit): Unit = {
    val journal = journalPath(service)
    val pending = journal.suffix(".tmp")
    val out = fs.create(pending, true)
    try {
      out.write((staged.map("+" + _) ++ retired.map("-" + _))
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
      out.hsync()
    } finally out.close()
    fs.rename(pending, journal)
    replay(service, afterStep)
  }

  private def replay(service: String, afterStep: () => Unit): Unit = {
    val journal = journalPath(service)
    val in = fs.open(journal)
    val steps = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    steps.split("\n").filter(_.nonEmpty).foreach { step =>
      val name = step.drop(1)
      val staged = new Path(stagingPath(service), name)
      if (step.head == '-') fs.delete(new Path(servicePath(service), name), false)
      else if (fs.exists(staged)) fs.rename(staged, new Path(servicePath(service), name))
      afterStep()
    }
    fs.delete(journal, false)
  }

  /** Before any rewrite: finish a swap a crash cut short (under the
    * guard; false, rewrite skipped, if it did not come in time), then
    * drop what a cut-short rewrite staged or half-wrote as a journal.
    * Also restores a partition the earlier two-rename swap left parked
    * under `.retired-service=…`.
    */
  private def recover(service: String, waitMs: Long): Boolean = {
    val retired = new Path(warehouse, s".retired-service=$service")
    if (!fs.exists(servicePath(service)) && fs.exists(retired))
      fs.rename(retired, servicePath(service))
    fs.delete(journalPath(service).suffix(".tmp"), false)
    val done = !fs.exists(journalPath(service)) ||
      exclusively(waitMs)(replay(service, () => ()))
    if (done) fs.delete(stagingPath(service), true)
    done
  }

  /** `body` under the exclusive side of the read guard, waiting at most
    * `waitMs` for readers to leave; false, without running it, if they
    * do not. A swap always changes [[version]].
    */
  private def exclusively(waitMs: Long)(body: => Unit): Boolean = {
    val lock = shared.guard.writeLock()
    lock.tryLock(waitMs, TimeUnit.MILLISECONDS) && {
      try body
      finally { shared.version.incrementAndGet(); lock.unlock() }
      true
    }
  }

  private def parquetFiles(p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** O14: total stored bytes (pragma_database_size, dao.py:147-148). */
  def sizeBytes(): Long = bytesUnder(new Path(warehouse))

  /** Stored bytes of one service; 0 when it does not exist. */
  def sizeBytes(service: String): Long = bytesUnder(servicePath(service))

  private def bytesUnder(p: Path): Long =
    try fs.getContentSummary(p).getLength
    catch { case _: java.io.FileNotFoundException => 0L }
}

object ServiceStore {

  /** A valid service name: one or more word characters and nothing
    * else (the reference's `\A[\w]+\Z`, core.py:15). Ingest applies
    * it with `rlike`, which finds rather than matches, so both ends are
    * anchored, and at `\z` because `$` also matches before a final
    * newline.
    */
  val ServicePattern = "^\\w+\\z"

  /** A service's small files are rewritten once it holds this many.
    * A report request pays about 10 ms of CPU per file it opens (a
    * service of ~27 micro-batch files answered in ~900 ms, of 2–4 in
    * ~650 ms), so 16 small files cap that overhead near 150 ms. At the
    * 5 s trigger a service reaches 16 every ~80 s, and each rewrite
    * folds 15 new micro-batch files into the previous pass's output:
    * a lower trigger would rewrite that growing file more often for a
    * few ms per request. The same trade as Delta's auto-compaction
    * (`minNumFiles`) and Iceberg's `min-input-files`.
    */
  val MinSmallFiles = 16

  /** Files below this size count as small; compaction writes files of
    * about this size (one parquet row-group-sized HDFS block).
    */
  val TargetFileBytes: Long = 128L * 1024 * 1024

  /** How long a live-loop swap waits for readers before it skips the
    * pass: a fifth of the 5 s trigger, so a long `/sql` query delays a
    * micro-batch by at most that, never stalls the stream.
    */
  val SwapWaitMs = 1000L

  /** State every store over one warehouse shares in this JVM: the read
    * guard, the change [[ServiceStore.version]] and the per-service
    * rewrite locks.
    */
  private final class Shared {
    val guard = new ReentrantReadWriteLock()
    val version = new AtomicLong()
    val rewriteLocks = new ConcurrentHashMap[String, Object]()
  }

  private val byWarehouse = new ConcurrentHashMap[String, Shared]()

  private def sharedOf(qualifiedWarehouse: String): Shared =
    byWarehouse.computeIfAbsent(qualifiedWarehouse, _ => new Shared)
}
