package graft.store

import org.apache.hadoop.fs.Path
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

  val ServicePattern = "^\\w+$"

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def servicePath(service: String) =
    new Path(warehouse, s"service=$service")

  def checkService(service: String): Boolean = service.matches(ServicePattern)

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
  def append(df: DataFrame): Unit =
    df.write.mode("append").partitionBy("service").parquet(warehouse)

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
    if (exists(service)) { fs.delete(servicePath(service), true); () }

  /** O8 input: one service's entries, planned in `session`. Only
    * `service=<s>/` is listed and scanned. A service that vanished
    * after the caller looked (a `drop`, or a compaction swap window)
    * reads as empty, as a filter over the whole warehouse would.
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
    * would inherit the skew being repaired).
    *
    * Concurrency contract (safe against the live ingest loop):
    *  - SNAPSHOT-SCOPED: only the parquet files listed at scan time
    *    are compacted and retired. A file a concurrent append lands
    *    AFTER the snapshot is moved back into the live partition
    *    right after the swap, so completed appends are never lost.
    *  - The swap itself is two directory renames; readers can observe
    *    a brief window (milliseconds) in which the partition directory
    *    is absent and the service reads as empty. An append whose
    *    write is IN FLIGHT during that window can fail its job commit
    *    and must be retried by the caller — completed appends are the
    *    ones guaranteed to survive.
    *  - Crash-safe: a failure before the swap leaves the partition
    *    untouched; a crash between the two renames parks the data
    *    under `.retired-service=…`, which the next [[compact]] call
    *    restores before doing anything else (dot-prefixed dirs are
    *    invisible to readers and [[list]]).
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
                    targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    var before = 0
    val (after, _) = rewritePartition(service, () => ()) { (df, snapshot) =>
      before = snapshot.size
      val bytes = snapshot.map(fs.getFileStatus(_).getLen).sum
      val nFiles = math.max(1L,
        (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      df.repartitionByRange(nFiles, col(sortCol))
        .sortWithinPartitions(col(sortCol))
    }
    (before, after)
  }

  /** Test seam: `beforeSwap` runs between the compaction scan and the
    * directory swap — the race window a concurrent append must
    * survive (CompactionSpec injects an append there).
    */
  private[graft] def compact(service: String, targetFileBytes: Long,
                             beforeSwap: () => Unit): (Int, Int) = {
    var before = 0
    val (after, _) = rewritePartition(service, beforeSwap) { (df, snapshot) =>
      before = snapshot.size
      val bytes = snapshot.map(fs.getFileStatus(_).getLen).sum
      val nFiles = math.max(1L,
        (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      df.repartition(nFiles)
    }
    (before, after)
  }

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
    * construction), and a crash parks data under the retired name for
    * the next call to restore. Returns (rows kept, rows dropped), both
    * observed on the rewrite pass itself — no extra store scans.
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
    val (_, snapshotRows) = rewritePartition(service, beforeSwap) { (df, _) =>
      df.filter(col(tsCol) >= lit(keepSince))
        .observe(kept, count(lit(1)).as("kept"))
    }
    val k = kept.get("kept").asInstanceOf[Long]
    (k, snapshotRows - k)
  }

  /** One lock object per service: lifecycle REWRITES (compact /
    * compactSorted / expire) serialize against each other — they share
    * the staging and retired paths, so two running at once on one
    * service would collide on those directories and can strand or drop
    * the partition. Appends never take the lock (they only ever ADD
    * files to the live dir; the snapshot-scoped retirement in
    * [[rewritePartition]] carries mid-rewrite appends across the swap
    * — the tested contract). Per-service granularity keeps unrelated
    * services' maintenance fully concurrent.
    */
  private val rewriteLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def rewriteLock(service: String): Object =
    rewriteLocks.computeIfAbsent(service, _ => new Object)

  /** Shared snapshot→rewrite→swap core ([[compact]]'s concurrency
    * contract). `build` receives the snapshot read (with a row-count
    * observation already attached below it) and the snapshot file
    * list, and returns the frame to write. Returns (files after the
    * swap, snapshot rows). Holds the service's rewrite lock end-to-end
    * (`beforeSwap` included — a racing rewrite launched there blocks
    * until this one's swap completes).
    */
  private def rewritePartition(service: String, beforeSwap: () => Unit)(
      build: (DataFrame, Seq[Path]) => DataFrame): (Int, Long) =
    rewriteLock(service).synchronized {
      rewritePartitionLocked(service, beforeSwap)(build)
    }

  private def rewritePartitionLocked(service: String, beforeSwap: () => Unit)(
      build: (DataFrame, Seq[Path]) => DataFrame): (Int, Long) = {
    val dir = servicePath(service)
    val retired = new Path(warehouse, s".retired-service=$service")
    // recover from a crash between a previous rewrite's two renames:
    // the whole partition sits under the retired name — restore it
    if (!fs.exists(dir) && fs.exists(retired)) fs.rename(retired, dir)
    require(exists(service), s"unknown service: $service")
    // the snapshot bounds the rewrite: exactly these files feed it,
    // and exactly these files are retired afterwards
    val snapshot = parquetFiles(dir)
    val staging = new Path(warehouse, s".compact-service=$service")
    fs.delete(staging, true)
    val obs = org.apache.spark.sql.Observation()
    val source = spark.read.parquet(snapshot.map(_.toString): _*)
      .observe(obs, count(lit(1)).as("snapshot_rows"))
    build(source, snapshot)
      .write.mode("overwrite").parquet(staging.toString)
    beforeSwap()
    fs.delete(retired, true)
    fs.rename(dir, retired)
    fs.rename(staging, dir)
    // preserve concurrent appends: anything in the retired dir that was
    // not in the snapshot landed after the scan — move it back live
    val snapNames = snapshot.map(_.getName).toSet
    parquetFiles(retired)
      .filterNot(p => snapNames.contains(p.getName))
      .foreach(p => fs.rename(p, new Path(dir, p.getName)))
    fs.delete(retired, true)
    (parquetFiles(dir).size, obs.get("snapshot_rows").asInstanceOf[Long])
  }

  private def parquetFiles(p: Path): Seq[Path] =
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)

  /** O14: total stored bytes (pragma_database_size, dao.py:147-148). */
  def sizeBytes(): Long = bytesUnder(new Path(warehouse))

  /** Stored bytes of one service; 0 when it does not exist. */
  def sizeBytes(service: String): Long = bytesUnder(servicePath(service))

  private def bytesUnder(p: Path): Long =
    try fs.getContentSummary(p).getLength
    catch { case _: java.io.FileNotFoundException => 0L }
}
