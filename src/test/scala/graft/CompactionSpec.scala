package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.store.ServiceStore

/** ServiceStore.compact: file-count reduction, row/value preservation,
  * other partitions untouched, and staging dirs invisible to readers.
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compact merges micro-batch files without changing the data") {
    val wh = Files.createTempDirectory("graft-compact").toString
    val store = new ServiceStore(spark, wh)
    // 12 tiny appends = at least 12 files in the partition (a morning
    // of 5 s triggers, miniaturized)
    (0 until 12).foreach { b =>
      store.append(
        Seq((b.toLong, s"2020-01-0${b % 9 + 1}", b * 1.5))
          .toDF("id", "day", "value")
          .withColumn("service", lit("api")))
    }
    store.append(
      Seq((99L, "2020-02-01", 9.9)).toDF("id", "day", "value")
        .withColumn("service", lit("other")))

    val beforeRows = store.read("api").orderBy("id").collect().toSeq
    val (filesBefore, filesAfter) = store.compact("api")
    assert(filesBefore >= 12, s"expected >=12 small files, got $filesBefore")
    assert(filesAfter === 1, s"tiny partition should compact to 1 file")

    // identical content, same schema, other service untouched
    assert(store.read("api").orderBy("id").collect().toSeq === beforeRows)
    assert(store.read("other").count() === 1L)
    assert(store.list() === Seq("api", "other"))
  }

  test("a file appended between the compaction scan and the swap survives") {
    val wh = Files.createTempDirectory("graft-compact-race").toString
    val store = new ServiceStore(spark, wh)
    (0 until 5).foreach { b =>
      store.append(
        Seq((b.toLong, 1.0)).toDF("id", "value")
          .withColumn("service", lit("api")))
    }
    // the race the round-3 review flagged: an ingest append lands after
    // the compaction scan but before the directory swap — snapshot-
    // scoped retirement must carry it into the compacted partition
    val (_, _) = store.compact("api", 128L * 1024 * 1024, () =>
      store.append(Seq((100L, 42.0)).toDF("id", "value")
        .withColumn("service", lit("api"))))
    val rows = store.read("api").orderBy("id").collect()
    assert(rows.length === 6, "the concurrently appended row was lost")
    assert(rows.last.getLong(0) === 100L)
    // no staging/retired debris left behind
    assert(store.list() === Seq("api"))
  }

  test("compact recovers a partition stranded by a crash mid-swap") {
    val wh = Files.createTempDirectory("graft-compact-crash").toString
    val store = new ServiceStore(spark, wh)
    store.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "value")
      .withColumn("service", lit("api")))
    // simulate a crash between the two renames: the live dir is gone
    // and all data sits under the retired name
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(wh, "service=api"),
              new org.apache.hadoop.fs.Path(wh, ".retired-service=api"))
    assert(!store.exists("api"))
    val (before, after) = store.compact("api")
    assert(before === 1 || before >= 1)
    assert(after >= 1)
    assert(store.read("api").count() === 2L)
  }

  test("expire drops only pre-cutoff rows of the targeted service") {
    val wh = Files.createTempDirectory("graft-expire").toString
    val store = new ServiceStore(spark, wh)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    store.append(Seq(
      (1L, t("2020-01-01 10:00:00"), 1.0),
      (2L, t("2020-01-15 10:00:00"), 2.0),
      (3L, t("2020-02-01 10:00:00"), 3.0))
      .toDF("id", "datetime", "value").withColumn("service", lit("api")))
    store.append(Seq((9L, t("2019-06-01 00:00:00"), 9.0))
      .toDF("id", "datetime", "value").withColumn("service", lit("other")))

    val (kept, dropped) = store.expire("api", t("2020-01-10 00:00:00"))
    assert((kept, dropped) === ((2L, 1L)))
    assert(store.read("api").select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq === Seq(2L, 3L))
    // the other service's ancient row is untouched
    assert(store.read("other").count() === 1L)
    // idempotent: nothing left to drop
    assert(store.expire("api", t("2020-01-10 00:00:00")) === ((2L, 0L)))
    assert(store.list() === Seq("api", "other"))
  }

  test("compactSorted clusters files into disjoint time ranges") {
    val wh = Files.createTempDirectory("graft-compact-sort").toString
    val store = new ServiceStore(spark, wh)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // appends arrive time-interleaved (two out-of-order batches)
    val rows = (0 until 200).map(i =>
      (i.toLong, t(f"2020-01-${i % 28 + 1}%02d 10:00:00"), i * 1.0))
    store.append(rows.filter(_._1 % 2 == 0).toDF("id", "datetime", "value")
      .withColumn("service", lit("api")))
    store.append(rows.filter(_._1 % 2 == 1).toDF("id", "datetime", "value")
      .withColumn("service", lit("api")))
    // force several output files with a tiny byte target
    val (_, after) = store.compactSorted("api", "datetime", 4096L)
    assert(after >= 2, s"expected multiple range files, got $after")
    // per-file [min, max] datetime ranges must not overlap
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(wh, "service=api"))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("datetime")), max(col("datetime"))).head()
      (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi <= lo, s"file ranges overlap: $ranges")
      case _ =>
    }
    // content identical to what was appended
    assert(store.read("api").count() === 200L)
  }

  // --- expire racing compact (round-6 advice #8): the two lifecycle
  // REWRITES share the staging/retired paths, so the per-service
  // rewrite lock must serialize them in either launch order with no
  // lost, duplicated, or resurrected rows. Each case launches the
  // racing op on its own thread from inside the other's beforeSwap
  // seam (the widest race window), then joins and audits the store.

  private def expireRaceStore(wh: String): ServiceStore = {
    val store = new ServiceStore(spark, wh)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // several files so compact has real work; ids 0..5 old, 10..12 new
    (0 until 6).foreach { i =>
      store.append(Seq((i.toLong, t(s"2020-01-0${i + 1} 10:00:00"), i * 1.0))
        .toDF("id", "datetime", "value").withColumn("service", lit("api")))
    }
    (10 until 13).foreach { i =>
      store.append(Seq((i.toLong, t(s"2020-02-0${i - 9} 10:00:00"), i * 1.0))
        .toDF("id", "datetime", "value").withColumn("service", lit("api")))
    }
    store
  }
  private val cutoff = java.sql.Timestamp.valueOf("2020-01-20 00:00:00")

  private def auditSurvivors(store: ServiceStore, wh: String): Unit = {
    // exactly the three post-cutoff rows, once each — nothing lost,
    // duplicated, or resurrected from a retired snapshot
    assert(store.read("api").select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq === Seq(10L, 11L, 12L))
    assert(store.list() === Seq("api"))
    // no staging/retired debris on disk either
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(wh))
      .map(_.getPath.getName).toSet - "_SUCCESS" // append's write marker
    assert(dirs === Set("service=api"), dirs.toString)
  }

  test("expire launched inside compact's swap window serializes after it") {
    val wh = Files.createTempDirectory("graft-expire-race1").toString
    val store = expireRaceStore(wh)
    @volatile var expired: (Long, Long) = null
    var racer: Thread = null
    store.compact("api", 128L * 1024 * 1024, () => {
      racer = new Thread(() => { expired = store.expire("api", cutoff) })
      racer.start()
      // give the racer time to reach (and block on) the rewrite lock
      // while compact still owns it — the actual collision window
      Thread.sleep(300)
    })
    racer.join(60000)
    assert(!racer.isAlive, "racing expire never finished")
    // expire saw the post-compact snapshot: all 9 rows, dropped 6 old
    assert(expired === ((3L, 6L)))
    auditSurvivors(store, wh)
  }

  test("compact launched inside expire's swap window serializes after it") {
    val wh = Files.createTempDirectory("graft-expire-race2").toString
    val store = expireRaceStore(wh)
    @volatile var compacted: (Int, Int) = null
    var racer: Thread = null
    val (kept, dropped) = store.expire("api", cutoff, "datetime", () => {
      racer = new Thread(() => {
        compacted = store.compact("api", 128L * 1024 * 1024, () => ())
      })
      racer.start()
      Thread.sleep(300)
    })
    racer.join(60000)
    assert(!racer.isAlive, "racing compact never finished")
    assert((kept, dropped) === ((3L, 6L)))
    // compact saw the post-expire partition and merged it to one file
    assert(compacted._2 === 1, compacted.toString)
    auditSurvivors(store, wh)
  }

  test("compact refuses unknown services and leaves no staging debris") {
    val wh = Files.createTempDirectory("graft-compact2").toString
    val store = new ServiceStore(spark, wh)
    store.append(Seq((1L, 1.0)).toDF("id", "value")
      .withColumn("service", lit("api")))
    intercept[IllegalArgumentException](store.compact("nope"))
    store.compact("api")
    // readAll sees exactly the data; no dot-dirs leak into results
    assert(store.readAll().count() === 1L)
  }

  // --- live-loop maintenance (compactSmallFiles): one large file plus
  // MinSmallFiles one-row files; a 64 KB target stands in for 128 MB

  private val target = 64L * 1024

  private def maintenanceStore(wh: String): ServiceStore = {
    val store = new ServiceStore(spark, wh)
    def t(i: Int) = new java.sql.Timestamp(1577836800000L + i * 60000L)
    // ~160 KB of distinct doubles: one file at or above the target
    store.append((0 until 20000).map(i => (i.toLong, t(i), (i * 7919L % 100003) * 0.5))
      .toDF("id", "datetime", "value").withColumn("service", lit("api")).coalesce(1))
    // one row per slice, so one file per slice, out of time order
    val small = (0 until ServiceStore.MinSmallFiles).map(i =>
      (100000L + i, t(ServiceStore.MinSmallFiles - i), i * 1.0))
    store.append(spark.sparkContext.parallelize(small, small.size)
      .toDF("id", "datetime", "value").withColumn("service", lit("api")))
    store
  }

  private def liveFiles(wh: String): Map[String, Long] = {
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(wh, "service=api"))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s.getPath.getName -> s.getLen).toMap
  }

  private def ids(store: ServiceStore): Seq[Long] =
    store.read("api").select("id").collect().map(_.getLong(0)).toSeq.sorted

  private def rootEntries(wh: String): Set[String] =
    new java.io.File(wh).list().toSet.filterNot(n => n == "_SUCCESS" || n == "._SUCCESS.crc")

  test("small-file maintenance rewrites only the small files, sorted; a large file keeps its name and bytes") {
    val wh = Files.createTempDirectory("graft-maint").toString
    val store = maintenanceStore(wh)
    val before = liveFiles(wh)
    val (large, small) = before.partition(_._2 >= target)
    assert(large.size === 1 && small.size === ServiceStore.MinSmallFiles, before.toString)
    val largePath = java.nio.file.Paths.get(wh, "service=api", large.head._1)
    val largeBytes = Files.readAllBytes(largePath)
    val rows = ids(store)

    assert(store.compactSmallFiles(target, 1000L, () => ()) === Seq("api"))
    val after = liveFiles(wh)
    assert(after.size === 2, after.toString)
    assert(Files.readAllBytes(largePath).sameElements(largeBytes))
    val merged = (after.keySet - large.head._1).head
    val times = spark.read.parquet(s"$wh/service=api/$merged")
      .select("datetime").collect().map(_.getTimestamp(0).getTime).toSeq
    assert(times.size === ServiceStore.MinSmallFiles && times === times.sorted)
    assert(ids(store) === rows)
    assert(rootEntries(wh) === Set("service=api"))
    // two files, below the trigger: the next pass does nothing
    assert(store.compactSmallFiles(target, 1000L, () => ()) === Nil)
    assert(liveFiles(wh) === after)
  }

  test("a crash between the renames of a small-file swap is finished by the next pass, every row once") {
    // the swap moves the new file in, then deletes the small files one
    // by one: crash after the first step (every small row on disk
    // twice), after one delete, and after the last step
    Seq(1, 2, ServiceStore.MinSmallFiles + 1).foreach { crashAfter =>
      val wh = Files.createTempDirectory("graft-maint-crash").toString
      val store = maintenanceStore(wh)
      val rows = ids(store)
      var steps = 0
      intercept[IllegalStateException] {
        store.compactSmallFiles(target, 1000L, () => {
          steps += 1
          if (steps == crashAfter) throw new IllegalStateException("crash")
        })
      }
      val onDisk = spark.read.parquet(s"$wh/service=api").count()
      assert(onDisk === rows.size + ServiceStore.MinSmallFiles - (crashAfter - 1),
        s"crash after step $crashAfter")
      // a restarted service's first pass carries the journal out
      val restarted = new ServiceStore(spark, wh)
      assert(restarted.compactSmallFiles(target, 1000L, () => ()) === Nil)
      assert(ids(restarted) === rows, s"crash after step $crashAfter")
      assert(liveFiles(wh).size === 2)
      assert(rootEntries(wh) === Set("service=api"))
    }
  }

  test("a small-file swap that cannot get the read guard in time leaves the partition unchanged") {
    val wh = Files.createTempDirectory("graft-maint-guard").toString
    val store = maintenanceStore(wh)
    val before = liveFiles(wh)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val reader = new Thread(() => store.reading {
      entered.countDown()
      release.await()
    })
    reader.start()
    try {
      entered.await()
      val v = store.version
      assert(store.compactSmallFiles(target, 200L, () => ()) === Nil)
      assert(liveFiles(wh) === before)
      assert(store.version === v)
      assert(rootEntries(wh) === Set("service=api"))
    } finally {
      release.countDown()
      reader.join()
    }
    // the next pass, with no reader in the way, goes through
    assert(store.compactSmallFiles(target, 1000L, () => ()) === Seq("api"))
    assert(liveFiles(wh).size === 2)
  }
}
