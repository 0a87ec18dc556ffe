package graft.sink

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.{DriverParquetWriter, DriverRows}
import scala.jdk.CollectionConverters._

/** A raw local filesystem that counts the listing and status calls the
  * thread in [[CountingFs.thread]] makes. */
class CountingRawLocalFileSystem extends NoForkRawLocalFileSystem {
  private def count(): Unit = if (Thread.currentThread eq CountingFs.thread) CountingFs.calls.incrementAndGet()
  override def listStatus(f: Path): Array[FileStatus] = { count(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { count(); super.getFileStatus(f) }
}

class CountingLocalFileSystem extends LocalFileSystem(new CountingRawLocalFileSystem)

object CountingFs {
  @volatile var thread: Thread = null
  val calls = new AtomicLong
}

/** ParquetStateStore's commit-log contract: a reader sees exactly what the
  * newest `_log` entry names and never mutates the filesystem; a writer
  * writes files, then commits one entry; files no entry names are
  * invisible, and the garbage collector deletes what the log stopped
  * naming only after [[ParquetStateStore.GraceMs]].
  */
class StateStoreSpec extends SparkSpec {

  private def df(ids: Long*) = {
    import spark.implicits._
    ids.toDF("id")
  }

  private def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] =
    d.collect().map(_.getLong(0)).toSeq.sorted

  /** The directories in the store's root, `_log` aside. */
  private def names(root: String): Set[String] =
    Files.list(Paths.get(root)).toArray.map(_.toString.split('/').last).toSet - "_log"

  /** The newest log entry's file. */
  private def newestEntry(root: String): java.nio.file.Path =
    Files.list(Paths.get(root, "_log")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.forall(_.isDigit)).maxBy(_.getFileName.toString.toLong)

  /** Move the store past the garbage grace period: the newest entry's
    * drop times and every directory's modification time go to the epoch
    * (the entry's checksum file goes, so it reads unverified). */
  private def expireGrace(root: String): Unit = {
    val e = newestEntry(root)
    Files.writeString(e, Files.readString(e).replaceAll("\"atMs\":\\d+", "\"atMs\":0"))
    Files.deleteIfExists(e.resolveSibling(s".${e.getFileName}.crc"))
    names(root).foreach(n => Files.setLastModifiedTime(Paths.get(root, n), FileTime.fromMillis(0)))
  }

  /** A compaction that wrote its files and died before its entry. */
  private def crashedCompaction(root: String, keep: Long): String = {
    val dir = s"${ParquetStateStore.CompactPrefix}$keep-crashed"
    df(100L + keep).coalesce(1).write.parquet(s"$root/$dir")
    dir
  }

  test("readers present a marker-committed tmp logically without touching disk") {
    // the compaction's directory is committed by its log entry: readers
    // see the compacted view at once, and the superseded directories stay
    // on disk, however often the store is read
    val root = Files.createTempDirectory("ssreader").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.append(df(1), 0); store.append(df(2), 1)
    store.compact(df(101))
    val before = names(root)

    assert(store.latestVersion.contains(1L))
    assert(ids(store.readLog().get) == Seq(101L))
    assert(ids(store.readVersion(1L).get) == Seq(101L))
    assert(store.versionStats().map(v => (v._1, v._3)) == Seq((1L, true)))
    assert(store.unnamedDirs().isEmpty)

    assert(names(root) == before)
    assert(before.filterNot(_.startsWith(ParquetStateStore.CompactPrefix)) == Set("v=0", "v=1"))
  }
  test("a driver-path append replaces an uncommitted leftover of its batch") {
    val root = Files.createTempDirectory("ssleftover").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.appendRows(DriverRows.collect(df(1)), 0)
    // a crash after the part file, before the entry that commits it
    DriverParquetWriter.write(spark, DriverRows.collect(df(7, 8)), s"$root/v=1")
    assert(store.versionIds() == Seq(0L))
    assert(store.readLog().get.collect().map(_.getLong(0)).toSeq == Seq(1L))

    store.appendRows(DriverRows.collect(df(7, 8)), 1) // the replay
    assert(store.versionIds() == Seq(0L, 1L))
    assert(store.readLog().get.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 7L, 8L))
    assert(new java.io.File(s"$root/v=1").listFiles().count(_.getName.startsWith("part-")) == 1)
    store.appendRows(DriverRows.collect(df(9)), 1) // committed: a no-op
    assert(store.readLog().get.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 7L, 8L))
  }

  test("collectEach computes several frames in one job; a failing frame keeps its error") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val ok = Seq(df(1, 2), df(3).withColumn("x", col("id") * 2))
    def ids(r: DriverRows.Rows) = r.rows.map(_.getLong(0)).toSeq
    val sc = spark.sparkContext
    sc.setJobGroup("collect-each", "collectEach")
    val both = try DriverRows.collectEach(spark, ok.map(DriverRows.plan)) finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("collect-each").length == 1)
    assert(both.map(_.map(ids)) == Seq(Right(Seq(1L, 2L)), Right(Seq(3L))))
    assert(both(1).map(_.schema.fieldNames.toSeq) == Right(Seq("id", "x")))
    // a frame that fails at run time fails the shared job; each frame is
    // then collected alone, so only that frame reports the error (a range,
    // not a local relation, which the optimizer would evaluate at planning)
    val bad = spark.range(4, 5)
      .withColumn("id", when(col("id") === 4, raise_error(lit("boom"))).otherwise(col("id")))
    val mixed = DriverRows.collectEach(spark, Seq(ok.head, bad, ok(1)).map(DriverRows.plan))
    assert(mixed.map(_.isRight) == Seq(true, false, true))
    assert(mixed(0).map(ids) == Right(Seq(1L, 2L)))
  }

  test("an unmarked tmp (crashed pre-commit) is invisible to readers and survives reads") {
    // a compaction's files fully written WITHOUT its entry — the crash
    // point between the file write and the commit; the directory is
    // unnamed, and deleting it is the garbage collector's job, after the
    // grace period, never a reader's
    val root = Files.createTempDirectory("ssunmarked").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.append(df(1), 0)
    val dir = crashedCompaction(root, keep = 0)

    assert(ids(store.readLog().get) == Seq(1L))
    assert(store.unnamedDirs() == Seq(dir))
    assert(Files.exists(Paths.get(s"$root/$dir")))
  }
  test("the next writer operation settles the pending swap physically") {
    // the superseded directories outlive the compaction's entry for the
    // grace period (a reader of the older entry may still read them); the
    // first writer operation after it deletes them
    val root = Files.createTempDirectory("sswriter").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.append(df(1), 0); store.append(df(2), 1)
    store.compact(df(101))
    val base = names(root).filter(_.startsWith(ParquetStateStore.CompactPrefix))

    store.append(df(3), 2) // inside the grace period: nothing is deleted
    assert(names(root) == Set("v=0", "v=1", "v=2") ++ base)

    expireGrace(root)
    store.append(df(4), 3) // writer entry runs the collection
    assert(names(root) == Set("v=2", "v=3") ++ base)
    assert(ids(store.readLog().get) == Seq(3L, 4L, 101L))
  }
  test("TWO marked tmps settle oldest-first to a single newest base (r14)") {
    // a compaction at keep 9 that died before its entry, then one at keep
    // 12 that committed (keep ids whose LEXICAL order, "v=12" < "v=9",
    // differs from numeric order): readers see only the committed base,
    // and after the grace period the collector leaves it alone on disk
    val root = Files.createTempDirectory("sstwotmp").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    (0L to 12L).foreach(i => store.append(df(i), i))
    crashedCompaction(root, keep = 9)
    store.compact(df(112))
    val base = names(root).filter(_.endsWith("-crashed") == false)
      .filter(_.startsWith(ParquetStateStore.CompactPrefix))
    assert(ids(store.readLog().get) == Seq(112L))

    expireGrace(root)
    store.append(df(13), 13) // writer entry runs the collection

    assert(names(root) == base + "v=13",
      s"stale superseded base resurrected beside the newest compaction: ${names(root)}")
    assert(ids(store.readLog().get) == Seq(13L, 112L))
  }
  test("a stale marked tmp OLDER than a settled compacted base is deleted, not resurrected (r14)") {
    // a crashed compaction's directory beside a committed base: readers
    // never see it; a writer keeps it through the grace period (it may be
    // a concurrent writer's unfinished write) and deletes it after
    val root = Files.createTempDirectory("sstale").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    (0L to 12L).foreach(i => store.append(df(i), i))
    store.compact(df(112))
    val stale = crashedCompaction(root, keep = 9)

    assert(ids(store.readLog().get) == Seq(112L))
    store.append(df(13), 13)
    assert(names(root).contains(stale))
    expireGrace(root)
    store.append(df(14), 14)
    assert(!names(root).contains(stale), s"stale compaction survived the grace: ${names(root)}")
    assert(store.unnamedDirs().isEmpty)
    assert(ids(store.readLog().get) == Seq(13L, 14L, 112L))
  }
  test("a re-compaction at the SAME version as the settled base survives (r14 meta)") {
    // a store whose latest version is already a compacted base
    // re-compacts at the same version with DIFFERENT content (the
    // dead-letter drain's rename compact when every replayed batch
    // no-op'd): the fresh base must WIN, in a directory of its own
    val root = Files.createTempDirectory("ssrekeep").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.append(df(1), 0); store.append(df(2), 1)
    store.compact(df(50)) // compacted base at v=1
    assert(ids(store.readLog().get) == Seq(50L))
    store.compact(df(60)) // re-compaction at the SAME version, new content
    assert(ids(store.readLog().get) == Seq(60L),
      "same-version re-compaction was discarded")
    assert(store.versionStats().map(v => (v._1, v._3)) == Seq((1L, true)))
    store.append(df(3), 2)
    assert(ids(store.readLog().get) == Seq(3L, 60L))
  }
  test("compact over a store whose latest version IS a pending swap") {
    // the resolved input plan reads the files of the newest entry's base
    // while the superseded directories still wait out the grace period;
    // the re-compaction writes a new directory, so the input is never
    // overwritten under the plan reading it
    val root = Files.createTempDirectory("sscompact").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.append(df(1), 0); store.append(df(2), 1)
    store.compact(df(101))

    store.compact(store.readLog().get) // input := the committed base

    assert(ids(store.readLog().get) == Seq(101L))
    assert(store.versionStats().map(v => (v._1, v._3)) == Seq((1L, true)))
    assert(names(root).count(_.startsWith(ParquetStateStore.CompactPrefix)) == 2)
    assert(store.unnamedDirs().isEmpty)
  }
  test("dropThrough removes exactly the ids at or below the bound") {
    val root = Files.createTempDirectory("ssdrop").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.append(df(1), 3); store.append(df(2), 7); store.append(df(3), 9)
    store.dropThrough(7)
    assert(store.versionIds() == Seq(9L))
    assert(store.readVersion(9L).get.collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(store.readVersion(7L).isEmpty)
  }

  test("deleteVersion refuses a compacted base (it folds every earlier batch)") {
    val root = Files.createTempDirectory("ssdelguard").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.append(df(1), 0); store.append(df(2), 1)
    store.compact(store.readLog().get.distinct())
    val e = intercept[IllegalStateException] { store.deleteVersion(1L) }
    assert(e.getMessage.contains("compaction"), e.getMessage)
    // plain delta versions still delete individually
    store.append(df(3), 2)
    store.deleteVersion(2L)
    assert(store.versionIds() == Seq(1L))
  }

  test("race: concurrent readers never observe a lost base across 50 append+compact cycles") {
    // VERDICT r10 #2: N reader threads loop readLog() while the
    // single writer loops append+compact. Every SUCCESSFUL read must
    // observe a complete committed state (all 5 keys present); transient
    // listing races (path deleted between list and read) are documented
    // retryable and only counted. The base must survive to the end.
    import spark.implicits._
    val root = Files.createTempDirectory("ssrace").toString + "/s"
    val keys = (1L to 5L)
    val writer = new ParquetStateStore(spark, root)
    writer.append(keys.toDF("id"), 0) // committed base before readers start

    @volatile var done = false
    val wrongReads = new java.util.concurrent.atomic.AtomicLong
    val goodReads = new java.util.concurrent.atomic.AtomicLong
    val transients = new java.util.concurrent.atomic.AtomicLong
    val readers = (1 to 4).map { _ =>
      new Thread(() => {
        val store = new ParquetStateStore(spark, root) // own handle, like a process
        while (!done) {
          try {
            store.readLog().foreach { log =>
              val ids = log.select("id").distinct().collect().map(_.getLong(0)).toSet
              if (ids != keys.toSet) wrongReads.incrementAndGet()
              else goodReads.incrementAndGet()
            }
            if (store.readLog().isEmpty) wrongReads.incrementAndGet() // base lost
          } catch { case _: Exception => transients.incrementAndGet() }
        }
      })
    }
    readers.foreach(_.start())
    try {
      (1L to 50L).foreach { c =>
        writer.append(keys.toDF("id"), c)
        if (c % 3 == 0) writer.compact(writer.readLog().get.distinct())
      }
    } finally { done = true; readers.foreach(_.join(60000)) }

    assert(wrongReads.get == 0,
      s"${wrongReads.get} reads observed an incomplete committed state " +
        s"(good=${goodReads.get}, transient=${transients.get})")
    assert(goodReads.get > 0, "the readers never completed a read — not a race test")
    val finalIds = writer.readLog().get.select("id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(finalIds == keys.toSet)
    assert(writer.latestVersion.contains(50L))
    info(s"good=${goodReads.get} transient=${transients.get}")
  }

  test("reads cost the same at any store size: no Spark job, no per-version listing or stat") {
    // a reader takes everything from the newest log entry: the Spark jobs
    // and the listing and status calls of readLog, versionStats and
    // versionIds must not grow with the number of versions
    val rows = DriverRows.collect(df(1))
    def store(n: Int): String = {
      val root = Files.createTempDirectory(s"sscost$n").toString + "/s"
      val s = new ParquetStateStore(spark, root)
      (0 until n).foreach(b => s.appendRows(rows, b))
      root
    }
    val (small, large) = (store(10), store(200))
    val sc = spark.sparkContext
    val hc = sc.hadoopConfiguration
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    /** (jobs, listing and status calls) of the three reads of `root`, on
      * a handle whose filesystem counts this thread's calls. */
    def cost(root: String): (Long, Long) = {
      val impl = hc.get("fs.file.impl")
      hc.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
      hc.setBoolean("fs.file.impl.disable.cache", true)
      val counted = try new ParquetStateStore(spark, root) finally {
        hc.set("fs.file.impl", impl); hc.unset("fs.file.impl.disable.cache")
      }
      jobs.set(0); CountingFs.calls.set(0); CountingFs.thread = Thread.currentThread
      try {
        assert(counted.readLog().isDefined)
        assert(counted.versionStats().nonEmpty && counted.versionIds().nonEmpty)
      } finally CountingFs.thread = null
      sc.parallelize(Seq(1), 1).count() // flushes the listener bus past the reads
      (jobs.get - 1, CountingFs.calls.get)
    }
    sc.addSparkListener(listener)
    val (costSmall, costLarge) = try (cost(small), cost(large))
      finally sc.removeSparkListener(listener)
    assert(costSmall._1 == 0 && costLarge._1 == 0, s"Spark jobs: 10 versions $costSmall, 200 $costLarge")
    assert(costLarge._2 == costSmall._2 && costSmall._2 > 0,
      s"filesystem calls: 10 versions ${costSmall._2}, 200 versions ${costLarge._2}")
    val all = new ParquetStateStore(spark, large)
    assert(all.versionIds() == (0L until 200L))
    assert(all.readLog().get.count() == 200)
  }

  test("a log entry that cannot be read fails append and readLog instead of reading as empty") {
    // the folded batch ids live in the entry: an entry read as "nothing
    // folded" would let the replay of a folded batch re-append its rows,
    // which corrupts the sign sums of the collapsing engines
    val root = Files.createTempDirectory("sscorrupt").toString + "/s"
    val writer = new ParquetStateStore(spark, root)
    writer.append(df(1), 0); writer.append(df(2), 1)
    writer.compact(df(101))
    val e = newestEntry(root)
    Files.writeString(e, Files.readString(e).take(40))
    Files.deleteIfExists(e.resolveSibling(s".${e.getFileName}.crc"))

    val store = new ParquetStateStore(spark, root)
    val onRead = intercept[IllegalStateException](store.readLog())
    assert(onRead.getMessage.contains(e.getFileName.toString), onRead.getMessage)
    intercept[IllegalStateException](store.append(df(2), 1)) // the replay of a folded batch
    intercept[IllegalStateException](store.append(df(3), 2))
    assert(!Files.exists(Paths.get(s"$root/v=2")), "the append wrote before reading the log")
  }

  test("a store written before the commit log is refused; one that died before its first entry is empty") {
    val old = Files.createTempDirectory("ssold").toString + "/s"
    df(1).write.parquet(s"$old/v=0")
    val store = new ParquetStateStore(spark, old)
    Seq[() => Any](() => store.readLog(), () => store.isEmpty, () => store.append(df(2), 1))
      .foreach { op =>
        val e = intercept[IllegalStateException](op())
        assert(e.getMessage.contains("etl --renew"), e.getMessage)
      }
    assert(names(old) == Set("v=0") && !Files.exists(Paths.get(s"$old/_log")))

    // the writer creates `_log` before its first data write: a crash
    // between that write and the first entry leaves an empty store
    val fresh = Files.createTempDirectory("ssfresh").toString + "/s"
    Files.createDirectories(Paths.get(s"$fresh/_log"))
    DriverParquetWriter.write(spark, DriverRows.collect(df(1)), s"$fresh/v=0")
    val empty = new ParquetStateStore(spark, fresh)
    assert(empty.isEmpty && empty.readLog().isEmpty)
    assert(empty.unnamedDirs() == Seq("v=0"))
    empty.append(df(7), 0) // the replay
    assert(ids(empty.readLog().get) == Seq(7L))
  }
}
