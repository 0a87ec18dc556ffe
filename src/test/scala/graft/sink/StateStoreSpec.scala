package graft.sink

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path

/** ParquetStateStore swap-recovery contract: readers NEVER mutate the
  * filesystem. The old design ran the destructive compaction recovery on
  * every listing, so two concurrent readers could race each other into
  * deleting the freshly renamed base (reader B's inner listing saw reader
  * A's rename as a superseded version), and a reader could delete the
  * writer's fully-written-but-not-yet-marked tmp. Now readers resolve the
  * in-flight swap LOGICALLY and only writer entry points perform it.
  */
class StateStoreSpec extends SparkSpec {

  private def df(ids: Long*) = {
    import spark.implicits._
    ids.toDF("id")
  }

  private def crashAfterMarker(root: String, keep: Long): Unit = {
    // simulate a compact that crashed after its logical commit: a fully
    // written tmp dir carrying the marker, superseded v<=keep still present
    val tmp = s"$root/.compact_tmp_v=$keep"
    df(100L + keep).coalesce(1).write.parquet(tmp)
    Files.createFile(Paths.get(tmp, "_graft_compacted"))
  }

  test("readers present a marker-committed tmp logically without touching disk") {
    val root = Files.createTempDirectory("ssreader").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.append(df(1), 0); store.append(df(2), 1)
    crashAfterMarker(root, keep = 1)

    // every read-side surface sees the compacted view...
    assert(store.latestVersion.contains(1L))
    assert(store.read().get.collect().map(_.getLong(0)).toSeq == Seq(101L))
    assert(store.readLog().get.collect().map(_.getLong(0)).toSeq == Seq(101L))
    assert(store.versionStats().map(v => (v._1, v._3)) == Seq((1L, true)))

    // ...but NOTHING was deleted or renamed: the tmp and both superseded
    // versions are still on disk after any number of reads
    val names = Files.list(Paths.get(root)).toArray.map(_.toString.split('/').last).toSet
    assert(names == Set("v=0", "v=1", ".compact_tmp_v=1"))
  }

  test("a driver-path append replaces an uncommitted leftover of its batch") {
    import org.apache.spark.sql.graftshim.{DriverParquetWriter, DriverRows}
    val root = Files.createTempDirectory("ssleftover").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.appendRows(DriverRows.collect(df(1)), 0)
    // a crash after the part file, before the _SUCCESS commit point
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
    import org.apache.spark.sql.graftshim.DriverRows
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
    val root = Files.createTempDirectory("ssunmarked").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.append(df(1), 0)
    // a fully written tmp WITHOUT the marker — the crash point between
    // parquet write and logical commit; a reader deleting it would yank it
    // out from under the writer's marker creation
    df(99L).coalesce(1).write.parquet(s"$root/.compact_tmp_v=0")

    assert(store.read().get.collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(Files.exists(Paths.get(s"$root/.compact_tmp_v=0")))
  }

  test("the next writer operation settles the pending swap physically") {
    val root = Files.createTempDirectory("sswriter").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.append(df(1), 0); store.append(df(2), 1)
    crashAfterMarker(root, keep = 1)

    store.append(df(3), 2) // writer entry runs the recovery

    val names = Files.list(Paths.get(root)).toArray.map(_.toString.split('/').last).toSet
    assert(names == Set("v=1", "v=2")) // swap completed, superseded v=0 gone
    assert(store.readLog().get.collect().map(_.getLong(0)).toSet == Set(101L, 3L))
  }

  test("TWO marked tmps settle oldest-first to a single newest base (r14)") {
    // r14 review: a transient rename failure (now checked/thrown) could
    // leave an OLD marked tmp behind while a later compact added a newer
    // one. Settling in listing order could settle the newer tmp first and
    // then resurrect the older one NEXT to it — v=2 (folding batches
    // <=2) beside v=4 (also folding them) duplicates every early batch,
    // corrupting the collapsing engines' sign-sums. Recovery now sorts
    // ascending, so the newest settle sweeps the earlier-settled base.
    // keep ids chosen so LEXICAL listing order ("v=12" < "v=9") differs
    // from numeric order — the exact shape that resurrected the stale base
    val root = Files.createTempDirectory("sstwotmp").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    (0L to 12L).foreach(i => store.append(df(i), i))
    crashAfterMarker(root, keep = 9)  // stale tmp a failed rename left behind
    crashAfterMarker(root, keep = 12) // the newer crashed compact

    store.append(df(13), 13) // writer entry runs the recovery

    val names = Files.list(Paths.get(root)).toArray.map(_.toString.split('/').last).toSet
    assert(names == Set("v=12", "v=13"),
      s"stale superseded base resurrected beside the newest compaction: $names")
    assert(store.readLog().get.collect().map(_.getLong(0)).toSet == Set(112L, 13L))
  }

  test("settle ORDER is load-bearing in isolation: oldest-first refuses BEFORE the newer tmp settles (r16)") {
    // r15 pin mutation-audit finding: reverting the ascending settle sort
    // ALONE left every end-state pin green — once the newer tmp settles,
    // supersededBySettled deletes the older tmp either way, so the order
    // half of the r14 defense pair had no isolated teeth. The order IS
    // observable through a blocked oldest rename: a FILE squatting at the
    // oldest tmp's target (not a directory — neither a settled base nor
    // swept by the <=keep delete) makes the checked rename fail. Oldest-
    // first, recovery THROWS on tmp9 before touching tmp12 (refusing the
    // half-settled swap, newest tmp left pending but logically intact);
    // a newest-first revert settles v=12 first, then silently deletes
    // tmp9 as superseded and never throws — this pin goes red on exactly
    // that revert.
    val root = Files.createTempDirectory("ssorder").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    ((0L to 8L) ++ (10L to 12L)).foreach(i => store.append(df(i), i))
    crashAfterMarker(root, keep = 9)  // stale tmp from a failed rename
    crashAfterMarker(root, keep = 12) // the newer crashed compact
    Files.createFile(Paths.get(s"$root/v=9")) // blocks tmp9's rename target

    val e = intercept[java.io.IOException] { store.append(df(13), 13) }
    assert(e.getMessage.contains("refusing to continue"), e.getMessage)
    // the newer tmp was NOT settled first: it is still a pending tmp...
    assert(Files.exists(Paths.get(s"$root/.compact_tmp_v=12")),
      "oldest-first means tmp12 must still be pending when tmp9 refuses")
    // ...and the logical reader view of the store is intact throughout
    assert(store.readLog().get.collect().map(_.getLong(0)).toSet == Set(112L))
  }

  test("a stale marked tmp OLDER than a settled compacted base is deleted, not resurrected (r14)") {
    // legacy pre-r14 damage shape: the old unchecked lexical-order
    // recovery could settle tmp12 first and silently fail tmp9's rename,
    // leaving {settled v=12 base (marker inside), stale marked tmp9}.
    // Both the logical reader view and the physical recovery must treat
    // the stale tmp as superseded garbage — renaming (or presenting) it
    // beside the base double-counts every batch <=9.
    val root = Files.createTempDirectory("sstale").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    (0L to 12L).foreach(i => store.append(df(i), i))
    store.compact(df(112)) // settled base at v=12, marker inside
    crashAfterMarker(root, keep = 9) // the stale leftover

    // readers: only the settled base, never the stale tmp
    assert(store.readLog().get.collect().map(_.getLong(0)).toSet == Set(112L))
    // writers: recovery deletes the stale tmp instead of renaming it in
    store.append(df(13), 13)
    val names = Files.list(Paths.get(root)).toArray.map(_.toString.split('/').last).toSet
    assert(names == Set("v=12", "v=13"),
      s"stale tmp resurrected beside the settled base: $names")
    assert(store.readLog().get.collect().map(_.getLong(0)).toSet == Set(112L, 13L))
  }

  test("a re-compaction at the SAME version as the settled base survives (r14 meta)") {
    // the meta chain caught `>=` in the superseded rule silently
    // deleting exactly this: a store whose latest version is already a
    // settled base re-compacts at the same keep with DIFFERENT content
    // (the dead-letter drain's rename compact when every replayed batch
    // no-op'd). The fresh same-keep tmp must WIN, not be dropped.
    val root = Files.createTempDirectory("ssrekeep").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.append(df(1), 0); store.append(df(2), 1)
    store.compact(df(50)) // settled base at v=1
    assert(store.read().get.collect().map(_.getLong(0)).toSeq == Seq(50L))
    store.compact(df(60)) // re-compaction at the SAME keep, new content
    assert(store.read().get.collect().map(_.getLong(0)).toSeq == Seq(60L),
      "same-keep re-compaction was discarded as superseded")
    store.append(df(3), 2)
    assert(store.readLog().get.collect().map(_.getLong(0)).toSet == Set(60L, 3L))
  }

  test("compact over a store whose latest version IS a pending swap") {
    // the resolved input plan reads the marker-committed tmp; compact must
    // fully materialize it to the stage before settling the swap, or the
    // plan's file listing dies under the rename
    val root = Files.createTempDirectory("sscompact").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.append(df(1), 0); store.append(df(2), 1)
    crashAfterMarker(root, keep = 1)

    store.compact(store.readLog().get) // input := the logical view (the tmp)

    assert(store.readLog().get.collect().map(_.getLong(0)).toSeq == Seq(101L))
    val names = Files.list(Paths.get(root)).toArray.map(_.toString.split('/').last).toSet
    assert(names == Set("v=1"))
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

  test("negative control: the legacy destructive reader recovery loses the base " +
      "under the documented two-reader interleaving") {
    // the pre-fix design ran the physical swap recovery on EVERY listing,
    // including reads. Deterministic step-through of the race the scaladoc
    // names: readers A and B both observe the pending marker-committed tmp
    // (stale views), A completes the swap (delete v<=K, rename tmp->v=K),
    // then B's inner listing sees A's freshly renamed v=K as 'superseded',
    // deletes it, and B's rename of the now-gone tmp fails silently — the
    // committed base is LOST. This pins why readers must never mutate.
    val root = Files.createTempDirectory("sslegacy").toString + "/s"
    val store = new ParquetStateStore(spark, root)
    store.append(df(1), 0); store.append(df(2), 1)
    crashAfterMarker(root, keep = 1)

    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpP = fs.listStatus(new Path(root)).toSeq
      .filter(_.getPath.getName.startsWith(".compact_tmp_v=")).map(_.getPath).head
    val keep = 1L
    // both readers pass the legacy recovery's marker check while the tmp
    // still exists — the stale-view window
    assert(fs.exists(new Path(tmpP, "_graft_compacted"))) // reader A's check
    assert(fs.exists(new Path(tmpP, "_graft_compacted"))) // reader B's check
    def legacyDeleteAndRename(): Unit = {
      // the legacy recovery body after the marker check: delete every
      // superseded v<=keep, then rename the tmp into place (result ignored)
      fs.listStatus(new Path(root)).toSeq
        .filter(v => v.isDirectory && v.getPath.getName.startsWith("v=") &&
          v.getPath.getName.stripPrefix("v=").toLong <= keep)
        .foreach(v => fs.delete(v.getPath, true))
      // rename of a vanished source returns false on HDFS and throws on
      // RawLocalFileSystem — either way the loss already happened at the
      // delete above, so the control tolerates both shapes
      try { fs.rename(tmpP, new Path(s"$root/v=$keep")); () }
      catch { case _: java.io.FileNotFoundException => () }
    }
    legacyDeleteAndRename() // A: swap completes, v=1 is the renamed tmp
    legacyDeleteAndRename() // B: deletes A's fresh v=1, rename of gone tmp no-ops
    assert(new ParquetStateStore(spark, root).isEmpty,
      "interleaving did not reproduce the legacy loss — update the scenario")

    // the CURRENT reader path under the same stale-view interleaving:
    // reads resolve the swap logically, mutate nothing, lose nothing
    val root2 = Files.createTempDirectory("sslogical").toString + "/s"
    val s2 = new ParquetStateStore(spark, root2)
    s2.append(df(1), 0); s2.append(df(2), 1)
    crashAfterMarker(root2, keep = 1)
    val r1 = new ParquetStateStore(spark, root2)
    val r2 = new ParquetStateStore(spark, root2)
    assert(r1.read().get.collect().map(_.getLong(0)).toSeq == Seq(101L))
    assert(r2.read().get.collect().map(_.getLong(0)).toSeq == Seq(101L))
    assert(r1.read().get.collect().map(_.getLong(0)).toSeq == Seq(101L))
    assert(!new ParquetStateStore(spark, root2).isEmpty)
  }

  test("race: concurrent readers never observe a lost base across 50 append+compact cycles") {
    // VERDICT r10 #2: N reader threads loop read()/readLog() while the
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
}
