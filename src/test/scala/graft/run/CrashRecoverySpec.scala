package graft.run

import graft.SparkSpec
import graft.model.Engine
import graft.sink.ParquetStateStore
import graft.streaming.EventSource
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

/** The C1 crash window, end-to-end through the real checkpoint machinery:
  * foreachBatch commits the batch to the store, then the process dies
  * BEFORE Spark commits the checkpoint. On restart Spark replays the same
  * data under the same batch id — at-least-once delivery — and the
  * batch-id-idempotent store must turn the replay into a no-op, giving
  * effectively-once application (the loop the reference cannot close:
  * broker.commit after flush leaves the same window,
  * synch/replication/continuous.py:163).
  *
  * Simulation: run a batch to completion, then restore the checkpoint
  * directory to its pre-batch snapshot. That is byte-for-byte the
  * post-crash state — store has v=N committed, checkpoint's offset/commit
  * logs end at N-1 — without killing the JVM. The file source re-plans
  * the same files as the same batch id from the restored source log.
  */
class CrashRecoverySpec extends SparkSpec {

  private val valueSchema = StructType(Seq(
    StructField("id", LongType), StructField("amount", DoubleType)))

  private def ev(table: String, action: String, id: Long, amount: Double,
                 ts: Long): String = {
    val seq = if (action == "delete") 1 else 2
    s"""{"schema":"db","table":"$table","action":"$action","values":"{\\"id\\":$id,\\"amount\\":$amount}","event_unixtime":$ts,"action_seq":$seq}"""
  }

  private def writeBatch(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))

  private def copyTree(src: Path, dst: Path): Unit = {
    Files.walk(src).forEach { p =>
      val target = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else {
        Files.createDirectories(target.getParent)
        Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  test("batch replayed after a checkpoint-commit crash is a store no-op " +
    "(effectively-once across all engine families)") {
    val root = Files.createTempDirectory("crash").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val ckptSnap = Paths.get(s"$root/ckpt_snap")

    // one table per engine family: MergeTree (arrival-ordered eager),
    // Replacing (version latest-wins — would silently ABSORB a duplicate,
    // so the raw-log assertion below is what actually proves the no-op),
    // Collapsing (sign algebra — a double-applied delete nets -1 and
    // corrupts state, the sharpest detector of a replayed batch)
    val tables = Seq(
      TableSync("db", "mt", valueSchema, Seq("id"), Engine.MergeTree),
      TableSync("db", "rt", valueSchema, Seq("id"), Engine.ReplacingMergeTree),
      TableSync("db", "ct", valueSchema, Seq("id"), Engine.CollapsingMergeTree))
    def stores = tables.map(t =>
      t -> new ParquetStateStore(spark, s"$stateRoot/${t.schema}/${t.table}")).toMap

    writeBatch(eventsDir, "b0.json", Seq(
      ev("mt", "insert", 1, 10.0, 100), ev("mt", "insert", 2, 20.0, 110),
      ev("rt", "insert", 7, 70.0, 100),
      ev("ct", "insert", 5, 50.0, 100), ev("ct", "insert", 6, 60.0, 110)))

    val q1 = Consume.start(spark, EventSource.files(spark, eventsDir),
      tables, stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q1.processAllAvailable(); q1.stop()

    // snapshot the checkpoint as of batch 0 — this is what survives the
    // "crash" below
    copyTree(Paths.get(ckpt), ckptSnap)

    // batch 1: an update, a fresh insert, and two deletes — every row the
    // replay could double-apply
    writeBatch(eventsDir, "b1.json", Seq(
      ev("mt", "update", 1, 11.0, 200), ev("mt", "delete", 2, 20.0, 300),
      ev("rt", "update", 7, 77.0, 200),
      ev("ct", "delete", 5, 50.0, 300), ev("ct", "insert", 8, 80.0, 310)))

    val q2 = Consume.start(spark, EventSource.files(spark, eventsDir),
      tables, stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q2.processAllAvailable(); q2.stop()

    def stateOf(t: TableSync): Set[(Long, Double)] =
      Consume.currentState(t, stores(t)).get.select("id", "amount")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    def logRows(t: TableSync): Long = stores(t).readLog().map(_.count()).getOrElse(0L)

    val healthyStates = tables.map(stateOf)
    val healthyLogs = tables.map(logRows)
    val healthyVersions = tables.map(t => stores(t).latestVersion)
    assert(healthyStates(0) == Set((1L, 11.0)))          // mt: update kept, delete applied
    assert(healthyStates(1) == Set((7L, 77.0)))          // rt: latest version
    assert(healthyStates(2) == Set((6L, 60.0), (8L, 80.0))) // ct: 5 cancelled

    // CRASH: the store committed batch 1 but the checkpoint commit never
    // landed — restore the pre-batch-1 checkpoint over the live one
    deleteTree(Paths.get(ckpt))
    copyTree(ckptSnap, Paths.get(ckpt))

    // restart: Spark re-plans b1.json under the SAME batch id and replays
    // it through foreachBatch; every store append must be a no-op
    val q3 = Consume.start(spark, EventSource.files(spark, eventsDir),
      tables, stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q3.processAllAvailable(); q3.stop()

    assert(tables.map(stateOf) == healthyStates,
      "replayed batch changed resolved state — double-applied events")
    // the raw log is the honest witness: Replacing resolve would absorb a
    // duplicate row, but an idempotent store must not have grown at all
    assert(tables.map(logRows) == healthyLogs,
      "replayed batch appended duplicate log rows")
    assert(tables.map(t => stores(t).latestVersion) == healthyVersions)
  }

  test("a batch that crashes mid-apply (after some tables committed) " +
    "replays to convergence, not double-application") {
    val root = Files.createTempDirectory("crashmid").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"

    val tables = Seq(
      TableSync("db", "ct", valueSchema, Seq("id"), Engine.CollapsingMergeTree))
    val store = new ParquetStateStore(spark, s"$stateRoot/db/ct")

    writeBatch(eventsDir, "b0.json", Seq(
      ev("ct", "insert", 1, 10.0, 100), ev("ct", "insert", 2, 20.0, 110)))
    val q1 = Consume.start(spark, EventSource.files(spark, eventsDir),
      tables, stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q1.processAllAvailable(); q1.stop()

    // partial apply: batch 1's delta is already IN the store (as if one
    // table's future finished right before the crash), but the checkpoint
    // never saw batch 1 — the replay must hit batch-id idempotence, not
    // append a second -1 for id=1
    writeBatch(eventsDir, "b1.json", Seq(ev("ct", "delete", 1, 10.0, 200)))
    val preApplied = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("delete", 200L, 1, 1L, 10.0))),
      StructType(Seq(
        StructField("action", StringType), StructField("event_unixtime", LongType),
        StructField("action_seq", IntegerType), StructField("id", LongType),
        StructField("amount", DoubleType))))
    Consume.applyBatch(tables.head, store, preApplied, batchId = 1L)

    val logBefore = store.readLog().get.count()
    val q2 = Consume.start(spark, EventSource.files(spark, eventsDir),
      tables, stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q2.processAllAvailable(); q2.stop()

    assert(store.readLog().get.count() == logBefore,
      "replay after partial apply appended duplicate rows")
    val state = Consume.currentState(tables.head, store).get
      .select("id", "amount").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(state == Set((2L, 20.0)), s"state diverged: $state")
  }
}
