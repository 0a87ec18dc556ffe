package graft.run

import graft.SparkSpec
import graft.model.Engine
import graft.sink.ParquetStateStore
import graft.streaming.EventSource
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** SURVEY §7.4 — mid-stream DDL vs the running query. Structured
  * Streaming pins the plan (and so each table's value schema) at query
  * start, so the engine's schema-change story is CLEAN RESTART: the DDL
  * event is applied through the K4 sink, the query is stopped, and a new
  * query starts from the SAME checkpoint with the widened TableSync.
  * This spec drives that story end-to-end across a checkpoint boundary:
  * ADD COLUMN, then DROP COLUMN, asserting post-ALTER row fidelity and
  * that pre-ALTER state survives both transitions (ParquetStateStore
  * reads with mergeSchema so mixed-generation versions coexist).
  */
class DdlMidStreamSpec extends SparkSpec {

  private def ev(table: String, action: String, json: String, ts: Long): String = {
    val seq = if (action == "delete") 1 else 2
    val esc = json.replace("\"", "\\\"")
    s"""{"schema":"db","table":"$table","action":"$action","values":"$esc","event_unixtime":$ts,"action_seq":$seq}"""
  }
  private def ddl(stmt: String, ts: Long): String =
    s"""{"schema":"db","table":"t","action":"query","values":"$stmt","event_unixtime":$ts,"action_seq":0}"""

  test("ADD COLUMN then DROP COLUMN across checkpoint restarts keeps row fidelity") {
    val root = Files.createTempDirectory("ddlmid").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val store = new ParquetStateStore(spark, s"$stateRoot/db/t")

    val v1 = StructType(Seq(StructField("id", LongType), StructField("amount", DoubleType)))
    val v2 = v1.add(StructField("note", StringType))
    val t1 = TableSync("db", "t", v1, Seq("id"), Engine.ReplacingMergeTree)
    val t2 = t1.copy(valueSchema = v2)

    val applied = scala.collection.mutable.ArrayBuffer.empty[String]

    // generation 1: two rows under (id, amount), then the ALTER arrives
    Files.write(Paths.get(eventsDir, "b0.json"), Seq(
      ev("t", "insert", """{"id":1,"amount":10.0}""", 100),
      ev("t", "insert", """{"id":2,"amount":20.0}""", 110),
      ddl("ALTER TABLE db.t ADD COLUMN note VARCHAR(20)", 120)
    ).mkString("\n").getBytes("UTF-8"))

    val q1 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t1), stateRoot, ckpt, triggerInterval = "250 milliseconds",
      ddlSink = Some(sql => applied += sql))
    q1.processAllAvailable(); q1.stop()

    // the K4 sink saw the translated ALTER — the operator's restart signal
    assert(applied.exists(_.contains("ADD COLUMNS")))

    // generation 2: restart from the SAME checkpoint with the widened
    // schema; new events carry the new column
    Files.write(Paths.get(eventsDir, "b1.json"), Seq(
      ev("t", "insert", """{"id":3,"amount":30.0,"note":"new"}""", 200),
      ev("t", "update", """{"id":1,"amount":11.0,"note":"upd"}""", 210)
    ).mkString("\n").getBytes("UTF-8"))

    val q2 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t2), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q2.processAllAvailable(); q2.stop()

    val s2 = Consume.currentState(t2, store).get
      .select("id", "amount", "note").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    // pre-ALTER row 2 survives with a null note; post-ALTER rows carry it
    assert(s2 == Set(
      (1L, 11.0, Some("upd")),
      (2L, 20.0, None),
      (3L, 30.0, Some("new"))))

    // generation 3: DROP COLUMN arrives, restart narrowed — new events
    // lack the column, mixed-generation state still resolves
    Files.write(Paths.get(eventsDir, "b2.json"), Seq(
      ddl("ALTER TABLE db.t DROP COLUMN note", 300),
      ev("t", "insert", """{"id":4,"amount":40.0}""", 310)
    ).mkString("\n").getBytes("UTF-8"))
    val q3 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t2), stateRoot, ckpt, triggerInterval = "250 milliseconds",
      ddlSink = Some(sql => applied += sql))
    q3.processAllAvailable(); q3.stop()
    assert(applied.exists(_.contains("DROP COLUMN")))

    val q4 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t1), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q4.processAllAvailable(); q4.stop()

    val ids = Consume.currentState(t1, store).get
      .select("id", "amount").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(ids == Set((1L, 11.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
  }

  test("MODIFY COLUMN type widen mid-stream: mixed int/long state versions still resolve") {
    // the hardest schema-evolution case: a type CHANGE (INT -> BIGINT)
    // leaves committed parquet versions whose column types CONFLICT —
    // plain mergeSchema refuses to union int with bigint, so the store
    // must align old versions to the newest generation's type at read
    val root = Files.createTempDirectory("ddlwiden").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val store = new ParquetStateStore(spark, s"$stateRoot/db/t")

    val v1 = StructType(Seq(StructField("id", LongType), StructField("qty", IntegerType)))
    val v2 = StructType(Seq(StructField("id", LongType), StructField("qty", LongType)))
    val t1 = TableSync("db", "t", v1, Seq("id"), Engine.ReplacingMergeTree)
    val t2 = t1.copy(valueSchema = v2)
    val applied = scala.collection.mutable.ArrayBuffer.empty[String]

    Files.write(Paths.get(eventsDir, "b0.json"), Seq(
      ev("t", "insert", """{"id":1,"qty":10}""", 100),
      ev("t", "insert", """{"id":2,"qty":20}""", 110),
      ddl("ALTER TABLE db.t MODIFY COLUMN qty BIGINT", 120)
    ).mkString("\n").getBytes("UTF-8"))
    val q1 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t1), stateRoot, ckpt, triggerInterval = "250 milliseconds",
      ddlSink = Some(sql => applied += sql))
    q1.processAllAvailable(); q1.stop()
    assert(applied.exists(_.toLowerCase.contains("alter column")))

    // generation 2: same checkpoint, widened schema, a value ONLY a
    // BIGINT can hold, plus an update of a pre-widen row
    Files.write(Paths.get(eventsDir, "b1.json"), Seq(
      ev("t", "insert", """{"id":3,"qty":5000000000}""", 200),
      ev("t", "update", """{"id":1,"qty":11}""", 210)
    ).mkString("\n").getBytes("UTF-8"))
    val q2 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t2), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q2.processAllAvailable(); q2.stop()

    val state = Consume.currentState(t2, store).get
      .select("id", "qty").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(state == Set((1L, 11L), (2L, 20L), (3L, 5000000000L)))
  }

  test("CHANGE COLUMN rename mid-stream: pre-rename rows keep their values") {
    // the target database renames in place (data carries over); the
    // store-side half collapses the log to one renamed base, so rows
    // never touched after the rename must still carry their values
    // under the NEW name in the restarted generation
    val root = Files.createTempDirectory("ddlrename").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val store = new ParquetStateStore(spark, s"$stateRoot/db/t")

    val v1 = StructType(Seq(StructField("id", LongType), StructField("qty", LongType)))
    val v2 = StructType(Seq(StructField("id", LongType), StructField("amount", LongType)))
    val t1 = TableSync("db", "t", v1, Seq("id"), Engine.ReplacingMergeTree)
    val t2 = t1.copy(valueSchema = v2)
    val applied = scala.collection.mutable.ArrayBuffer.empty[String]

    Files.write(Paths.get(eventsDir, "b0.json"), Seq(
      ev("t", "insert", """{"id":1,"qty":10}""", 100),
      ev("t", "insert", """{"id":2,"qty":20}""", 110),
      ddl("ALTER TABLE db.t CHANGE COLUMN qty amount BIGINT", 120)
    ).mkString("\n").getBytes("UTF-8"))
    val q1 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t1), stateRoot, ckpt, triggerInterval = "250 milliseconds",
      ddlSink = Some(sql => applied += sql))
    q1.processAllAvailable(); q1.stop()
    assert(applied.exists(_.contains("RENAME COLUMN")))

    // generation 2: new-name events; row 2 is NEVER touched again
    Files.write(Paths.get(eventsDir, "b1.json"), Seq(
      ev("t", "insert", """{"id":3,"amount":30}""", 200),
      ev("t", "update", """{"id":1,"amount":11}""", 210)
    ).mkString("\n").getBytes("UTF-8"))
    val q2 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t2), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q2.processAllAvailable(); q2.stop()

    val state = Consume.currentState(t2, store).get
      .select("id", "amount").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(state == Set((1L, 11L), (2L, 20L), (3L, 30L)))
  }

  test("CHANGE COLUMN rename with NO ddlSink (store-only pipeline) still compacts the store") {
    // regression: the store-side rename compact used to live inside
    // ddlSink.foreach, so a pipeline with the default ddlSink = None
    // (any store-only consumer) never collapsed the log
    // and pre-rename rows read as null under the new name after restart
    val root = Files.createTempDirectory("ddlrenamenosink").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val store = new ParquetStateStore(spark, s"$stateRoot/db/t")

    val v1 = StructType(Seq(StructField("id", LongType), StructField("qty", LongType)))
    val v2 = StructType(Seq(StructField("id", LongType), StructField("amount", LongType)))
    val t1 = TableSync("db", "t", v1, Seq("id"), Engine.ReplacingMergeTree)
    val t2 = t1.copy(valueSchema = v2)

    Files.write(Paths.get(eventsDir, "b0.json"), Seq(
      ev("t", "insert", """{"id":1,"qty":10}""", 100),
      ev("t", "insert", """{"id":2,"qty":20}""", 110),
      ddl("ALTER TABLE db.t CHANGE COLUMN qty amount BIGINT", 120)
    ).mkString("\n").getBytes("UTF-8"))
    val q1 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t1), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q1.processAllAvailable(); q1.stop()

    Files.write(Paths.get(eventsDir, "b1.json"), Seq(
      ev("t", "insert", """{"id":3,"amount":30}""", 200),
      ev("t", "update", """{"id":1,"amount":11}""", 210)
    ).mkString("\n").getBytes("UTF-8"))
    val q2 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t2), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q2.processAllAvailable(); q2.stop()

    // row 2 was never touched after the rename — its value must carry
    val state = Consume.currentState(t2, store).get
      .select("id", "amount").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(state == Set((1L, 11L), (2L, 20L), (3L, 30L)))
  }

  test("ADD COLUMN mid-batch: rows AFTER the DDL in the same batch keep the new column") {
    // regression: every row of a micro-batch used to parse under the
    // batch-start schema, so a post-ALTER row's new column silently read
    // as null (from_json drops unknown fields — nothing errors, nothing
    // parks) and the LWW resolve then overwrote good values with null
    val root = Files.createTempDirectory("ddlintra").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val store = new ParquetStateStore(spark, s"$stateRoot/db/t")

    val v1 = StructType(Seq(StructField("id", LongType), StructField("amount", DoubleType)))
    val t1 = TableSync("db", "t", v1, Seq("id"), Engine.ReplacingMergeTree)

    // ONE file -> ONE micro-batch: DML, the ALTER, then post-ALTER DML
    Files.write(Paths.get(eventsDir, "b0.json"), Seq(
      ev("t", "insert", """{"id":1,"amount":10.0}""", 100),
      ev("t", "insert", """{"id":2,"amount":20.0}""", 110),
      ddl("ALTER TABLE db.t ADD COLUMN note VARCHAR(20)", 120),
      ev("t", "insert", """{"id":3,"amount":30.0,"note":"new"}""", 200),
      ev("t", "update", """{"id":1,"amount":11.0,"note":"upd"}""", 210)
    ).mkString("\n").getBytes("UTF-8"))
    val q1 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t1), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q1.processAllAvailable(); q1.stop()

    val t2 = t1.copy(valueSchema = v1.add(StructField("note", StringType)))
    val state = Consume.currentState(t2, store).get
      .select("id", "amount", "note").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    assert(state == Set(
      (1L, 11.0, Some("upd")),
      (2L, 20.0, None),
      (3L, 30.0, Some("new"))))
  }

  test("CHANGE COLUMN mid-batch: pre-slice parses old name, post-slice new, one delta") {
    // the rename case is the worst intra-batch shape: pre-DDL rows carry
    // the OLD name and post-DDL rows the NEW one — the split parses each
    // slice under its own schema and unions to the final shape, and the
    // rename compact must tolerate a resolved frame carrying BOTH
    // generations' columns (older committed versions still old-named)
    val root = Files.createTempDirectory("ddlintrarename").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val store = new ParquetStateStore(spark, s"$stateRoot/db/t")

    val v1 = StructType(Seq(StructField("id", LongType), StructField("qty", LongType)))
    val v2 = StructType(Seq(StructField("id", LongType), StructField("amount", LongType)))
    val t1 = TableSync("db", "t", v1, Seq("id"), Engine.ReplacingMergeTree)
    val t2 = t1.copy(valueSchema = v2)

    // batch 0: a committed OLD-named version (so compaction sees mixed
    // generations); row 2 is never touched again
    Files.write(Paths.get(eventsDir, "b0.json"), Seq(
      ev("t", "insert", """{"id":2,"qty":20}""", 90)
    ).mkString("\n").getBytes("UTF-8"))
    val q0 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t1), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q0.processAllAvailable(); q0.stop()

    // batch 1 (one file): old-name DML, the rename, new-name DML
    Files.write(Paths.get(eventsDir, "b1.json"), Seq(
      ev("t", "insert", """{"id":1,"qty":10}""", 100),
      ddl("ALTER TABLE db.t CHANGE COLUMN qty amount BIGINT", 120),
      ev("t", "insert", """{"id":3,"amount":30}""", 200),
      ev("t", "update", """{"id":1,"amount":11}""", 210)
    ).mkString("\n").getBytes("UTF-8"))
    val q1 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t1), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q1.processAllAvailable(); q1.stop()

    val state = Consume.currentState(t2, store).get
      .select("id", "amount").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(state == Set((1L, 11L), (2L, 20L), (3L, 30L)))
  }

  test("same-name CHANGE COLUMN (pure retype) must not destroy the column") {
    // regression: `CHANGE qty qty BIGINT` used to reach renameTransform as
    // (qty, qty), whose coalesce-and-drop deleted the column from the
    // compacted base — permanent data loss on MySQL's idiomatic type change
    val root = Files.createTempDirectory("ddlsamename").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val store = new ParquetStateStore(spark, s"$stateRoot/db/t")

    val v1 = StructType(Seq(StructField("id", LongType), StructField("qty", IntegerType)))
    val t1 = TableSync("db", "t", v1, Seq("id"), Engine.ReplacingMergeTree)

    Files.write(Paths.get(eventsDir, "b0.json"), Seq(
      ev("t", "insert", """{"id":1,"qty":10}""", 100),
      ev("t", "insert", """{"id":2,"qty":20}""", 110),
      ddl("ALTER TABLE db.t CHANGE COLUMN qty qty BIGINT", 120),
      // post-retype row carrying a BIGINT-only value, same batch
      ev("t", "insert", """{"id":3,"qty":5000000000}""", 200)
    ).mkString("\n").getBytes("UTF-8"))
    val q1 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t1), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q1.processAllAvailable(); q1.stop()

    val t2 = t1.copy(valueSchema = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType))))
    val state = Consume.currentState(t2, store).get
      .select("id", "qty").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(state == Set((1L, 10L), (2L, 20L), (3L, 5000000000L)))
  }

  test("ADD COLUMN carries across LATER batches of the same run") {
    // regression: the evolved schema used to live only inside the
    // ALTER-carrying batch's split — the NEXT batch of the same running
    // query re-parsed under the query-start schema, silently nulling the
    // added column (from_json drops unknown fields) and LWW then
    // overwrote good values with null
    val root = Files.createTempDirectory("ddlcarry").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val store = new ParquetStateStore(spark, s"$stateRoot/db/t")

    val v1 = StructType(Seq(StructField("id", LongType), StructField("amount", DoubleType)))
    val t1 = TableSync("db", "t", v1, Seq("id"), Engine.ReplacingMergeTree)

    // batch 0: the ALTER plus a first new-column row
    Files.write(Paths.get(eventsDir, "b0.json"), Seq(
      ev("t", "insert", """{"id":1,"amount":10.0}""", 100),
      ddl("ALTER TABLE db.t ADD COLUMN note VARCHAR(20)", 120),
      ev("t", "insert", """{"id":3,"amount":30.0,"note":"new"}""", 200)
    ).mkString("\n").getBytes("UTF-8"))
    val q = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t1), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q.processAllAvailable()

    // batch 1, SAME running query (no restart, no widened TableSync):
    // an update whose note must survive the cross-batch parse
    Files.write(Paths.get(eventsDir, "b1.json"), Seq(
      ev("t", "update", """{"id":3,"amount":31.0,"note":"upd2"}""", 300)
    ).mkString("\n").getBytes("UTF-8"))
    q.processAllAvailable(); q.stop()

    val t2 = t1.copy(valueSchema = v1.add(StructField("note", StringType)))
    val state = Consume.currentState(t2, store).get
      .select("id", "amount", "note").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    assert(state == Set(
      (1L, 10.0, None),
      (3L, 31.0, Some("upd2"))))
  }

  test("CHANGE COLUMN renaming the PRIMARY KEY column keeps key resolution") {
    // the rename compact runs BEFORE the resolver (pre-resolve transform),
    // so old-name versions group under the new key name — without that,
    // pre-rename rows resolve under a null PK and duplicate
    val root = Files.createTempDirectory("ddlpkrename").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val store = new ParquetStateStore(spark, s"$stateRoot/db/t")

    val v1 = StructType(Seq(StructField("id", LongType), StructField("qty", LongType)))
    val t1 = TableSync("db", "t", v1, Seq("id"), Engine.ReplacingMergeTree)

    // batch 0: committed old-named version (mixed generations at compact)
    Files.write(Paths.get(eventsDir, "b0.json"), Seq(
      ev("t", "insert", """{"id":1,"qty":10}""", 90),
      ev("t", "insert", """{"id":2,"qty":20}""", 95)
    ).mkString("\n").getBytes("UTF-8"))
    val q0 = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t1), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q0.processAllAvailable()

    // batch 1, same run: rename the PK column, then update row 1 and add
    // row 3 under the new key name
    Files.write(Paths.get(eventsDir, "b1.json"), Seq(
      ddl("ALTER TABLE db.t CHANGE COLUMN id ident BIGINT", 120),
      ev("t", "update", """{"ident":1,"qty":11}""", 200),
      ev("t", "insert", """{"ident":3,"qty":30}""", 210)
    ).mkString("\n").getBytes("UTF-8"))
    q0.processAllAvailable(); q0.stop()

    val t2 = TableSync("db", "t", StructType(Seq(
      StructField("ident", LongType), StructField("qty", LongType))),
      Seq("ident"), Engine.ReplacingMergeTree)
    val state = Consume.currentState(t2, store).get
      .select("ident", "qty").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // row 1 updated ONCE (not duplicated under a null old-name key),
    // row 2 untouched since before the rename, row 3 new-generation
    assert(state == Set((1L, 11L), (2L, 20L), (3L, 30L)))
  }

  test("rename batch consumed under an ALREADY-renamed TableSync keeps pre-rename values") {
    // regression (crash-replay degradation): a restart after a crash on a
    // rename-carrying batch hands in a TableSync rebuilt from the
    // already-renamed SOURCE schema. The intra-batch split's scanLeft then
    // derives slice-0's parse schema from the post-rename shape, so
    // pre-rename rows used to parse their old-named column to null and
    // liftSlice's withColumnRenamed no-op'd — silent data loss in exactly
    // the crash window the replay protocol targets. widenForRenames now
    // parses such slices under BOTH names and liftSlice coalesces.
    val root = Files.createTempDirectory("ddlrenamereplay").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val store = new ParquetStateStore(spark, s"$stateRoot/db/t")

    val v2 = StructType(Seq(StructField("id", LongType), StructField("amount", LongType)))
    val t2 = TableSync("db", "t", v2, Seq("id"), Engine.ReplacingMergeTree)

    // ONE file -> ONE batch: old-named DML, the rename, new-named DML —
    // consumed by a query handed the POST-rename TableSync from the start
    Files.write(Paths.get(eventsDir, "b0.json"), Seq(
      ev("t", "insert", """{"id":1,"qty":10}""", 100),
      ev("t", "insert", """{"id":2,"qty":20}""", 110),
      ddl("ALTER TABLE db.t CHANGE COLUMN qty amount BIGINT", 120),
      ev("t", "insert", """{"id":3,"amount":30}""", 200),
      ev("t", "update", """{"id":1,"amount":11}""", 210)
    ).mkString("\n").getBytes("UTF-8"))
    val q = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t2), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q.processAllAvailable(); q.stop()

    val state = Consume.currentState(t2, store).get
      .select("id", "amount").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]))).toSet
    // rows 1 and 2 predate the rename: their qty values must land under
    // amount, not null (row 2 is never touched after the rename)
    assert(state == Set(
      (1L, Some(11L)), (2L, Some(20L)), (3L, Some(30L))))
  }

  test("PK-rename batch consumed under an already-renamed TableSync keeps key resolution") {
    // same crash-replay degradation with the renamed column being the
    // PRIMARY KEY: pre-rename rows used to parse a null key (one resolved
    // null-PK row swallowing them all); now they coalesce into the new key
    val root = Files.createTempDirectory("ddlpkrenamereplay").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val store = new ParquetStateStore(spark, s"$stateRoot/db/t")

    val v2 = StructType(Seq(StructField("ident", LongType), StructField("qty", LongType)))
    val t2 = TableSync("db", "t", v2, Seq("ident"), Engine.ReplacingMergeTree)

    Files.write(Paths.get(eventsDir, "b0.json"), Seq(
      ev("t", "insert", """{"id":1,"qty":10}""", 100),
      ev("t", "insert", """{"id":2,"qty":20}""", 110),
      ddl("ALTER TABLE db.t CHANGE COLUMN id ident BIGINT", 120),
      ev("t", "update", """{"ident":1,"qty":11}""", 200),
      ev("t", "insert", """{"ident":3,"qty":30}""", 210)
    ).mkString("\n").getBytes("UTF-8"))
    val q = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t2), stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q.processAllAvailable(); q.stop()

    val state = Consume.currentState(t2, store).get
      .select("ident", "qty").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(state == Set((1L, 11L), (2L, 20L), (3L, 30L)))
  }

  test("widenForRenames recovers the whole rename chain, backwards") {
    import graft.ddl.AlterParser._
    val handed = StructType(Seq(
      StructField("id", LongType), StructField("c", LongType)))
    // a→b then b→c, schema already holds only the final name: the reverse
    // walk must recover b (from b→c) and then a (from a→b via b)
    val widened = Consume.widenForRenames(handed, Seq(
      ChangeColumn("a", "b", None), ChangeColumn("b", "c", None)))
    assert(widened.fieldNames.toSet == Set("id", "c", "b", "a"))
    // normal-run identity: schema still carries the old name -> no change
    val normal = StructType(Seq(
      StructField("id", LongType), StructField("a", LongType)))
    assert(Consume.widenForRenames(normal,
      Seq(ChangeColumn("a", "b", None))) == normal)
    // same-name retype is not a rename -> no change
    assert(Consume.widenForRenames(handed,
      Seq(ChangeColumn("c", "c", Some("BIGINT")))) == handed)
  }

  test("same-second DDL rows collect in staged-file order (deterministic tiebreak)") {
    // binlog timestamps are second-coarse and DDL rows all carry
    // action_seq 0 — two ALTERs in one second must apply in log order,
    // not partition-luck order (ADD before MODIFY of the added column)
    val root = Files.createTempDirectory("ddlorder").toString
    val f = Paths.get(root, "b0.json")
    Files.write(f, Seq(
      ddl("ALTER TABLE db.t ADD COLUMN note VARCHAR(20)", 100),
      ddl("ALTER TABLE db.t MODIFY COLUMN note TEXT", 100),
      ddl("ALTER TABLE db.t CHANGE COLUMN note note2 TEXT", 100)
    ).mkString("\n").getBytes("UTF-8"))
    val batch = spark.read.schema(graft.model.ChangeEvent.wireSchema)
      .json(f.toString)
    val got = Consume.collectDdlAll(batch)("db").map(_._1)
    assert(got == Seq(
      "ALTER TABLE db.t ADD COLUMN note VARCHAR(20)",
      "ALTER TABLE db.t MODIFY COLUMN note TEXT",
      "ALTER TABLE db.t CHANGE COLUMN note note2 TEXT"))
  }

  test("same-second DDL rows ACROSS staged files collect in file-name order") {
    // regression: the monotonic-id tiebreak alone is partition-ordered,
    // and the file scan packs partitions in SIZE-descending order — a
    // byte-larger later file used to sort its DDL first. The tiebreak now
    // leads with input_file_name() (staged names are chronological), so
    // the padded-larger MODIFY file must still collect AFTER the ADD.
    val root = Files.createTempDirectory("ddlxfile").toString
    val add = ddl("ALTER TABLE db.t ADD COLUMN note VARCHAR(20)", 100)
    val modify = ddl("ALTER TABLE db.t MODIFY COLUMN note TEXT", 100)
    // file 2 is made MUCH larger so size-order would put it first
    Files.write(Paths.get(root, "f1.txt"), add.getBytes("UTF-8"))
    Files.write(Paths.get(root, "f2.txt"),
      (modify + (" " * 4096)).getBytes("UTF-8"))
    val batch = spark.read.schema(graft.model.ChangeEvent.wireSchema)
      .json(s"$root/f1.txt", s"$root/f2.txt")
    val got = Consume.collectDdlAll(batch)("db").map(_._1)
    assert(got == Seq(
      "ALTER TABLE db.t ADD COLUMN note VARCHAR(20)",
      "ALTER TABLE db.t MODIFY COLUMN note TEXT"))
  }

  test("same-second DDL rows from a batch collected on the driver come out in " +
    "collectDdlAll's order") {
    // the one-partition consume path takes its DDL from the collected
    // batch (Consume.ddlAll) instead of collectDdlAll's job over the
    // frame; both must give every schema's statements in the same order:
    // same-second ALTERs within a file in read order, and across files in
    // file-name order even when the later file is byte-larger
    val root = Files.createTempDirectory("ddldriverrows").toString
    val stmts = (1 to 6).map(i => s"ALTER TABLE db.t ADD COLUMN c$i INT")
    Files.write(Paths.get(root, "f1.txt"), Seq(
      ddl(stmts(0), 100), ddl(stmts(1), 100), ddl(stmts(4), 200)
    ).mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(root, "f2.txt"), (Seq(
      ddl(stmts(2), 100), ddl(stmts(3), 100),
      ddl(stmts(5), 200).replace("\"db\"", "\"db2\"")
    ).mkString("\n") + (" " * 4096)).getBytes("UTF-8"))
    val batch = spark.read.schema(graft.model.ChangeEvent.wireSchema)
      .json(s"$root/f1.txt", s"$root/f2.txt")
    val viaFrame = Consume.collectDdlAll(batch)
    val viaRows = Consume.ddlAll(Consume.collectBatch(batch))
    assert(viaRows == viaFrame)
    assert(viaRows("db").map(_._1) == Seq(stmts(0), stmts(1), stmts(2), stmts(3), stmts(4)))
    assert(viaRows("db2").map(_._1) == Seq(stmts(5)))
  }

  test("driver-side DDL sort gives the total order of Spark's orderBy") {
    // collectDdlAll sorts on the driver; it must reproduce the SQL sort
    // it replaced: nulls first, file names as UTF-8 bytes (U+FFFD sorts
    // before an above-BMP name there, after it in UTF-16 String order)
    import org.apache.spark.sql.Row
    val rnd = new scala.util.Random(0x5EED)
    val files = Array[String](null, "", "f1", "f10", "f2", "\u00e9", "\uFFFD",
      "\uD83D\uDE00")
    val rows = (0 until 400).map { i =>
      Row("db", "query", s"s$i", (rnd.nextInt(4) * 100).toLong,
        files(rnd.nextInt(files.length)),
        if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(50)))
    }
    val schema = StructType(Seq(StructField("schema", StringType),
      StructField("action", StringType), StructField("values", StringType),
      StructField("event_unixtime", LongType), StructField("_src_file", StringType),
      StructField("_src_seq", LongType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    // compare sort KEYS, so rows tied on all three keys may come in any order
    val key = rows.map(r => r.getString(2) -> (r.get(3), r.get(4), r.get(5))).toMap
    val sql = df.orderBy("event_unixtime", "_src_file", "_src_seq")
      .collect().map(r => key(r.getString(2))).toSeq
    val got = Consume.collectDdlAll(df)("db").map(d => key(d._1))
    assert(got == sql)
  }

  test("same-second cross-file DDL applies in staged order through the live loop") {
    // E2E pin that input_file_name() resolves inside the foreachBatch
    // micro-batch (stamped BEFORE the coalesce and the cache): three
    // staged files in ONE small trigger, each chronologically-later file
    // byte-larger (the scan packs them in reverse, and the coalesced
    // partition reads them in that order), the K4 sink must still see
    // ADD, then MODIFY, then DROP
    val root = Files.createTempDirectory("ddlxfilelive").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"
    val v1 = StructType(Seq(StructField("id", LongType), StructField("amount", DoubleType)))
    val t1 = TableSync("db", "t", v1, Seq("id"), Engine.ReplacingMergeTree)
    Files.write(Paths.get(eventsDir, "f1.txt"), Seq(
      ev("t", "insert", """{"id":1,"amount":10.0}""", 90),
      ddl("ALTER TABLE db.t ADD COLUMN note VARCHAR(20)", 100)
    ).mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(eventsDir, "f2.txt"),
      (ddl("ALTER TABLE db.t MODIFY COLUMN note TEXT", 100) + (" " * 4096))
        .getBytes("UTF-8"))
    Files.write(Paths.get(eventsDir, "f3.txt"),
      (ddl("ALTER TABLE db.t DROP COLUMN note", 100) + (" " * 8192))
        .getBytes("UTF-8"))
    val applied = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t1), stateRoot, ckpt, triggerInterval = "250 milliseconds",
      ddlSink = Some(sql => applied.synchronized { applied += sql; () }))
    q.processAllAvailable(); q.stop()
    val addIdx = applied.indexWhere(_.contains("ADD COLUMNS"))
    val modIdx = applied.indexWhere(_.contains("ALTER COLUMN"))
    val dropIdx = applied.indexWhere(_.contains("DROP COLUMN"))
    assert(addIdx >= 0 && modIdx >= 0 && dropIdx >= 0, s"DDL missing: $applied")
    assert(addIdx < modIdx && modIdx < dropIdx, s"DDL out of staged order: $applied")
  }

  test("property: random ALTER chains x degraded-handoff crash points keep row fidelity") {
    // VERDICT r11 #7: widenForRenames' crash-replay recovery is pinned by
    // three example tests; this generalizes them. Random chains of
    // ADD / DROP / CHANGE-rename (incl. chained renames) / retype, with
    // rows written between the ALTERs, then the whole batch replayed
    // under EVERY degraded handoff (TableSync rebuilt from the source
    // schema as of k applied ALTERs, k = 0..n — k>0 is the crash window):
    // the changelog must deliver every surviving row value under the
    // final column names regardless of k. Deterministic seed.
    import org.apache.spark.sql.functions.col
    sealed trait Alt
    case class AddC(name: String, kind: String) extends Alt
    case class DropC(name: String) extends Alt
    case class RenameC(o: String, n: String, kind: String) extends Alt
    case class RetypeC(name: String) extends Alt // INT -> BIGINT
    def mysql(kind: String) = kind match {
      case "int" => "INT"; case "long" => "BIGINT"; case _ => "VARCHAR(20)"
    }
    def sparkT(kind: String) = kind match {
      case "int" => IntegerType; case "long" => LongType; case _ => StringType
    }
    val rnd = new scala.util.Random(0xD1CE)
    (1 to 15).foreach { trial =>
      // live non-PK columns as (name, kind); start with two
      var cols = Vector(("c1", "long"), ("c2", "str"))
      var nextC = 3
      val alters = (0 until (1 + rnd.nextInt(4))).map { _ =>
        val feasible = Seq.newBuilder[Int]
        feasible += 0                                  // add
        if (cols.size > 1) feasible += 1               // drop
        if (cols.nonEmpty) feasible += 2               // rename
        if (cols.exists(_._2 == "int")) feasible += 3  // retype
        val ops = feasible.result()
        ops(rnd.nextInt(ops.size)) match {
          case 0 =>
            val k = Seq("int", "long", "str")(rnd.nextInt(3))
            val a = AddC(s"c$nextC", k); nextC += 1
            cols :+= ((a.name, k)); a
          case 1 =>
            val (n, _) = cols(rnd.nextInt(cols.size))
            cols = cols.filterNot(_._1 == n); DropC(n)
          case 2 =>
            val i = rnd.nextInt(cols.size)
            val (o, k) = cols(i)
            val a = RenameC(o, s"c$nextC", k); nextC += 1
            cols = cols.updated(i, (a.n, k)); a
          case 3 =>
            val ints = cols.filter(_._2 == "int")
            val (n, _) = ints(rnd.nextInt(ints.size))
            cols = cols.map { case (c, k) => if (c == n) (c, "long") else (c, k) }
            RetypeC(n)
        }
      }
      def stmt(a: Alt) = a match {
        case AddC(n, k)       => s"ALTER TABLE db.t ADD COLUMN $n ${mysql(k)}"
        case DropC(n)         => s"ALTER TABLE db.t DROP COLUMN $n"
        case RenameC(o, n, k) => s"ALTER TABLE db.t CHANGE $o $n ${mysql(k)}"
        case RetypeC(n)       => s"ALTER TABLE db.t MODIFY $n BIGINT"
      }
      // schema/column timeline per slice (slice k = rows before alter k)
      val timeline = alters.scanLeft(Vector(("c1", "long"), ("c2", "str"))) {
        case (cs, AddC(n, k))       => cs :+ ((n, k))
        case (cs, DropC(n))         => cs.filterNot(_._1 == n)
        case (cs, RenameC(o, n, _)) => cs.map { case (c, k) => if (c == o) (n, k) else (c, k) }
        case (cs, RetypeC(n))       => cs.map { case (c, k) => if (c == n) (c, "long") else (c, k) }
      }
      // rows: 1-2 inserts per slice, values in that slice's live shape
      var pk = 0L
      val rows = timeline.zipWithIndex.flatMap { case (live, k) =>
        (0 until (1 + rnd.nextInt(2))).map { j =>
          pk += 1
          val vals: Map[String, String] = live.map { case (c, kind) =>
            c -> (kind match {
              case "int"  => rnd.nextInt(100).toString
              case "long" => (1000L + rnd.nextInt(100000)).toString
              case _      => "\"s" + rnd.nextInt(100) + "\""
            })
          }.toMap
          val ts = 1000L * k + 5 + 10 * j
          (pk, k, ts, vals)
        }
      }
      // expected final value per row: thread its written values through
      // the REMAINING alters (string compare; int->long keeps the repr)
      def strip(v: String) = v.stripPrefix("\"").stripSuffix("\"")
      val finalCols = timeline.last.map(_._1)
      val expected = rows.map { case (id, k, _, vals) =>
        var m: Map[String, Option[String]] =
          vals.map { case (c, v) => c -> Some(strip(v)) }
        alters.drop(k).foreach {
          case AddC(n, _)       => m += n -> None
          case DropC(n)         => m -= n
          case RenameC(o, n, _) => val v = m.getOrElse(o, None); m = m - o + (n -> v)
          case RetypeC(_)       => ()
        }
        id -> finalCols.map(c => m.getOrElse(c, None))
      }.toMap
      // the batch: DML rows + DDL rows, one canonical frame
      import spark.implicits._
      val dml = rows.map { case (id, _, ts, vals) =>
        val json = (Seq(s"\"id\":$id") ++ vals.map { case (c, v) => s"\"$c\":$v" })
          .mkString("{", ",", "}")
        ("db", "t", "insert", json, ts, 2, null: String)
      }
      val ddlRows = alters.zipWithIndex.map { case (a, i) =>
        ("db", "t", "query", stmt(a), 1000L * (i + 1), 0, null: String)
      }
      val events = (dml ++ ddlRows).toDF(
        "schema", "table", "action", "values", "event_unixtime", "action_seq", "old_values")
      val ddls = alters.zipWithIndex.map { case (a, i) => (stmt(a), 1000L * (i + 1)) }
      val baseSchema = StructType(StructField("id", LongType) +:
        Vector(("c1", "long"), ("c2", "str")).map { case (c, k) => StructField(c, sparkT(k)) })
      // every degraded handoff: TableSync rebuilt as of `cut` applied ALTERs
      (0 to alters.size).foreach { cut =>
        val handed = timeline(cut).foldLeft(
          StructType(Seq(StructField("id", LongType)))) { case (sch, (c, k)) =>
          sch.add(StructField(c, sparkT(k)))
        }
        val t = TableSync("db", "t", handed, Seq("id"), Engine.ReplacingMergeTree)
        val out = try Consume.tableChangelog(events, t, ddls)
          catch { case e: Exception => throw new RuntimeException(
            s"trial=$trial cut=$cut alters=${alters.map(stmt).mkString("; ")} handed=${handed.fieldNames.mkString(",")}", e) }
        val got = out.select((col("id") +: finalCols.map(col)): _*).collect()
          .map { r =>
            r.getLong(0) -> finalCols.indices.map(i =>
              Option(r.get(i + 1)).map(_.toString)).toVector
          }.toMap
        assert(got == expected.map { case (k2, v) => k2 -> v.toVector },
          s"trial=$trial cut=$cut alters=${alters.map(stmt).mkString("; ")}")
      }
    }
  }

  test("evolveTable: sequence-replay idempotence over every short ALTER combination") {
    // the restart contract leans on this: replaying an already-applied
    // DDL batch against the evolved TableSync must converge, whatever the
    // ALTER mix (exhaustive over all length-<=3 sequences from a pool
    // covering add/drop/modify/rename/same-name-retype/pk-rename)
    val pool = Seq(
      "ALTER TABLE db.t ADD COLUMN note VARCHAR(20)",
      "ALTER TABLE db.t DROP COLUMN qty",
      "ALTER TABLE db.t MODIFY COLUMN qty BIGINT",
      "ALTER TABLE db.t CHANGE COLUMN qty amount BIGINT",
      "ALTER TABLE db.t CHANGE COLUMN qty qty BIGINT",
      "ALTER TABLE db.t CHANGE COLUMN id ident BIGINT")
    val base = TableSync("db", "t",
      StructType(Seq(StructField("id", LongType), StructField("qty", IntegerType))),
      Seq("id"), Engine.ReplacingMergeTree, versionColumn = Some("qty"))
    val seqs =
      pool.map(Seq(_)) ++
        (for (a <- pool; b <- pool) yield Seq(a, b)) ++
        (for (a <- pool; b <- pool; c <- pool) yield Seq(a, b, c))
    seqs.foreach { stmts =>
      val ddls = stmts.zipWithIndex.map { case (s, i) => (s, 100L + i) }
      val once = Consume.evolveTable(base, ddls)
      val twice = Consume.evolveTable(once, ddls)
      assert(twice.valueSchema == once.valueSchema,
        s"schema not replay-stable for $stmts: ${once.valueSchema.simpleString} vs ${twice.valueSchema.simpleString}")
      assert(twice.pkCols == once.pkCols && twice.versionColumn == once.versionColumn,
        s"keys not replay-stable for $stmts")
      // a tracked pk/version column always names a real field unless the
      // sequence dropped it outright
      val dropped = stmts.exists(_.contains("DROP COLUMN qty"))
      once.pkCols.foreach(p => assert(once.valueSchema.fieldNames.contains(p),
        s"pk $p missing from schema after $stmts"))
      if (!dropped)
        once.versionColumn.foreach(v =>
          assert(once.valueSchema.fieldNames.contains(v),
            s"version $v missing from schema after $stmts"))
    }
  }

  test("evolveSchema is idempotent under batch replay with a pre-widened TableSync") {
    import graft.ddl.AlterParser._
    val base = StructType(Seq(StructField("id", LongType), StructField("note", StringType)))
    // replaying ADD COLUMN note on an already-widened schema must not
    // produce a duplicate field (crash between store commit and checkpoint
    // commit + the documented restart-with-widened-TableSync procedure)
    val once = Consume.evolveTable(
      TableSync("db", "t", base, Seq("id")),
      Seq(("ALTER TABLE db.t ADD COLUMN note VARCHAR(20)", 100L)))
    assert(once.valueSchema.fieldNames.toSeq == Seq("id", "note"))
    // and a rename tracks through pkCols / versionColumn
    val renamed = Consume.evolveTable(
      TableSync("db", "t", base, Seq("id"), versionColumn = Some("note")),
      Seq(("ALTER TABLE db.t CHANGE COLUMN note note2 TEXT", 100L),
        ("ALTER TABLE db.t CHANGE COLUMN id id2 BIGINT", 110L)))
    assert(renamed.valueSchema.fieldNames.toSeq == Seq("id2", "note2"))
    assert(renamed.pkCols == Seq("id2"))
    assert(renamed.versionColumn.contains("note2"))
  }
}
