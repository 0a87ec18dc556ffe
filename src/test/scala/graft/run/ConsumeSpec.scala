package graft.run

import graft.SparkSpec
import graft.model.Engine
import graft.sink.{ParquetStateStore, SinkStrategy}
import graft.streaming.EventSource
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** End-to-end streaming apply loop: JSON event files → EventSource →
  * Consume.foreachBatch → engine-specific state, including checkpoint
  * resume semantics (C1/C2) and skip-error mode (C3).
  */
class ConsumeSpec extends SparkSpec {

  private val valueSchema = StructType(Seq(
    StructField("id", LongType), StructField("amount", DoubleType)))

  private def ev(table: String, action: String, id: Long, amount: Double,
                 ts: Long): String = {
    val seq = if (action == "delete") 1 else 2
    s"""{"schema":"db","table":"$table","action":"$action","values":"{\\"id\\":$id,\\"amount\\":$amount}","event_unixtime":$ts,"action_seq":$seq}"""
  }

  private def writeBatch(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name),
      lines.mkString("\n").getBytes("UTF-8"))

  /** Apply one batch's changelog through `df.write`, or (`onDriver`) as
    * the one-partition consume path does: collect the delta and write it
    * on the driver. */
  private def applyBatch(t: TableSync, store: ParquetStateStore,
                         changelog: org.apache.spark.sql.DataFrame, batchId: Long,
                         onDriver: Boolean): Unit =
    if (onDriver) store.appendRows(Consume.stampRows(t,
      org.apache.spark.sql.graftshim.DriverRows.collect(Consume.delta(t, changelog)), batchId), batchId)
    else Consume.applyBatch(spark, t, store, changelog, batchId)

  /** The canonical event frame of a directory of wire-JSON files, read
    * as a batch. */
  private def readEvents(dir: String) =
    EventSource.parse(spark.read.text(dir).withColumnRenamed("value", "json"))

  test("consume applies events to MergeTree and Replacing tables, resumes from checkpoint") {
    val root = Files.createTempDirectory("consume").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val stateRoot = s"$root/state"; val ckpt = s"$root/ckpt"

    val tables = Seq(
      TableSync("db", "mt", valueSchema, Seq("id"), Engine.MergeTree),
      TableSync("db", "rt", valueSchema, Seq("id"), Engine.ReplacingMergeTree))

    writeBatch(eventsDir, "b0.json", Seq(
      ev("mt", "insert", 1, 10.0, 100),
      ev("mt", "insert", 2, 20.0, 110),
      ev("mt", "update", 1, 11.0, 200),
      ev("mt", "delete", 2, 20.0, 300),
      ev("rt", "insert", 7, 70.0, 100),
      ev("rt", "update", 7, 77.0, 200)))

    val q1 = Consume.start(spark, EventSource.files(spark, eventsDir),
      tables, stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q1.processAllAvailable(); q1.stop()

    val mtStore = new ParquetStateStore(spark, s"$stateRoot/db/mt")
    val mt = Consume.currentState(tables.head, mtStore).get
      .select("id", "amount").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(mt == Set((1L, 11.0)))

    val rtStore = new ParquetStateStore(spark, s"$stateRoot/db/rt")
    val rt = Consume.currentState(tables(1), rtStore).get
      .select("id", "amount").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rt == Set((7L, 77.0)))

    // second run with one more file: checkpoint resume processes only the new file
    writeBatch(eventsDir, "b1.json", Seq(
      ev("mt", "insert", 3, 30.0, 400),
      ev("rt", "delete", 7, 77.0, 400)))
    val q2 = Consume.start(spark, EventSource.files(spark, eventsDir),
      tables, stateRoot, ckpt, triggerInterval = "250 milliseconds")
    q2.processAllAvailable(); q2.stop()

    val mt2 = Consume.currentState(tables.head, mtStore).get
      .select("id").collect().map(_.getLong(0)).toSet
    assert(mt2 == Set(1L, 3L))
    val rt2 = Consume.currentState(tables(1), rtStore).get
      .select("id").collect().map(_.getLong(0)).toSet
    assert(rt2 == Set.empty[Long]) // tombstone wins at read time
  }

  test("a small multi-file micro-batch runs in two jobs: a one-task batch collect, " +
    "then one delta job of a task per table with no exchange; one part file per delta") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import scala.jdk.CollectionConverters._

    val root = Files.createTempDirectory("consumeshape").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val tables = Seq(
      TableSync("db", "mt", valueSchema, Seq("id"), Engine.MergeTree),
      TableSync("db", "rt", valueSchema, Seq("id"), Engine.ReplacingMergeTree),
      TableSync("db", "ct", valueSchema, Seq("id"), Engine.CollapsingMergeTree))
    val alter = """{"schema":"db","table":"audit","action":"query",""" +
      """"values":"ALTER TABLE db.audit ADD COLUMN note VARCHAR(20)",""" +
      """"event_unixtime":200,"action_seq":0}"""
    writeBatch(eventsDir, "b0.json", Seq(
      ev("mt", "insert", 1, 10.0, 100), ev("mt", "insert", 2, 20.0, 100),
      ev("rt", "insert", 7, 70.0, 100), ev("ct", "insert", 5, 50.0, 100)))
    writeBatch(eventsDir, "b1.json", Seq(
      ev("mt", "update", 1, 11.0, 200), ev("rt", "update", 7, 77.0, 200),
      ev("ct", "insert", 6, 60.0, 200), alter))
    writeBatch(eventsDir, "b2.json", Seq(
      ev("mt", "delete", 2, 20.0, 300), ev("rt", "insert", 8, 80.0, 300),
      ev("ct", "delete", 5, 50.0, 300)))
    val expected = Map("mt" -> Set((1L, 11.0)), "rt" -> Set((7L, 77.0), (8L, 80.0)),
      "ct" -> Set((6L, 60.0)))

    // one job as the listener saw it: its tasks, its stages, and the
    // names of the RDDs its stages ran (an exchange reads a ShuffledRowRDD)
    final case class Job(tasks: Int, stages: Int, rdds: Seq[String])
    // what one consume run over the three files (one micro-batch) showed:
    // the jobs carrying the stream's query id, the DDL collect's jobs
    // (the execution over the stamped columns that neither parses values
    // nor writes), the plans of Spark write commands
    final case class Shape(streamJobs: Seq[Job], ddlJobTasks: Seq[Seq[Int]],
                           writeCommands: Seq[String], partFiles: Map[String, Int],
                           state: Map[String, Set[(Long, Double)]])
    def consume(tag: String): Shape = {
      val sc = spark.sparkContext
      val plans = new ConcurrentHashMap[Long, String]() // execution id -> plan
      val jobs = new ConcurrentLinkedQueue[(Long, Int)]() // (execution id, tasks)
      val byQuery = new ConcurrentLinkedQueue[(String, Job)]() // (query id, job)
      val flushed = new CountDownLatch(1)
      val sentinel = s"consumeshape-$tag-flush"
      val jobListener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart =>
            plans.put(s.executionId, s.physicalPlanDescription)
          case _ =>
        }
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val props = Option(e.properties)
          if (props.exists(_.getProperty("spark.jobGroup.id") == sentinel))
            flushed.countDown()
          val tasks = e.stageInfos.map(_.numTasks).sum
          props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .foreach(id => jobs.add((id.toLong, tasks)))
          props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
            .foreach(q => byQuery.add((q, Job(tasks, e.stageInfos.size,
              e.stageInfos.flatMap(_.rddInfos.map(_.name))))))
        }
      }
      val stateRoot = s"$root/$tag/state"
      sc.addSparkListener(jobListener)
      val queryId = try {
        val q = Consume.start(spark, EventSource.files(spark, eventsDir),
          tables, stateRoot, s"$root/$tag/ckpt",
          triggerInterval = "250 milliseconds", ddlSink = Some(_ => ()))
        q.processAllAvailable(); q.stop()
        sc.setJobGroup(sentinel, "listener-bus flush")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        assert(flushed.await(30, TimeUnit.SECONDS), "listener bus never flushed")
        q.id.toString
      } finally sc.removeSparkListener(jobListener)
      val ddlExecs = plans.asScala.toSeq.collect {
        case (id, p) if p.contains("_src_seq") && !p.contains("from_json") &&
          !p.contains("InsertIntoHadoopFsRelationCommand") => id
      }
      val jobList = jobs.asScala.toSeq
      Shape(
        byQuery.asScala.toSeq.collect { case (`queryId`, j) => j },
        ddlExecs.map(id => jobList.filter(_._1 == id).map(_._2)),
        plans.asScala.values.toSeq.filter(_.contains("InsertIntoHadoopFsRelationCommand")),
        tables.map(t => t.table -> new java.io.File(s"$stateRoot/db/${t.table}/v=0")
          .listFiles().count(_.getName.startsWith("part-"))).toMap,
        tables.map(t => t.table ->
          Consume.currentState(t, new ParquetStateStore(spark, s"$stateRoot/db/${t.table}"))
            .get.select("id", "amount").collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSet).toMap)
    }

    val small = consume("small")
    // the batch collect (source read, parse, stamps) as one task, then
    // every table's delta in one job of one task per table: one stage,
    // so no table's plan (MergeTree's per-key window included) shuffles
    assert(small.streamJobs.map(_.tasks) == Seq(1, tables.size),
      s"stream jobs: ${small.streamJobs}")
    val deltaJob = small.streamJobs.last
    assert(deltaJob.stages == 1 && !deltaJob.rdds.contains("ShuffledRowRDD"), s"$deltaJob")
    assert(small.writeCommands.isEmpty,
      s"a one-partition batch ran Spark write jobs: ${small.writeCommands}")
    assert(small.partFiles == tables.map(_.table -> 1).toMap, s"${small.partFiles}")
    assert(small.state == expected)

    // a batch whose size estimate exceeds openCostInBytes keeps the
    // source's partitioning and writes through df.write, with the same
    // result
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    val large = try consume("large")
      finally spark.conf.unset("spark.sql.files.openCostInBytes")
    assert(large.ddlJobTasks.size == 1 && large.ddlJobTasks.head.size == 1,
      s"DDL collect: ${large.ddlJobTasks}")
    assert(large.ddlJobTasks.head.head > 1,
      s"batch collapsed to one partition: ${large.ddlJobTasks}")
    assert(large.writeCommands.count(_.contains("/db/mt/v=0")) == 1,
      s"MergeTree df.write commands: ${large.writeCommands}")
    assert(large.state == expected)
  }

  test("an observe count on the input equals the batch's rows: the source is read once") {
    import org.apache.spark.sql.functions.{count, lit}
    val root = Files.createTempDirectory("consumeobserve").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val tables = Seq(
      TableSync("db", "mt", valueSchema, Seq("id"), Engine.MergeTree),
      TableSync("db", "rt", valueSchema, Seq("id"), Engine.ReplacingMergeTree))
    writeBatch(eventsDir, "b0.json", Seq(
      ev("mt", "insert", 1, 10.0, 100), ev("rt", "insert", 7, 70.0, 100)))
    writeBatch(eventsDir, "b1.json", Seq(
      ev("mt", "update", 1, 11.0, 200), ev("rt", "delete", 7, 70.0, 200),
      ev("mt", "insert", 2, 20.0, 200)))
    // the one-partition path, then (openCostInBytes=1) the cached path
    Seq("small" -> None, "large" -> Some("1")).foreach { case (tag, openCost) =>
      openCost.foreach(spark.conf.set("spark.sql.files.openCostInBytes", _))
      try {
        val q = Consume.start(spark,
          EventSource.files(spark, eventsDir).observe(s"in-$tag", count(lit(1)).as("n")),
          tables, s"$root/$tag/state", s"$root/$tag/ckpt", triggerInterval = "250 milliseconds")
        q.processAllAvailable(); q.stop()
        val ps = q.recentProgress.filter(_.numInputRows > 0).toSeq
        assert(ps.map(_.numInputRows).sum == 5, tag)
        assert(ps.map(_.observedMetrics.get(s"in-$tag").getLong(0)) == ps.map(_.numInputRows),
          s"$tag: the source was evaluated more than once")
      } finally spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("a driver-written delta equals the df.write delta of the same frame, " +
    "for every engine: rows, footer schema, nullability, Spark row metadata") {
    import org.apache.spark.sql.graftshim.ParquetFooters
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("driverwrite").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    writeBatch(eventsDir, "b0.json", Seq(
      ev("t", "insert", 1, 10.0, 100), ev("t", "insert", 2, 20.0, 100),
      ev("t", "update", 1, 11.0, 200), ev("t", "delete", 2, 20.0, 300),
      ev("t", "insert", 3, 30.0, 300)))
    val events = readEvents(eventsDir)
    val rowMeta = "org.apache.spark.sql.parquet.row.metadata"
    def footer(dir: String) = ParquetFooters.read(spark, dir)
    def rows(dir: String) = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    def partFiles(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    Engine.values.toSeq.foreach { engine =>
      val t = TableSync("db", "t", valueSchema, Seq("id"), engine)
      Seq(("full", Consume.tableChangelog(events, t)),
          ("empty", Consume.tableChangelog(events, t).filter("false"))).foreach {
        case (shape, changelog) =>
          val Seq(viaSpark, viaDriver) = Seq(false, true).map { onDriver =>
            val base = s"$root/$engine-$shape-$onDriver"
            val store = new ParquetStateStore(spark, base)
            applyBatch(t, store, changelog, 0L, onDriver)
            // the store's newest log entry is the commit point of either write
            assert(store.versionIds() == Seq(0L), s"$engine $shape onDriver=$onDriver")
            s"$base/v=0"
          }
          val what = s"$engine $shape"
          assert(partFiles(viaDriver) == 1, what)
          val (fs, fd) = (footer(viaSpark), footer(viaDriver))
          assert(fd.schema == fs.schema, what)
          assert(fd.metadata.getFileMetaData.getSchema == fs.metadata.getFileMetaData.getSchema, what)
          val (ms, md) = (fs.metadata.getFileMetaData.getKeyValueMetaData.asScala,
            fd.metadata.getFileMetaData.getKeyValueMetaData.asScala)
          assert(md.get(rowMeta).isDefined && md.get(rowMeta) == ms.get(rowMeta), what)
          assert(rows(viaDriver) == rows(viaSpark), what)
          assert(rows(viaDriver).isEmpty == (shape == "empty"), what)
          if (engine == Engine.MergeTree)
            assert(!fd.schema("_batch").nullable, s"$what: the stamp is non-null")
      }
    }
  }

  test("a delta plan prepared once and bound to each batch's rows equals a fresh plan's delta, " +
    "for every engine: a 1-row batch's plan bound to 300 rows, and to a batch without the table") {
    import org.apache.spark.sql.graftshim.{DriverRows, ParquetFooters}
    val root = Files.createTempDirectory("boundplan").toString
    def batch(name: String, lines: Seq[String]) = {
      val dir = s"$root/events-$name"; Files.createDirectories(Paths.get(dir))
      writeBatch(dir, "b.json", lines)
      Consume.collectBatch(readEvents(dir))
    }
    // 300 events over 40 keys: repeated keys, inserts, updates and
    // deletes, three events per timestamp; plus rows of another table
    val rnd = new scala.util.Random(14)
    val actions = Seq("insert", "insert", "update", "update", "delete")
    val batches = Seq(
      "one" -> batch("one", Seq(ev("t", "insert", 1, 10.0, 100))),
      "many" -> batch("many", (0 until 300).map(i =>
        ev("t", actions(rnd.nextInt(actions.size)), rnd.nextInt(40), i.toDouble, 100 + i / 3)) ++
        Seq(ev("u", "insert", 1, 1.0, 100))),
      "none" -> batch("none", Seq(ev("u", "insert", 1, 1.0, 100), ev("u", "delete", 1, 1.0, 200))))
    val schema = batches.head._2.schema
    assert(batches.forall(_._2.schema == schema))
    // the plan's leaf states no row count for the optimizer to fold in
    assert(DriverRows.unbound(spark, schema).queryExecution.optimizedPlan.maxRows.isEmpty)
    def rows(dir: String) = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    Engine.values.toSeq.foreach { engine =>
      val t = TableSync("db", "t", valueSchema, Seq("id"), engine)
      val plan = Consume.deltaPlan(spark, t, schema, Nil)
      assert(DriverRows.unboundLeaves(plan) == 1, s"$engine")
      batches.foreach { case (name, batchRows) =>
        val what = s"$engine $name"
        val bound = new ParquetStateStore(spark, s"$root/$engine-$name-bound")
        bound.appendRows(Consume.stampRows(t, DriverRows.collectEach(spark,
          Seq(DriverRows.bind(spark, plan, batchRows))).head.fold(e => throw e, identity), 0L), 0L)
        // a plan of its own over a local relation of the same rows,
        // written through df.write
        val fresh = new ParquetStateStore(spark, s"$root/$engine-$name-fresh")
        Consume.applyBatch(spark, t, fresh, Consume.tableChangelog(
          DriverRows.frame(spark, batchRows).drop("_src_file", "_src_seq"), t), 0L)
        val Seq(b, f) = Seq("bound", "fresh").map(k => s"$root/$engine-$name-$k/v=0")
        assert(ParquetFooters.read(spark, b).schema == ParquetFooters.read(spark, f).schema, what)
        assert(rows(b) == rows(f), what)
        assert(rows(b).isEmpty == (name == "none"), what)
      }
    }
  }

  test("a DDL-free trigger after the first plans no table delta: its analyzer and " +
    "optimizer rule runs are the same for three tables as for one") {
    import ConsumeSpec.planningRuleRuns
    val root = Files.createTempDirectory("planonce").toString
    val all = Seq(
      TableSync("db", "mt", valueSchema, Seq("id"), Engine.MergeTree),
      TableSync("db", "rt", valueSchema, Seq("id"), Engine.ReplacingMergeTree),
      TableSync("db", "ct", valueSchema, Seq("id"), Engine.CollapsingMergeTree))
    // rule runs per trigger, one file per trigger; each file carries
    // events of all three tables
    def ruleRuns(tables: Seq[TableSync]): Seq[Long] = {
      val dir = s"$root/${tables.size}"
      val eventsDir = s"$dir/events"; Files.createDirectories(Paths.get(eventsDir))
      val q = Consume.start(spark, EventSource.files(spark, eventsDir), tables,
        s"$dir/state", s"$dir/ckpt", triggerInterval = "100 milliseconds")
      try (0 until 3).map { b =>
        val before = planningRuleRuns()
        writeBatch(dir, s"b$b.json", all.map(t => ev(t.table, "insert", b, b.toDouble, 100 + b)))
        Files.move(Paths.get(dir, s"b$b.json"), Paths.get(eventsDir, s"b$b.json"))
        q.processAllAvailable()
        planningRuleRuns() - before
      } finally q.stop()
    }
    val (one, three) = (ruleRuns(all.take(1)), ruleRuns(all))
    assert(three.head > one.head, s"the first trigger plans each table: $one vs $three")
    assert(three.tail == one.tail, s"later triggers planned a table: $one vs $three")
  }

  test("the MergeTree _batch stamp keeps generated code stable across batch ids") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = Files.createTempDirectory("stampcodegen").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    writeBatch(eventsDir, "b0.json", Seq(
      ev("t", "insert", 1, 10.0, 100), ev("t", "update", 1, 11.0, 200)))
    val t = TableSync("db", "t", valueSchema, Seq("id"), Engine.MergeTree)
    val changelog = Consume.tableChangelog(readEvents(eventsDir), t)
    Seq(false, true).foreach { onDriver =>
      val store = new ParquetStateStore(spark, s"$root/state-$onDriver")
      applyBatch(t, store, changelog, 0L, onDriver)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      applyBatch(t, store, changelog, 1L, onDriver)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
        s"the second batch compiled new code (onDriver = $onDriver)")
      assert(store.versionIds() == Seq(0L, 1L))
    }
  }

  test("composite-PK events delete and upsert by the full key tuple") {
    val root = Files.createTempDirectory("composite").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val vs = StructType(Seq(StructField("id", LongType),
      StructField("id2", LongType), StructField("v", DoubleType)))
    val tables = Seq(TableSync("db", "cp", vs, Seq("id", "id2"), Engine.MergeTree))

    def cev(action: String, id: Long, id2: Long, v: Double, ts: Long): String = {
      val seq = if (action == "delete") 1 else 2
      s"""{"schema":"db","table":"cp","action":"$action","values":"{\\"id\\":$id,\\"id2\\":$id2,\\"v\\":$v}","event_unixtime":$ts,"action_seq":$seq}"""
    }
    writeBatch(eventsDir, "b0.json", Seq(
      cev("insert", 1, 1, 10.0, 100), cev("insert", 1, 2, 20.0, 100),
      cev("update", 1, 1, 11.0, 200), // touches only (1,1)
      cev("delete", 1, 2, 20.0, 300))) // removes only (1,2)
    val q = Consume.start(spark, EventSource.files(spark, eventsDir),
      tables, s"$root/state", s"$root/ckpt")
    q.processAllAvailable(); q.stop()
    val store = new ParquetStateStore(spark, s"$root/state/db/cp")
    val state = Consume.currentState(tables.head, store).get
      .select("id", "id2", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(state == Set((1L, 1L, 11.0)))
  }

  test("interleaved DDL events are translated and routed to the DDL sink") {
    val root = Files.createTempDirectory("ddl").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val tables = Seq(TableSync("db", "mt", valueSchema, Seq("id"), Engine.MergeTree))
    val ddlJson =
      """{"schema":"db","table":"mt","action":"query","values":"alter table mt add note varchar(20) not null","event_unixtime":150,"action_seq":0}"""
    writeBatch(eventsDir, "b0.json", Seq(
      ev("mt", "insert", 1, 10.0, 100), ddlJson, ev("mt", "insert", 2, 20.0, 200)))
    val applied = scala.collection.mutable.Buffer.empty[String]
    val q = Consume.start(spark, EventSource.files(spark, eventsDir),
      tables, s"$root/state", s"$root/ckpt",
      ddlSink = Some(sql => applied.synchronized { applied += sql; () }))
    q.processAllAvailable(); q.stop()
    assert(applied.toSeq == Seq("ALTER TABLE db.mt ADD COLUMNS (note STRING)"))
  }

  test("compaction preserves resolved state and future deltas still apply") {
    import spark.implicits._
    val root = Files.createTempDirectory("compact").toString
    val t = TableSync("db", "c", valueSchema, Seq("id"), Engine.CollapsingMergeTree)
    val store = new graft.sink.ParquetStateStore(spark, s"$root/db/c")

    def signed(rows: Seq[(Long, Double, String, Long)]) = {
      val df = rows.toDF("id", "amount", "action", "event_unixtime")
        .withColumn("action_seq",
          org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.col("action") === "delete", 1).otherwise(2))
      graft.ops.CdcOps.withCollapsingSign(df)
    }
    // batch 0: two inserts + an update-style re-insert of id 1
    store.append(signed(Seq((1L, 10.0, "insert", 100L), (2L, 20.0, "insert", 110L),
      (1L, 11.0, "insert", 200L))), 0L)
    val before = Consume.currentState(t, store).get
      .select("id", "amount").as[(Long, Double)].collect().toSet
    assert(before == Set((1L, 11.0), (2L, 20.0)))

    Consume.compact(t, store)
    assert(store.latestVersion.contains(0L))
    val after = Consume.currentState(t, store).get
      .select("id", "amount").as[(Long, Double)].collect().toSet
    assert(after == before)

    // post-compaction delta: one delete cancels the compacted +1 row
    store.append(signed(Seq((2L, 20.0, "delete", 300L))), 1L)
    val finalState = Consume.currentState(t, store).get
      .select("id", "amount").as[(Long, Double)].collect().toSet
    assert(finalState == Set((1L, 11.0)))
  }

  test("VCMT compaction keeps older versions: a later cancel of the top version reveals them (r16)") {
    // LIVE-path pin (no dead letter involved): the old VersionedCollapsing
    // fold truncated the base to the top version per pk, so an ordinary
    // post-compaction cancel of that version left NOTHING to reveal and
    // the key vanished — the true state is the older surviving version.
    import spark.implicits._
    val root = Files.createTempDirectory("vcmtcompact").toString
    val t = TableSync("db", "vc", valueSchema, Seq("id"),
      Engine.VersionedCollapsingMergeTree, versionColumn = Some("event_unixtime"))
    val store = new graft.sink.ParquetStateStore(spark, s"$root/db/vc")
    def signed(rows: Seq[(Long, Double, Long, Int)]) =
      rows.toDF("id", "amount", "event_unixtime", "sign")
        .withColumn("action_seq", org.apache.spark.sql.functions.lit(2))
    // two live versions of pk 1
    store.append(signed(Seq((1L, 10.0, 90L, 1), (1L, 11.0, 100L, 1))), 0L)
    Consume.compact(t, store)
    // cancel the TOP version (version-aware: the -1 mirrors v100)
    store.append(signed(Seq((1L, 11.0, 100L, -1))), 1L)
    val state = Consume.currentState(t, store).get
      .select("amount").as[Double].collect().toSeq
    assert(state == Seq(10.0),
      "cancelling the compacted top version must reveal the older live version")
  }

  test("skip-error mode isolates a failing table and applies the rest (C3)") {
    val root = Files.createTempDirectory("skiperr").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val tables = Seq(
      TableSync("db", "mt", valueSchema, Seq("id"), Engine.MergeTree),
      // PK column that doesn't exist → this table's apply throws
      TableSync("db", "bad", valueSchema, Seq("no_such_col"), Engine.MergeTree))
    writeBatch(eventsDir, "b0.json", Seq(
      ev("mt", "insert", 1, 10.0, 100),
      ev("bad", "insert", 2, 20.0, 100)))
    val q = Consume.start(spark, EventSource.files(spark, eventsDir),
      tables, s"$root/state", s"$root/ckpt", skipError = true)
    q.processAllAvailable(); q.stop()
    val mt = Consume.currentState(tables.head,
      new ParquetStateStore(spark, s"$root/state/db/mt")).get
    assert(mt.select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    // the failing table produced no state, and the stream completed anyway
    assert(new ParquetStateStore(spark, s"$root/state/db/bad").isEmpty)
  }

  test("MergeTree: later-batch delete beats equal/older-timestamp insert (arrival order)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, when}
    val root = Files.createTempDirectory("mtorder").toString
    val t = TableSync("db", "o", valueSchema, Seq("id"), Engine.MergeTree)
    val store = new ParquetStateStore(spark, s"$root/db/o")
    def batch(rows: Seq[(Long, Double, String, Long)]) =
      rows.toDF("id", "amount", "action", "event_unixtime")
        .withColumn("action_seq", when(col("action") === "delete", 1).otherwise(2))
    def ids: Set[Long] = Consume.currentState(t, store).get
      .select("id").collect().map(_.getLong(0)).toSet

    // same event second, split across batches: the reference's eager flush
    // applies batch 1's delete AFTER batch 0's insert → row gone
    Consume.applyBatch(spark, t, store, batch(Seq((1L, 10.0, "insert", 100L))), 0L)
    Consume.applyBatch(spark, t, store, batch(Seq((1L, 10.0, "delete", 100L))), 1L)
    assert(ids == Set.empty[Long])

    // out-of-order event time: a later batch's delete with an OLDER
    // timestamp still wins (arrival order, not event order)
    Consume.applyBatch(spark, t, store, batch(Seq((2L, 20.0, "insert", 200L))), 2L)
    Consume.applyBatch(spark, t, store, batch(Seq((2L, 20.0, "delete", 50L))), 3L)
    assert(ids == Set.empty[Long])

    // compaction preserves the resolution and later batches still apply
    Consume.compact(t, store)
    assert(ids == Set.empty[Long])
    Consume.applyBatch(spark, t, store, batch(Seq((1L, 11.0, "insert", 10L))), 4L)
    assert(ids == Set(1L))
  }

  test("MergeTree micro-batch writes scale with batch size, not state size") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, when}
    val root = Files.createTempDirectory("mtdelta").toString
    val t = TableSync("db", "big", valueSchema, Seq("id"), Engine.MergeTree)
    val store = new ParquetStateStore(spark, s"$root/db/big")
    def batch(rows: Seq[(Long, Double, String, Long)]) =
      rows.toDF("id", "amount", "action", "event_unixtime")
        .withColumn("action_seq", when(col("action") === "delete", 1).otherwise(2))

    Consume.applyBatch(spark, t, store,
      batch((1L to 5000L).map(i => (i, i.toDouble, "insert", 100L))), 0L)
    Consume.applyBatch(spark, t, store,
      batch((1L to 10L).map(i => (i, -1.0, "insert", 200L))), 1L)

    def dirBytes(v: Long): Long = {
      val stream = Files.walk(Paths.get(root, "db", "big", s"v=$v"))
      try stream.filter(Files.isRegularFile(_)).mapToLong(Files.size).sum()
      finally stream.close()
    }
    // the delta write is O(batch), not O(state)
    assert(dirBytes(1) < dirBytes(0) / 2,
      s"delta bytes ${dirBytes(1)} should be far below base ${dirBytes(0)}")

    val st = Consume.currentState(t, store).get
    assert(st.count() == 5000)
    assert(st.filter(col("id") <= 10 && col("amount") === -1.0).count() == 10)

    // compaction folds the log into one resolved version, state unchanged
    Consume.compact(t, store)
    assert(store.latestVersion.contains(1L))
    val after = Consume.currentState(t, store).get
    assert(after.count() == 5000)
    assert(after.filter(col("id") <= 10 && col("amount") === -1.0).count() == 10)
  }

  test("bootstrap snapshots empty stores once and is idempotent (C4)") {
    val root = Files.createTempDirectory("bootstrap").toString
    val tables = Seq(TableSync("db", "orders", null, Seq("o_orderkey"), Engine.MergeTree))
    val snapshots = Map(("db", "orders") ->
      (FullEtl.ParquetSource(s"$sf/orders.parquet"): FullEtl.Source))
    Consume.bootstrap(spark, tables, root, snapshots)
    val store = new ParquetStateStore(spark, s"$root/db/orders")
    val n = Consume.currentState(tables.head, store).get.count()
    assert(n == 1500)
    // second bootstrap is a no-op (store non-empty); snapshot is v=-1 so
    // the stream's first micro-batch (id 0) is not swallowed
    Consume.bootstrap(spark, tables, root, snapshots)
    assert(store.latestVersion.contains(-1L))
    assert(Consume.currentState(tables.head, store).get.count() == n)
  }

  test("two sources run as genuinely concurrent queries (C5)") {
    val root = Files.createTempDirectory("multisrc").toString
    val dirs = Seq("s1", "s2").map { s =>
      val d = s"$root/$s"; Files.createDirectories(Paths.get(d)); d
    }
    writeBatch(dirs.head, "b0.json", Seq(ev("mt", "insert", 1, 1.0, 100)))
    writeBatch(dirs(1), "b0.json", Seq(ev("mt", "insert", 2, 2.0, 100)))
    val table = TableSync("db", "mt", valueSchema, Seq("id"), Engine.MergeTree)
    val queries = dirs.zipWithIndex.map { case (d, i) =>
      Consume.start(spark, EventSource.files(spark, d), Seq(table),
        s"$root/state$i", s"$root/ckpt$i", triggerInterval = "250 milliseconds")
    }
    Lifecycle.withGracefulShutdown(queries)
    try {
      assert(queries.forall(_.isActive)) // both live at once
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())
    val ids = (0 to 1).map { i =>
      Consume.currentState(table,
        new ParquetStateStore(spark, s"$root/state$i/db/mt")).get
        .select("id").collect().map(_.getLong(0)).toSet
    }
    assert(ids == Seq(Set(1L), Set(2L)))
  }

  test("a zero-delta compactionPolicy folds the log after every batch") {
    val root = Files.createTempDirectory("compactpolicy").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val tables = Seq(TableSync("db", "mt", valueSchema, Seq("id"), Engine.MergeTree))
    writeBatch(eventsDir, "b0.json", Seq(ev("mt", "insert", 1, 10.0, 100)))
    writeBatch(eventsDir, "b1.json", Seq(ev("mt", "insert", 2, 20.0, 200)))
    val q = Consume.start(spark, EventSource.files(spark, eventsDir),
      tables, s"$root/state", s"$root/ckpt",
      triggerInterval = "250 milliseconds",
      compactionPolicy = Some(SinkStrategy.CompactionPolicy(maxDeltaVersions = 0)))
    q.processAllAvailable(); q.stop()
    val store = new ParquetStateStore(spark, s"$root/state/db/mt")
    // every batch compacted: exactly one surviving version, full state
    assert(store.latestVersion.isDefined)
    val ids = Consume.currentState(tables.head, store).get
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L))
    // the log's newest entry names one version, a compacted base; every
    // other directory on disk is a version the log dropped, kept through
    // the grace period for readers of older entries (none is unnamed)
    assert(store.versionStats().map(_._3) == Seq(true),
      s"expected a single compacted version, got ${store.versionStats()}")
    assert(store.unnamedDirs().isEmpty, s"unnamed: ${store.unnamedDirs()}")
  }

  test("wire old_values: an UNSPLIT update applies on VersionedCollapsing end-to-end") {
    // regression: splitUpdates reused the single row image for both
    // halves, so an unsplit wire update against a version column the
    // update changes self-cancelled (-1/+1 at the same version) and the
    // stale row survived; the optional wire old_values carries the
    // before image into the delete half
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = Files.createTempDirectory("vcwire").toString
    val eventsDir = s"$root/events"; Files.createDirectories(Paths.get(eventsDir))
    val vs = StructType(Seq(StructField("id", LongType),
      StructField("ver", LongType), StructField("amount", DoubleType)))
    val t = TableSync("db", "vc", vs, Seq("id"),
      Engine.VersionedCollapsingMergeTree, versionColumn = Some("ver"))
    val store = new ParquetStateStore(spark, s"$root/state/db/vc")

    def esc(j: String) = j.replace("\"", "\\\"")
    Files.write(Paths.get(eventsDir, "b0.json"), Seq(
      s"""{"schema":"db","table":"vc","action":"insert","values":"${esc("""{"id":1,"ver":1,"amount":10.0}""")}","event_unixtime":100,"action_seq":2}""",
      s"""{"schema":"db","table":"vc","action":"update","values":"${esc("""{"id":1,"ver":2,"amount":11.0}""")}","old_values":"${esc("""{"id":1,"ver":1,"amount":10.0}""")}","event_unixtime":200,"action_seq":2}"""
    ).mkString("\n").getBytes("UTF-8"))

    val q = Consume.start(spark, EventSource.files(spark, eventsDir),
      Seq(t), s"$root/state", s"$root/ckpt", triggerInterval = "250 milliseconds")
    q.processAllAvailable(); q.stop()

    val state = Consume.currentState(t, store).get
      .select("id", "ver", "amount").as[(Long, Long, Double)].collect().toSet
    assert(state == Set((1L, 2L, 11.0)), "the update must replace, not self-cancel")
  }

  test("VersionedCollapsing with a real version column cancels deletes and updates") {
    import org.apache.spark.sql.functions.{col, when}
    import spark.implicits._
    val root = Files.createTempDirectory("vercol").toString
    val vs = StructType(Seq(StructField("id", LongType),
      StructField("ver", LongType), StructField("amount", DoubleType)))
    val t = TableSync("db", "vc", vs, Seq("id"),
      Engine.VersionedCollapsingMergeTree, versionColumn = Some("ver"))
    val store = new ParquetStateStore(spark, s"$root/db/vc")
    def batch(rows: Seq[(Long, Long, Double, String, Long)]) =
      rows.toDF("id", "ver", "amount", "action", "event_unixtime")
        .withColumn("action_seq", when(col("action") === "delete", 1).otherwise(2))
    def state = Consume.currentState(t, store).get
      .select("id", "ver", "amount").as[(Long, Long, Double)].collect().toSet

    Consume.applyBatch(spark, t, store,
      batch(Seq((1L, 1L, 10.0, "insert", 100L))), 0L)
    assert(state == Set((1L, 1L, 10.0)))
    // wire-format update: delete carries the BEFORE image (old version),
    // insert the after image — the -1 cancels the +1 of the same version
    Consume.applyBatch(spark, t, store,
      batch(Seq((1L, 1L, 10.0, "delete", 200L), (1L, 2L, 11.0, "insert", 200L))), 1L)
    assert(state == Set((1L, 2L, 11.0)))
    // final delete cancels the current version → row disappears
    Consume.applyBatch(spark, t, store,
      batch(Seq((1L, 2L, 11.0, "delete", 300L))), 2L)
    assert(state == Set.empty[(Long, Long, Double)])
  }

  test("engine resolves are permutation-invariant over the log") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, when}
    val rows = Seq(
      (1L, 10.0, "insert", 100L), (1L, 11.0, "insert", 200L),
      (2L, 20.0, "insert", 100L), (2L, 20.0, "delete", 300L),
      (3L, 30.0, "insert", 250L))
    def logOf(rs: Seq[(Long, Double, String, Long)]) =
      rs.toDF("id", "amount", "action", "event_unixtime")
        .withColumn("action_seq", when(col("action") === "delete", 1).otherwise(2))
    val keys = graft.sink.SinkKeys(Seq("id"))
    def resolvedSets(rs: Seq[(Long, Double, String, Long)]) = {
      val log = logOf(rs)
      val signed = graft.ops.CdcOps.withCollapsingSign(log)
      Seq(
        graft.sink.SinkStrategy.replacingResolve(log, keys),
        graft.sink.SinkStrategy.collapsingResolve(signed, keys),
        graft.sink.SinkStrategy.versionedCollapsingResolve(signed, keys)
      ).map(_.select("id", "amount").as[(Long, Double)].collect().toSet)
    }
    val base = resolvedSets(rows)
    Seq(rows.reverse, scala.util.Random.shuffle(rows)).foreach { perm =>
      assert(resolvedSets(perm) == base, s"order-dependent resolve for $perm")
    }
    assert(base.head == Set((1L, 11.0), (3L, 30.0))) // replacing view
  }

  test("wire serde round-trips through serialize/parse") {
    import spark.implicits._
    val raw = Seq(ev("mt", "insert", 5, 50.5, 123)).toDF("json")
    val parsed = EventSource.parse(raw)
    val round = EventSource.parse(
      EventSource.serialize(parsed).selectExpr("value as json"))
    val r = round.collect().head
    assert(r.getAs[String]("table") == "mt")
    assert(r.getAs[Long]("event_unixtime") == 123L)
    assert(r.getAs[Int]("action_seq") == 2)
  }
}

object ConsumeSpec {

  /** Rule runs of every rule executor in this JVM so far (analyzer,
    * optimizer and their helpers), except those of code generation's
    * expression canonicalizer, which the tasks run as they compile their
    * projections: those follow the tasks (one per table in a delta job),
    * not planning. */
  def planningRuleRuns(): Long =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent().linesIterator
      .map(_.trim.split("\\s+"))
      .collect { case a if a.length > 1 && a(0).startsWith("org.") && !a(0).contains(".codegen.") =>
        a.last.toLong }
      .sum
}
