package graft.run

import graft.SparkSpec
import graft.model.Engine
import graft.sink.ParquetStateStore
import graft.streaming.EventSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Produce → broker(files) → Consume round-trip: the full reference
  * pipeline shape (§3.2 + §3.3) hermetically, plus monitoring (A6) and
  * normalization ops (T6/T7).
  */
class ProduceSpec extends SparkSpec {
  import spark.implicits._

  test("produce routes per schema and consume applies the result") {
    val root = Files.createTempDirectory("produce").toString
    val rawDir = s"$root/raw"; Files.createDirectories(Paths.get(rawDir))

    // raw CDC feed: two schemas, one filtered out by producer config
    val lines = Seq(
      """{"schema":"db","table":"t","action":"insert","values":"{\"id\":1,\"v\":10.0}","event_unixtime":100,"action_seq":2}""",
      """{"schema":"db","table":"t","action":"update","values":"{\"id\":1,\"v\":11.0}","event_unixtime":200,"action_seq":2}""",
      """{"schema":"other","table":"t","action":"insert","values":"{\"id\":9,\"v\":90.0}","event_unixtime":100,"action_seq":2}""")
    Files.write(Paths.get(rawDir, "raw.json"), lines.mkString("\n").getBytes)

    val listener = new Monitor.CollectingListener
    spark.streams.addListener(listener)
    try {
      val normalized = Produce.normalize(
        EventSource.files(spark, rawDir), schemas = Seq("db"))
      val pq = Produce.toFiles(Monitor.observed(normalized),
        s"$root/broker", s"$root/ckpt_produce")
      pq.processAllAvailable(); pq.stop()

      // broker dir is partitioned by schema (X1) and carries only 'db'
      val produced = spark.read.text(s"$root/broker")
      assert(produced.count() == 2)
      assert(Files.exists(Paths.get(s"$root/broker/schema=db")))
      assert(!Files.exists(Paths.get(s"$root/broker/schema=other")))

      // consume the broker output into a Replacing store
      val vs = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))
      val tables = Seq(TableSync("db", "t", vs, Seq("id"), Engine.ReplacingMergeTree))
      val cq = Consume.start(spark,
        EventSource.files(spark, s"$root/broker/schema=db"),
        tables, s"$root/state", s"$root/ckpt_consume")
      cq.processAllAvailable(); cq.stop()

      val store = new ParquetStateStore(spark, s"$root/state/db/t")
      val state = Consume.currentState(tables.head, store).get
        .select("id", "v").as[(Long, Double)].collect().toSet
      assert(state == Set((1L, 11.0))) // update wins at read time
    } finally spark.streams.removeListener(listener)

    // A6: listener captured per-batch counts from the observe() metric
    assert(listener.snapshot().exists(_.numEvents == 2))
  }

  test("Kafka leg: wire projection is byte-interchangeable; connector absence fails loudly (waiver pin)") {
    // RUNBOOK §6 waiver, executable half. (1) The Kafka projection's
    // value is the SAME wireStruct JSON the file/Redis legs emit — a
    // consumer can switch transports without re-encoding: parse(value)
    // round-trips to the canonical events. (2) In THIS container the
    // broker handoff cannot run at all (no Kafka connector jar, no
    // egress): starting the leg fails loudly at data-source lookup,
    // which is exactly the claim the waiver makes.
    val root = Files.createTempDirectory("kafkaleg").toString
    val rawDir = s"$root/raw"; Files.createDirectories(Paths.get(rawDir))
    val lines = Seq(
      """{"schema":"db","table":"t","action":"insert","values":"{\"id\":1,\"v\":10.0}","event_unixtime":100,"action_seq":2}""",
      """{"schema":"db","table":"t","action":"update","values":"{\"id\":1,\"v\":11.0}","event_unixtime":200,"action_seq":2}""")
    Files.write(Paths.get(rawDir, "raw.json"), lines.mkString("\n").getBytes)

    // batch frame with the canonical columns is enough for the projection
    val events = EventSource.parse(
      spark.read.text(rawDir).select(col("value").as("json")))
    val projected = Produce.kafkaProjection(events)
    assert(projected.schema.map(f => (f.name, f.dataType)) ==
      Seq(("key", StringType), ("value", StringType)))
    assert(projected.select("key").as[String].collect().toSet == Set("db"))
    // transport interchangeability: the value column re-parses to the
    // same canonical rows (same path a file/Redis consumer runs)
    val roundTrip = EventSource.parse(
      projected.select(col("value").as("json")))
      .select("schema", "table", "action", "values", "event_unixtime", "action_seq")
    val original = events
      .select("schema", "table", "action", "values", "event_unixtime", "action_seq")
    assert(roundTrip.collect().toSet == original.collect().toSet)

    // the environmental half: format("kafka") is not loadable here
    val streaming = EventSource.files(spark, rawDir)
    val e = intercept[Exception] {
      val q = Produce.toKafka(streaming, "localhost:9092", "t",
        s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else (Option(t.getMessage).getOrElse("") + t.getClass.getName) +: chain(t.getCause)
    assert(chain(e).exists(m => m.toLowerCase.contains("kafka")),
      s"expected a kafka data-source lookup failure, got: $e")
  }

  test("T6/T7 normalization ops") {
    import graft.ops.CdcOps
    val df = Seq((Array[Byte](104, 105), BigDecimal("12.30")))
      .toDF("b", "d")
    val n = CdcOps.stringifyDecimals(CdcOps.normalizeValues(df))
    val row = n.collect().head
    assert(row.getString(0) == "hi")
    assert(row.getString(1) == "12.300000000000000000") // default scale 18 render
  }
}
