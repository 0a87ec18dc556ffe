package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("streaming session windows close after the watermark passes") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sessions = StreamOps.sessionStats(
      input.toDF().toDF("user_id", "ts", "value"), gap = "10 minutes",
      watermark = "0 seconds")
    val q = sessions.writeStream.format("memory")
      .queryName("sessions_test").outputMode("append").start()
    try {
      // session A: two events 5 min apart; then an event far in the future
      // advances the watermark past A's close.
      input.addData((1L, ts(0), 1.0), (1L, ts(5), 2.0))
      q.processAllAvailable()
      input.addData((1L, Timestamp.valueOf("2024-01-01 12:00:00"), 9.0))
      q.processAllAvailable()
      val closed = spark.table("sessions_test")
        .select("user_id", "n_events", "total_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(closed == Set((1L, 2L, 3.0)))
    } finally q.stop()
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val deduped = StreamOps.dedupEvents(
      input.toDF().toDF("event_id", "ts"), idCols = Seq("event_id"),
      watermark = "1 hour")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_test").outputMode("append").start()
    try {
      input.addData((1L, ts(0)), (2L, ts(1)))
      q.processAllAvailable()
      // replay of event 1 in a later batch is dropped; 3 is new
      input.addData((1L, ts(2)), (3L, ts(3)))
      q.processAllAvailable()
      val ids = spark.table("dedup_test")
        .select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stateful streaming funnel advances across micro-batches, emits only progress") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Long, Timestamp, String)]
    val stages = StreamOps.funnelStages(
      input.toDF().toDF("event_id", "user_id", "ts", "event_type"),
      steps = Seq("view", "click", "purchase"))
    val q = stages.writeStream.format("memory")
      .queryName("funnel_stream_test").outputMode("update").start()
    try {
      // batch 1: user 1 views+clicks (stage 2); user 2 clicks first (no view -> 0)
      input.addData((1L, 1L, ts(0), "view"), (2L, 1L, ts(1), "click"),
        (3L, 2L, ts(0), "click"))
      q.processAllAvailable()
      // batch 2: user 1 purchases (stage 3); user 2 finally views (stage 1);
      // user 1's stray second view emits nothing (no progress)
      input.addData((4L, 1L, ts(5), "purchase"), (5L, 1L, ts(6), "view"),
        (6L, 2L, ts(5), "view"))
      q.processAllAvailable()
      val rows = spark.table("funnel_stream_test")
        .as[(Long, Int)].collect().toSeq.sorted
      assert(rows == Seq((1L, 2), (1L, 3), (2L, 1)))
      // the final per-user stage matches the batch funnel over all events
      val batchStages = graft.ops.SessionOps.funnelStages(
        Seq((1L, 1L, ts(0), "view"), (2L, 1L, ts(1), "click"),
          (3L, 2L, ts(0), "click"), (4L, 1L, ts(5), "purchase"),
          (5L, 1L, ts(6), "view"), (6L, 2L, ts(5), "view"))
          .toDF("event_id", "user_id", "ts", "event_type"),
        steps = Seq("view", "click", "purchase"))
        .as[(Long, Int)].collect().toMap
      val streamFinal = rows.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).max }
      assert(streamFinal == batchStages.filter(_._2 > 0))
    } finally q.stop()
  }

  test("streaming funnel handles NON-NUMERIC user/event ids like the batch twin (r13)") {
    // r13 review finding: the old cast("long") turned string ids into
    // nulls and the non-nullable tuple encoder failed every batch, while
    // the batch twin handled the same data fine. Ids now travel
    // generically (string key, natural-order tie-break) and the output
    // user column keeps the input's type.
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, String, Timestamp, String)]
    val stages = StreamOps.funnelStages(
      input.toDF().toDF("event_id", "user_id", "ts", "event_type"),
      steps = Seq("view", "click"))
    assert(stages.schema("user_id").dataType ==
      org.apache.spark.sql.types.StringType)
    val q = stages.writeStream.format("memory")
      .queryName("funnel_stringid_test").outputMode("update").start()
    try {
      input.addData(("e1", "alice", ts(0), "view"), ("e2", "alice", ts(1), "click"),
        ("e3", "bob", ts(0), "click"))
      q.processAllAvailable()
      val rows = spark.table("funnel_stringid_test")
        .as[(String, Int)].collect().toSet
      assert(rows == Set(("alice", 2)))
      val batch = graft.ops.SessionOps.funnelStages(
        Seq(("e1", "alice", ts(0), "view"), ("e2", "alice", ts(1), "click"),
          ("e3", "bob", ts(0), "click"))
          .toDF("event_id", "user_id", "ts", "event_type"),
        steps = Seq("view", "click"))
        .as[(String, Int)].collect().toMap
      assert(batch == Map("alice" -> 2, "bob" -> 0))
    } finally q.stop()
  }

  test("string ids that LOOK numeric tie-break as strings, matching the batch twin (r13)") {
    // meta-review of dbf125e: a value-level try_cast ordered "9" before
    // "10" numerically where the batch twin's array_sort on the string
    // column puts "10" first — same-timestamp view/click then resolved
    // to DIFFERENT stages in the two twins. The numeric tie-break leg is
    // engaged by the id column's TYPE, never by its values.
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, String, Timestamp, String)]
    val stages = StreamOps.funnelStages(
      input.toDF().toDF("event_id", "user_id", "ts", "event_type"),
      steps = Seq("view", "click"))
    val q = stages.writeStream.format("memory")
      .queryName("funnel_numstring_test").outputMode("update").start()
    try {
      // same ts: string order is "10" < "9" -> click first -> stage 1 only
      input.addData(("9", "u", ts(0), "view"), ("10", "u", ts(0), "click"))
      q.processAllAvailable()
      val streamed = spark.table("funnel_numstring_test")
        .as[(String, Int)].collect().toMap
      val batch = graft.ops.SessionOps.funnelStages(
        Seq(("9", "u", ts(0), "view"), ("10", "u", ts(0), "click"))
          .toDF("event_id", "user_id", "ts", "event_type"),
        steps = Seq("view", "click"))
        .as[(String, Int)].collect().toMap
      assert(batch("u") == 1, s"batch twin precondition: $batch")
      assert(streamed == Map("u" -> 1),
        s"streaming must match the batch twin's string tie-break: $streamed")
    } finally q.stop()
  }

  test("funnel survives null ids and ranks decimal-unrepresentable ids like the batch twin (r13)") {
    // 580c070 meta-review: (a) two same-µs events with NULL ids NPE'd the
    // string-leg Ordering and killed the query; (b) a double id past the
    // decimal(38,18) range coalesced to 0 and sorted BEFORE small ids
    // where the batch twin's native sort puts it after.
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.lang.Double, String, Timestamp, String)]
    val stages = StreamOps.funnelStages(
      input.toDF().toDF("event_id", "user_id", "ts", "event_type"),
      steps = Seq("view", "click"))
    val q = stages.writeStream.format("memory")
      .queryName("funnel_edgeids_test").outputMode("update").start()
    try {
      // u1: same µs, huge id on the CLICK — native order puts 1e21 after
      // 2.0, so view folds first and the funnel completes (stage 2)
      input.addData((2.0: java.lang.Double, "u1", ts(0), "view"),
        (1e21: java.lang.Double, "u1", ts(0), "click"),
        // u2: same µs, both ids null — must not crash; order via type
        (null: java.lang.Double, "u2", ts(0), "view"),
        (null: java.lang.Double, "u2", ts(0), "view"),
        // u3: null id sorts FIRST at a µs (batch-twin struct order), so
        // the null-id view folds before the negative-id click → stage 2
        (null: java.lang.Double, "u3", ts(0), "view"),
        (-1.0: java.lang.Double, "u3", ts(0), "click"))
      q.processAllAvailable()
      val rows = spark.table("funnel_edgeids_test")
        .select("user_id", "stage").as[(String, Int)].collect().toMap
      assert(rows.get("u1").contains(2),
        s"huge id must sort after small ids like the batch twin: $rows")
      assert(rows.get("u2").contains(1), s"null ids must not crash: $rows")
      assert(rows.get("u3").contains(2),
        s"null id must sort before negative ids like the batch twin: $rows")
      val batch = graft.ops.SessionOps.funnelStages(
        Seq((2.0: java.lang.Double, "u1", ts(0), "view"),
          (1e21: java.lang.Double, "u1", ts(0), "click"))
          .toDF("event_id", "user_id", "ts", "event_type"),
        steps = Seq("view", "click"))
        .as[(String, Int)].collect().toMap
      assert(batch("u1") == rows("u1"), s"twin divergence: $batch vs $rows")
    } finally q.stop()
  }

  test("stream-stream interval join pairs followers within the bound, drops outside") {
    implicit val sc = spark.sqlContext
    val views = MemoryStream[(Long, Long, Timestamp)]
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val joined = StreamOps.joinWithin(
      views.toDF().toDF("event_id", "user_id", "ts"),
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      withinSec = 600, watermark = "0 seconds")
    val q = joined.writeStream.format("memory")
      .queryName("join_within_test").outputMode("append").start()
    try {
      views.addData((1L, 7L, ts(0)), (2L, 8L, ts(0)))
      // user 7 clicks at +5 min (in) and +20 min (out); user 8 never clicks;
      // user 9 clicks with no view
      clicks.addData((10L, 7L, ts(5)), (11L, 7L, ts(20)), (12L, 9L, ts(3)))
      q.processAllAvailable()
      val pairs = spark.table("join_within_test")
        .select("user_id", "lead_id", "follow_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(pairs == Set((7L, 1L, 10L)))
    } finally q.stop()
  }

  test("streaming sliding windows reconcile row-for-row with the batch twin") {
    implicit val sc = spark.sqlContext
    val rows = Seq(
      (1L, ts(7), "view", 1.0), (2L, ts(8), "view", 2.0),
      (3L, ts(12), "click", 4.0), (4L, ts(10), "view", 8.0))
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val slid = StreamOps.slidingRates(
      input.toDF().toDF("event_id", "ts", "event_type", "value"),
      watermark = "0 seconds")
    val q = slid.writeStream.format("memory")
      .queryName("sliding_test").outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      // advance the watermark far enough to close every open window
      input.addData((9L, Timestamp.valueOf("2024-01-01 13:00:00"), "late", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sliding_test")
        .filter(col("event_type") =!= "late")
        .select(unix_micros(col("window_start")), col("event_type"),
          col("n_events"), col("total_value"))
        .as[(Long, String, Long, Double)].collect().toSet
      val batch = graft.ops.SessionOps.slidingRates(
        rows.toDF("event_id", "ts", "event_type", "value"))
        .as[(Long, String, Long, Double)].collect().toSet
      assert(streamed == batch && streamed.size == 5)
    } finally q.stop()
  }

  test("narrow corpus ops compose with streams and match their batch twins") {
    // classifierScore and corpusFilter are pure narrow passes, so they run
    // unchanged on a streaming DataFrame (append mode, no state) — the
    // streaming ingest path of a training-data pipeline reuses the exact
    // batch operators
    implicit val sc = spark.sqlContext
    val rows = Seq((1L, "alpha beta gamma alpha"), (2L, ""), (3L, "the of and to in"))
    val input = MemoryStream[(Long, String)]
    val scored = graft.ops.TextOps.classifierScore(
      input.toDF().toDF("doc_id", "text"))
    val q = scored.writeStream.format("memory")
      .queryName("clf_stream").outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("clf_stream")
        .as[(Long, Double, Boolean)].collect().toSet
      val batch = graft.ops.TextOps.classifierScore(rows.toDF("doc_id", "text"))
        .as[(Long, Double, Boolean)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }
}
