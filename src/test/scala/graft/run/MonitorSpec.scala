package graft.run

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** A6 monitoring: observed metrics land in the persisted metrics table. */
class MonitorSpec extends SparkSpec {
  import spark.implicits._

  test("persisting listener appends one metric row per micro-batch") {
    val path = Files.createTempDirectory("metrics").toString + "/log"
    val listener = new Monitor.PersistingListener(spark, path)
    spark.streams.addListener(listener)
    try {
      implicit val sc = spark.sqlContext
      val input = MemoryStream[Long]
      val q = Monitor.observed(input.toDF())
        .writeStream.format("noop").start()
      try {
        input.addData(1L, 2L, 3L)
        q.processAllAvailable()
      } finally q.stop()

      // listener delivery is async; poll briefly
      val deadline = System.currentTimeMillis() + 20000
      var rows = Seq.empty[Monitor.BatchMetric]
      while (rows.isEmpty && System.currentTimeMillis() < deadline) {
        rows =
          try Monitor.metricsTable(spark, path)
            .as[Monitor.BatchMetric].collect().toSeq
          catch { case _: Exception => Nil }
        if (rows.isEmpty) Thread.sleep(200)
      }
      assert(rows.nonEmpty, "no metric rows persisted")
      assert(rows.exists(_.numEvents == 3L))
      // the row carries Spark's per-trigger phase split, persisted as is
      val phases = rows.find(_.numEvents == 3L).get.phases
      val expected = Seq("latestOffset", "getBatch", "queryPlanning",
        "addBatch", "walCommit", "triggerExecution")
      assert(expected.forall(phases.contains), s"phases missing: $phases")
      assert(phases("addBatch") <= phases("triggerExecution"), s"$phases")
    } finally spark.streams.removeListener(listener)
  }

  test("a metrics table written before the phases column still reads") {
    val path = Files.createTempDirectory("metricsold").toString + "/log"
    Seq(("q", 0L, 5L, 1L, Option.empty[String]))
      .toDF("queryName", "batchId", "numEvents", "timestampMs", "error")
      .write.parquet(path)
    val listener = new Monitor.PersistingListener(spark, path)
    listener.recordDirect(Monitor.BatchMetric("q", 1L, 7L, 2L,
      phases = Map("addBatch" -> 3L)))
    listener.close()
    val rows = Monitor.metricsTable(spark, path).as[Monitor.BatchMetric]
      .collect().map(m => m.batchId -> Option(m.phases)).toMap
    assert(rows == Map(0L -> None, 1L -> Some(Map("addBatch" -> 3L))))
  }

  test("terminal query failure is recorded as an error metric (C6)") {
    val listener = new Monitor.CollectingListener
    spark.streams.addListener(listener)
    try {
      implicit val sc = spark.sqlContext
      val input = MemoryStream[Long]
      val q = input.toDF().writeStream
        .queryName("c6_error_stream")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new RuntimeException("boom")
        }.start()
      input.addData(1L)
      intercept[Exception] { q.awaitTermination(30000) }

      val deadline = System.currentTimeMillis() + 20000
      def errors = listener.snapshot().filter(_.error.isDefined).toList
      while (errors.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(errors.nonEmpty, "no error metric recorded")
      assert(errors.head.error.get.contains("boom"))
      // r13 review: the terminated event carries only the query UUID —
      // the C6 row must still be keyed by the NAME the progress rows use
      // (captured at onQueryStarted) or alerting can't correlate them
      assert(errors.head.queryName == "c6_error_stream",
        s"error row keyed by ${errors.head.queryName}, not the query name")
    } finally spark.streams.removeListener(listener)
  }

  test("alert callback fires once per terminal failure; a throwing " +
    "callback still records the metric (C6 contract)") {
    val alerts = new java.util.concurrent.ConcurrentLinkedQueue[Monitor.BatchMetric]
    // the callback itself throws AFTER capturing — the contract says the
    // metric row must survive a broken alert transport
    val listener = new Monitor.AlertingListener(m => {
      alerts.add(m)
      throw new IllegalStateException("mailer down")
    })
    spark.streams.addListener(listener)
    try {
      implicit val sc = spark.sqlContext
      val input = MemoryStream[Long]
      val q = input.toDF().writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new RuntimeException("kaboom")
        }.start()
      input.addData(1L)
      intercept[Exception] { q.awaitTermination(30000) }

      val deadline = System.currentTimeMillis() + 20000
      while (alerts.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(!alerts.isEmpty, "alert callback never fired")
      val fired = alerts.peek()
      assert(fired.error.get.contains("kaboom"))
      assert(fired.batchId == -1L)
      // dispatch is record-then-alert: the row is in the metrics buffer
      // even though the callback threw
      val recorded = listener.snapshot().filter(_.error.isDefined).toList
      assert(recorded.nonEmpty, "error metric lost when callback threw")
      assert(alerts.size == 1, s"expected exactly one alert, got ${alerts.size}")
      // progress rows never alert: only error rows dispatched
      assert(alerts.peek().error.isDefined)
    } finally spark.streams.removeListener(listener)
  }

  test("error rows survive queue pressure: every error row is persisted (C6)") {
    // regression: the old poll-and-reoffer displacement could silently
    // drop a polled error row when the queue refilled between poll and
    // offer; error rows now ride a dedicated overflow queue the writer
    // drains with every batch — under a concurrent burst against a
    // capacity-1 main queue, ALL error rows must reach the parquet table
    val path = Files.createTempDirectory("metricsburst").toString + "/log"
    val listener = new Monitor.PersistingListener(spark, path, queueCapacity = 1)
    try {
      val nThreads = 4; val perThread = 50
      val threads = (0 until nThreads).map { t =>
        new Thread(() => {
          (0 until perThread).foreach { i =>
            listener.recordDirect(Monitor.BatchMetric(
              s"q$t", batchId = i.toLong, numEvents = 1L,
              System.currentTimeMillis()))
            listener.recordDirect(Monitor.BatchMetric(
              s"q$t", batchId = -1L, numEvents = 0L,
              System.currentTimeMillis(), error = Some(s"err-$t-$i")))
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      listener.close() // drains and persists everything still queued

      val persisted = Monitor.metricsTable(spark, path)
        .collect().flatMap(r => Option(r.getAs[String]("error"))).toSet
      val expected =
        (for (t <- 0 until nThreads; i <- 0 until perThread)
          yield s"err-$t-$i").toSet
      assert(persisted == expected,
        s"lost error rows: ${(expected -- persisted).take(5)}...")
    } finally spark.streams.removeListener(listener)
  }
}
