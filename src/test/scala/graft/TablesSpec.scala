package graft

import graft.run.FullEtl
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ParquetFooters
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import scala.jdk.CollectionConverters._

/** `Tables.apply` resolves each table's schema from its parquet footer on
  * the driver: the same schema inference gives, without a Spark job. */
class TablesSpec extends SparkSpec {

  /** A `DataGen` sf0.001 data set (multi-file directories, int64-ns
    * `events.ts`, UTC-adjusted timestamps) next to the driver testdata. */
  private lazy val generated: String = {
    val dir = Files.createTempDirectory("tables-datagen").toString
    DataGen.gen(spark, dir, 0.01, sf)
    dir
  }

  /** The previous loader: Spark's schema inference, then the same
    * `events.ts` normalisation. */
  private def inferred(dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(Tables.path(dir, name))
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp_ltz"))
      case _ => df
    }
  }

  /** Spark jobs started by `body` on this thread. Jobs are tagged with a
    * job group; a sentinel job run afterwards flushes the listener bus,
    * which delivers events in order. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime}"
    val sentinel = s"$group-sentinel"
    val counted = new AtomicInteger
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(`sentinel`) => sentinelSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "construction under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener-bus flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel job never reached the listener")
      counted.get
    } finally sc.removeSparkListener(listener)
  }

  private def condition(f: => Any): String =
    intercept[AnalysisException](f).getCondition

  for ((label, dir) <- Seq("driver testdata" -> (() => sf), "DataGen output" -> (() => generated)))
    test(s"footer schema equals inference for all ten tables ($label)") {
      for (name <- Tables.names)
        withClue(s"$name: ") {
          assert(Tables(spark, dir(), name).schema == inferred(dir(), name).schema)
        }
    }

  test("the two generations differ in exactly the columns a catalog would have to branch on") {
    def types(dir: String, name: String) =
      spark.read.parquet(Tables.path(dir, name)).schema.map(f => f.name -> f.dataType).toMap
    assert(types(sf, "events")("ts") == TimestampNTZType)
    assert(types(generated, "events")("ts") == LongType)
    assert(types(sf, "orders")("o_orderdate") != types(generated, "orders")("o_orderdate"))
    assert(types(sf, "lineitem")("l_shipdate") != types(generated, "lineitem")("l_shipdate"))
  }

  test("building every table's DataFrame starts no Spark job") {
    for (dir <- Seq(sf, generated); name <- Tables.names)
      withClue(s"$dir/$name: ") {
        assert(jobsStartedBy(Tables(spark, dir, name).schema) == 0)
      }
  }

  test("a parquet snapshot source reads with the inferred schema and no Spark job") {
    for (p <- Seq(Tables.path(sf, "orders"), Tables.path(generated, "lineitem")))
      withClue(s"$p: ") {
        val src = FullEtl.ParquetSource(p)
        assert(FullEtl.read(spark, src).schema == spark.read.parquet(p).schema)
        assert(jobsStartedBy(FullEtl.read(spark, src)) == 0)
      }
  }

  /** An `events` table whose int64 `ts` holds µs-era values, written in
    * descending order so the first row (what a sample sees) is not the
    * minimum (what the footer statistics report). */
  private def microsEvents(options: Map[String, String]): String = {
    val dir = Files.createTempDirectory("tables-us").toString
    spark.range(100).select(col("id").as("event_id"),
        (lit(1700000000000000L) + (lit(99L) - col("id")) * 1000L).as("ts"))
      .coalesce(1).write.options(options).parquet(Tables.path(dir, "events"))
    dir
  }

  private def tsStatistics(dir: String) =
    ParquetFooters.read(spark, Tables.path(dir, "events")).metadata.getBlocks.asScala
      .flatMap(_.getColumns.asScala.filter(_.getPath.toDotString == "ts"))
      .map(_.getStatistics)

  test("the ns-magnitude guard rejects int64 ts at µs magnitude, from footer statistics") {
    val dir = microsEvents(Map.empty)
    assert(tsStatistics(dir).forall(!_.isEmpty))
    val e = intercept[IllegalArgumentException](Tables(spark, dir, "events"))
    assert(e.getMessage.contains("magnitude 1700000000000000 is not nanosecond-era"))
  }

  test("the ns-magnitude guard falls back to sampling a file without statistics") {
    val dir = microsEvents(Map("parquet.column.statistics.enabled" -> "false"))
    assert(tsStatistics(dir).forall(_.isEmpty))
    val e = intercept[IllegalArgumentException](Tables(spark, dir, "events"))
    assert(e.getMessage.contains("magnitude 1700000000099000 is not nanosecond-era"))
  }

  test("the UTC guard rejects NTZ events under a non-UTC session") {
    val ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    val e = intercept[IllegalArgumentException](Tables(ny, sf, "events"))
    assert(e.getMessage.contains("requires a UTC session"))
    ny.conf.set("spark.sql.session.timeZone", "Etc/UTC")
    assert(Tables(ny, sf, "events").schema == inferred(sf, "events").schema)
  }

  test("a missing or empty table path fails as spark.read.parquet does") {
    val tmp = Files.createTempDirectory("tables-empty").toString
    Files.createDirectory(java.nio.file.Paths.get(Tables.path(tmp, "orders")))
    for ((dir, expected) <- Seq(s"$tmp/absent" -> "PATH_NOT_FOUND", tmp -> "UNABLE_TO_INFER_SCHEMA"))
      withClue(s"$dir: ") {
        assert(condition(spark.read.parquet(Tables.path(dir, "orders"))) == expected)
        assert(condition(Tables(spark, dir, "orders")) == expected)
        assert(condition(FullEtl.read(spark, FullEtl.ParquetSource(Tables.path(dir, "orders")))) == expected)
      }
  }
}
