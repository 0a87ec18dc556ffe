package graft

import graft.sink.{NoForkLocalFileSystem, NoForkLocalFs}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ParquetFooters
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import scala.jdk.CollectionConverters._

/** Canonical loaders for the driver-generated parquet test tables
  * (TESTDATA.md).
  *
  * The read schema comes from one parquet footer read on the driver
  * ([[org.apache.spark.sql.graftshim.ParquetFooters]]), converted exactly
  * as Spark's own inference converts it, and the table is then read with
  * that schema declared. Building a table's DataFrame therefore starts no
  * Spark job; inference used to start one per read. There is deliberately
  * no hand-kept catalog of `StructType`s: the two data generations this
  * loader serves disagree on `o_orderdate`, `l_shipdate` and `events.ts`
  * (FIXTURES.md §5), and the footer is the one source that is right for
  * both. Nothing is cached; every call re-reads the footer.
  *
  * `events.ts` has shipped in two physical encodings across driver
  * generations: parquet TIMESTAMP(NANOS) or plain int64 nanoseconds —
  * read as a raw long (TIMESTAMP(NANOS) via
  * `spark.sql.legacy.parquet.nanosAsLong=true`, which [[session]] sets)
  * — and plain TIMESTAMP(MICROS) without the UTC flag, which Spark reads
  * as TIMESTAMP_NTZ. Both are normalized here to a µs-precision session
  * (LTZ) timestamp: in a UTC session the NTZ reinterpretation and the
  * nanos`div`1000 rebuild land on the identical instant DuckDB sees when
  * it reads the same file as its naive µs TIMESTAMP, so oracle
  * comparisons line up exactly regardless of which generation wrote the
  * file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Read a parquet file or directory with the schema Spark would infer,
    * resolved from its footer on the driver (no Spark job). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    readWithFooter(spark, path)._1

  private def readWithFooter(spark: SparkSession, path: String): (DataFrame, ParquetMetadata) = {
    val footer = ParquetFooters.read(spark, path)
    (spark.read.schema(footer.schema).parquet(path), footer.metadata)
  }

  /** Read one test table with canonical typing. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val (df, footer) = readWithFooter(spark, path(dir, name))
    if (name == "events") df.schema("ts").dataType match {
      case LongType =>
        // a raw long could be a future µs/ms generation, not just the known
        // ns one — sanity-check the magnitude (ns-era epochs are ~1e18, µs
        // ~1e15) instead of silently dividing by 1000
        footerMin(footer, "ts")
          .orElse(df.select("ts").filter(col("ts").isNotNull).head(1)
            .headOption.map(_.getLong(0)))
          .foreach { v =>
            require(v > 100000000000000000L,
              s"events.ts is a raw long but magnitude $v is not nanosecond-era" +
                " (~1e18); a new driver encoding needs an explicit branch here")
          }
        // nanos-as-long generation; integer `div`, not `/`: double
        // division would round the ns value
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // µs generation: reinterpret the naive value — correct ONLY in a
        // UTC session, which this loader exists to guarantee (r13
        // review: on a caller's non-UTC session the cast silently
        // shifted every instant by the zone offset; fail loudly instead)
        val tz = spark.conf.get("spark.sql.session.timeZone")
        // zone-NORMALIZED check (r13 meta-review): Etc/UTC, GMT, +00:00
        // are all genuinely UTC and must pass; string equality broke them
        val isUtc =
          try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
          catch { case _: Exception => false }
        require(isUtc,
          s"events.ts normalization requires a UTC session (got '$tz'): " +
            "build the session with Tables.session() or set " +
            "spark.sql.session.timeZone=UTC")
        df.withColumn("ts", col("ts").cast("timestamp_ltz"))
      case _ => df
    }
    else df
  }

  /** The smallest value of an int64 column, from the footer's row-group
    * min statistics; `None` when some row group has no non-null minimum
    * (no statistics written, or only nulls), so the caller samples. */
  private def footerMin(footer: ParquetMetadata, column: String): Option[Long] = {
    val stats = footer.getBlocks.asScala.toSeq
      .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == column))
      .map(_.getStatistics)
    if (stats.exists(s => s == null || !s.hasNonNullValue)) None
    else stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).minOption
  }

  /** Cores a graft JVM runs on: `SPARK_GRAFT_CPUS`, 32 when unset. */
  private lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The master [[session]] builds on unless told otherwise. */
  lazy val defaultMaster: String = s"local[$cpus]"

  /** The one place a graft `SparkSession` is built: UTC session time (the
    * `events.ts` normalization in [[apply]] depends on it), TIMESTAMP(NANOS)
    * read as a raw long, no UI, and `shufflePartitions` shuffle partitions.
    * AQE, with partition coalescing and skew-join splitting, is Spark's
    * default and stays on. `file:` paths resolve, for `FileSystem` and
    * `FileContext` alike and on every executor, to
    * [[graft.sink.NoForkLocalFileSystem]] and [[graft.sink.NoForkLocalFs]]:
    * Hadoop's local filesystem without the `chmod` and `readlink`
    * processes it forks per file and per checkpoint rename; `hdfs:` and
    * `s3a:` are untouched. `conf` carries extra static confs that must be
    * set before the context starts (executor sizing, warehouse dir) and
    * overrides the two filesystem keys when it sets them; set runtime SQL
    * confs with `spark.conf.set` on the returned session. As with
    * `getOrCreate`, a session that already exists is returned.
    */
  def session(master: String = defaultMaster, shufflePartitions: Int = cpus,
              conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
