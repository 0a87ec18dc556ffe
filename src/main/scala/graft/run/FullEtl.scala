package graft.run

import graft.Tables
import graft.ops.CdcOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Full-snapshot ETL (reference `synch etl`, synch/replication/etl.py:9-73).
  *
  * The reference delegates the copy to ClickHouse's `INSERT ... SELECT *
  * FROM mysql(...)` — one giant single-stream pull. The Spark-native shape
  * is a *partitioned* scan: N executors each read a PK range, which is what
  * makes the snapshot leg scale to 100 TB (SURVEY.md §3.1).
  */
object FullEtl {

  /** Source description: either a parquet path (hermetic tests/bench) or a
    * JDBC endpoint with PK-range partitioning.
    */
  sealed trait Source
  final case class ParquetSource(path: String) extends Source
  final case class JdbcSource(url: String, table: String, user: String, password: String,
                              partitionColumn: Option[String] = None,
                              numPartitions: Int = 32) extends Source

  /** Dialect-aware identifier quoting for the hand-rolled bounds query
    * and Spark's generated range predicates, scoped to the dialects the
    * reference supports (MySQL/MariaDB → backticks; Postgres → ANSI
    * double quotes, whose lower-folding makes a quoted lowercase
    * reserved word resolve). Quote ONLY what cannot be written bare:
    * reserved words and names with special characters. Plain
    * identifiers — mixed case included — stay bare: an unquoted
    * `UserId` resolves via the database's case folding exactly as it
    * did before partitioned scans, whereas quoting it would demand an
    * exact-case match and break previously working configs; a column
    * CREATED quoted with exact case must be configured pre-quoted
    * (`pk: '"userId"'`), which passes through verbatim. Other dialects
    * (upper-folding Oracle/DB2/...) keep the pre-quoting bare behavior —
    * a wrong-case quote there is strictly worse than bare. */
  private val ReservedPk = Set(
    "order", "group", "by", "select", "from", "where", "limit", "offset",
    "index", "key", "table", "desc", "asc", "join", "user", "in", "on",
    "to", "as", "and", "or", "not", "between", "check", "default",
    "primary", "references", "values", "partition", "rank", "rows", "row",
    "case", "when", "then", "else", "end", "distinct", "having",
    "interval", "is", "like", "union", "set", "left", "right", "cross",
    "inner", "outer", "natural", "using", "window", "over", "recursive",
    "lateral", "fetch", "match", "of", "for", "with", "all", "any",
    "some", "exists", "true", "false", "null", "create", "drop", "alter",
    "insert", "update", "delete", "grant", "column", "constraint",
    "foreign", "unique", "collate", "cast", "current_date",
    "current_time", "current_timestamp", "current_user", "session_user",
    "localtime", "localtimestamp", "symmetric", "asymmetric", "both",
    "leading", "trailing", "placing", "returning", "ilike", "similar",
    "isnull", "notnull", "freeze", "verbose", "analyze", "analyse",
    "dense_rank", "percent_rank", "cume_dist", "ntile", "lag", "lead",
    "groups", "exclude", "others", "ties", "generated", "stored",
    "virtual", "system_time")
  private[run] def quotePk(url: String, pk: String): String = {
    val mysqlFamily = url.startsWith("jdbc:mysql") || url.startsWith("jdbc:mariadb")
    val backtickQuoted = pk.length >= 2 && pk.startsWith("`") && pk.endsWith("`")
    val ansiQuoted = pk.length >= 2 && pk.startsWith("\"") && pk.endsWith("\"")
    // a pre-quoted config name passes through — but only in its OWN
    // dialect (MySQL reads "x" as a string literal, Postgres reads `x`
    // as a syntax error; failing at config beats a confusing bounds row)
    if (backtickQuoted || ansiQuoted) {
      // enforce the quote style only for dialects we KNOW (unknown
      // dialects keep pre-partitioning passthrough — sqlite et al accept
      // backticks); scheme-only in the message: the full url can carry
      // credentials that must not land in logs
      val pg = url.startsWith("jdbc:postgresql")
      if (mysqlFamily || pg)
        require(if (mysqlFamily) backtickQuoted else ansiQuoted,
          s"partition column $pk is quoted for the wrong dialect of " +
            s"${url.split(':').take(2).mkString(":")} (MySQL-family takes " +
            "backticks, Postgres ANSI double quotes)")
      pk
    } else if (pk.matches("[A-Za-z_][A-Za-z0-9_]*") && !ReservedPk(pk.toLowerCase)) pk
    else if (mysqlFamily) s"`${pk.replace("`", "``")}`"
    else if (url.startsWith("jdbc:postgresql")) {
      // a reserved WORD is lower-folded before quoting: pk "Order" bare
      // resolved to the folded column `order` pre-partitioning, and a
      // case-preserving "Order" quote would break that config
      val name = if (pk.matches("[A-Za-z_][A-Za-z0-9_]*")) pk.toLowerCase else pk
      s""""${name.replace("\"", "\"\"")}""""
    } else pk // unknown dialect: keep the pre-partitioning bare behavior
  }

  /** A MIN/MAX bound as the integral literal Spark's numeric partition
    * parser accepts (it runs `String.toLong` on the option), or None when
    * no such literal exists. Raw `toString` broke every non-integral
    * numeric bound (r13 review): a DECIMAL/DOUBLE pk stringifies as
    * "123.45" or "1.2E+22" and the partitioned read then fails at
    * planning. Floor/ceil keeps the bounds COVERING (Spark's first/last
    * range predicates are open-ended, so bounds only steer stride
    * balance, never completeness); a bound outside Long range returns
    * None and the caller falls back to a single-partition scan — slower,
    * never wrong. Dates/timestamps/integrals keep their toString. */
  private[run] def boundLiteral(v: Any, roundUp: Boolean): Option[String] = {
    def integral(bd: java.math.BigDecimal): Option[String] =
      try Some(bd.setScale(0,
        if (roundUp) java.math.RoundingMode.CEILING
        else java.math.RoundingMode.FLOOR).longValueExact.toString)
      catch { case _: ArithmeticException => None }
    v match {
      case bd: java.math.BigDecimal => integral(bd)
      case bi: java.math.BigInteger => integral(new java.math.BigDecimal(bi))
      // NaN/Infinity bounds (a float8 'Infinity' in the source, which
      // MAX happily returns) have no BigDecimal form — same loud
      // single-partition fallback as out-of-Long-range (dbf125e
      // meta-review: BigDecimal("Infinity") threw NumberFormatException
      // and crashed the snapshot instead)
      case f: java.lang.Float if f.isNaN || f.isInfinite => None
      case d: java.lang.Double if d.isNaN || d.isInfinite => None
      case f: java.lang.Float => integral(new java.math.BigDecimal(f.toString))
      case d: java.lang.Double => integral(new java.math.BigDecimal(d.toString))
      case other => Some(other.toString)
    }
  }

  def read(spark: SparkSession, src: Source): DataFrame = src match {
    case ParquetSource(p) => Tables.readParquet(spark, p)
    case j: JdbcSource =>
      val base = spark.read.format("jdbc")
        .option("url", j.url).option("dbtable", j.table)
        .option("user", j.user).option("password", j.password)
      j.partitionColumn match {
        case Some(pk0) =>
          val pk = quotePk(j.url, pk0)
          // Two-phase read: cheap bounds query, then numPartitions range
          // scans in parallel (the 100 TB path; reference has no analogue).
          val bounds = spark.read.format("jdbc")
            .option("url", j.url)
            .option("dbtable", s"(SELECT MIN($pk) lo, MAX($pk) hi FROM ${j.table}) b")
            .option("user", j.user).option("password", j.password)
            .load().collect().head
          // empty table → NULL bounds → plain single-partition scan
          if (bounds.isNullAt(0) || bounds.isNullAt(1)) base.load()
          else (boundLiteral(bounds.get(0), roundUp = false),
                boundLiteral(bounds.get(1), roundUp = true)) match {
            case (Some(lo), Some(hi)) =>
              base.option("partitionColumn", pk)
                .option("lowerBound", lo)
                .option("upperBound", hi)
                .option("numPartitions", j.numPartitions)
                .load()
            case _ =>
              System.err.println(s"[etl] WARNING: partition bounds for " +
                s"$pk exceed Long range — falling back to a single-" +
                "partition scan (pick an integral pk for the 100 TB path)")
              base.load()
          }
        case None => base.load()
      }
  }

  /** Snapshot one table: read, optionally stamp the collapsing sign column
    * (T1), write. Returns (sourceCount, targetCount) — the A5 `check`.
    *
    * The source count is OBSERVED during the single write pass
    * (`Dataset.observe`), not re-counted afterwards: the old post-write
    * `df0.count()` re-executed every JDBC range scan a second time
    * (doubling source load on the 100 TB snapshot) and raced live writes
    * — rows inserted between copy and count made the A5 check report a
    * spurious mismatch for a perfectly good snapshot. The observation is
    * the count of rows the write itself consumed, by construction
    * race-free; the target count reads back parquet footers (cheap). */
  def copyTable(spark: SparkSession, src: Source, targetPath: String,
                withSign: Boolean = false): (Long, Long) = {
    val df0 = read(spark, src)
    val df = if (withSign) CdcOps.withSnapshotSign(df0) else df0
    val obs = new org.apache.spark.sql.Observation("etl_src_count")
    df.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(targetPath)
    val srcCount = obs.get("n").asInstanceOf[Long]
    val tgtCount = spark.read.parquet(targetPath).count()
    (srcCount, tgtCount)
  }
}
