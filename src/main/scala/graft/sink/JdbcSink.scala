package graft.sink

import graft.ddl.ClickHouseDdl
import graft.model.Engine
import org.apache.spark.sql.DataFrame
import java.sql.{Connection, DriverManager}

/** JDBC-backed sink leg (reference operators K2 delete-by-PK, K4 DDL
  * apply, K6 database create) for running against a real
  * ClickHouse/warehouse endpoint; K1 bulk insert is Spark's own
  * `df.write.jdbc`. The hermetic test/bench path uses
  * [[ParquetStateStore]] instead; this class is the production wiring and
  * is exercised in tests only down to the SQL-string boundary (no live DB
  * in the build container).
  *
  * Scale note: deletes stream the touched keys off the executors in
  * `batchSize` chunks ([[deleteKeysStreamed]]) — one ALTER DELETE per
  * chunk, one chunk on the driver at a time, so delete memory never
  * scales with the batch.
  */
final case class JdbcTarget(url: String, user: String, password: String,
                            db: String, batchSize: Int = 20000)

object JdbcSink {

  def withConnection[A](t: JdbcTarget)(f: Connection => A): A = {
    val conn = DriverManager.getConnection(t.url, t.user, t.password)
    try f(conn) finally conn.close()
  }

  def execute(t: JdbcTarget, sql: String): Unit =
    withConnection(t) { c => c.createStatement().execute(sql); () }

  /** Execute a '?'-parameterized statement with bound values — the only
    * path data-derived values (delete keys) take to SQL; no literal
    * rendering of user data anywhere.
    */
  def executePrepared(t: JdbcTarget, sql: String, binds: Seq[Any]): Unit =
    withConnection(t)(executeOn(_, sql, binds))

  /** The bind-and-execute body on a caller-owned connection — one
    * implementation for the per-statement and streamed-chunk paths
    * (r13 review: the duplicated inline copy is the exact divergence
    * pattern that bit the produce protocol this same round). */
  private def executeOn(c: Connection, sql: String, binds: Seq[Any]): Unit = {
    val ps = c.prepareStatement(sql)
    try {
      binds.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
      ps.execute(); ()
    } finally ps.close()
  }

  /** Chunked-delete core: drain a key iterator into `chunk`-sized
    * prepared DELETE statements, never holding more than one chunk on
    * the driver. Pulled out of the JDBC path so the bound (≤ `chunk`
    * keys buffered, regardless of batch size) is directly testable with
    * a recording executor. Returns the number of keys deleted.
    */
  private[sink] def foreachKeyChunk(db: String, table: String, pk: Seq[String],
                                    keys: Iterator[Seq[Any]], chunk: Int)
                                   (exec: (String, Seq[Any]) => Unit): Long = {
    require(chunk > 0, "chunk must be positive")
    var total = 0L
    val buf = new scala.collection.mutable.ArrayBuffer[Seq[Any]](chunk)
    def flush(): Unit = if (buf.nonEmpty) {
      val (sql, binds) = ClickHouseDdl.deleteByPkPrepared(db, table, pk, buf.toSeq)
      exec(sql, binds)
      total += buf.size
      buf.clear()
    }
    keys.foreach { k => buf += k; if (buf.size >= chunk) flush() }
    flush()
    total
  }

  /** K2 at micro-batch-agnostic scale: stream a key DataFrame through
    * [[foreachKeyChunk]] over ONE connection. `toLocalIterator` fetches
    * one partition at a time, so driver memory is O(chunk + one
    * partition) however large the batch — a misconfigured
    * `maxOffsetsPerTrigger` degrades to more round-trips, not a driver
    * OOM (the failure mode of the collect-then-bind form this replaces).
    */
  def deleteKeysStreamed(t: JdbcTarget, table: String, pk: Seq[String],
                         keys: DataFrame, chunk: Int): Long = {
    import scala.jdk.CollectionConverters._
    withConnection(t) { c =>
      foreachKeyChunk(t.db, table, pk,
        keys.toLocalIterator().asScala.map(_.toSeq), chunk)(executeOn(c, _, _))
    }
  }

  /** K5/K6: ensure target database and table exist.
    *
    * The engine clause references columns the VALUE schema may not carry:
    * collapsing engines read a sign column that is stamped at APPLY time
    * (never part of the source schema), so it is declared here; and
    * Replacing/VersionedCollapsing resolve on a REAL source column, so a
    * configured `versionColumn` absent from the schema fails loudly
    * instead of creating a table ClickHouse rejects (or that silently
    * resolves on some unrelated column named `version`). */
  def ensureTable(t: JdbcTarget, table: String,
                  schema: org.apache.spark.sql.types.StructType, pk: Seq[String],
                  engine: Engine.Value,
                  signColumn: String = "sign",
                  versionColumn: Option[String] = None,
                  partitionBy: Option[String] = None,
                  engineSettings: Option[String] = None,
                  cluster: Option[String] = None): Unit = {
    execute(t, ClickHouseDdl.createDatabase(t.db, cluster))
    val declared = engine match {
      case Engine.CollapsingMergeTree | Engine.VersionedCollapsingMergeTree
          if !schema.fieldNames.contains(signColumn) =>
        schema.add(org.apache.spark.sql.types.StructField(
          signColumn, org.apache.spark.sql.types.ByteType, nullable = false))
      case _ => schema
    }
    val ver = engine match {
      case Engine.ReplacingMergeTree =>
        // no configured version → ClickHouse's no-arg last-insert-wins form
        versionColumn.getOrElse("")
      case Engine.VersionedCollapsingMergeTree =>
        // never an implicit "version": the engine clause would then
        // collapse on a column the resolve leg (keysFor → arrival
        // order) never consulted — the split-legs shape the r13
        // meta-review flagged. Same contract as Main.syncTables.
        versionColumn.getOrElse(sys.error(
          "VersionedCollapsingMergeTree requires an explicit version column"))
      case _ => versionColumn.getOrElse("version")
    }
    if (ver.nonEmpty && (engine == Engine.ReplacingMergeTree ||
        engine == Engine.VersionedCollapsingMergeTree))
      require(declared.fieldNames.contains(ver),
        s"engine $engine resolves on version column '$ver', which is not " +
          "in the table schema — configure the table's version_column")
    execute(t, ClickHouseDdl.createTable(t.db, table, declared, pk, engine,
      signColumn = signColumn, versionColumn = ver,
      partitionBy = partitionBy, engineSettings = engineSettings,
      cluster = cluster))
  }
}
