package graft.sink

import java.io.{FileNotFoundException, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.{DriverParquetWriter, DriverRows}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization
import scala.annotation.tailrec
import scala.collection.mutable

/** Minimal multi-versioned parquet "table" used as the local stand-in for a
  * transactional sink (Delta/Iceberg/JDBC in production), kept the way
  * Spark's file sink keeps its output (`FileStreamSinkLog`): data files in
  * version directories, and one commit log, `<root>/_log/<n>`, whose
  * newest entry holds the whole live state — every version's id, files
  * (name and size), schema, and, for a compacted base, the batch ids it
  * folded ([[ParquetStateStore.Entry]]).
  *
  * A writer writes a version's files, then commits one entry, atomically
  * (`CheckpointFileManager.createAtomic`, which refuses an existing id: a
  * writer that loses an id to a concurrent writer re-applies its change
  * over the winner's entry). An append, a compaction and each truncation
  * are one entry each. Files no entry names are invisible: a crash
  * between a file write and its entry leaves garbage, not a commit.
  *
  * A reader reads the newest entry and builds its frame over the entry's
  * files with the entry's schemas: no directory listing, no schema job,
  * and nothing a concurrent writer can change under it. Readers NEVER
  * mutate the filesystem.
  *
  * Also the idempotence point for streaming: `append(batchId)` is a no-op
  * iff the newest entry already holds that batch, as its own version or
  * folded into a compacted base, which upgrades foreachBatch's
  * at-least-once replay to effectively-once (reference's analogue:
  * broker.commit after flush, synch/replication/continuous.py:163).
  *
  * Garbage: a directory the newest entry neither lists nor has dropped
  * within [[ParquetStateStore.GraceMs]] is deleted by the next commit once
  * its own modification time is that old too, so a reader of an older
  * entry, or a concurrent writer still writing, keeps its files for the
  * grace period. The log keeps its newest [[ParquetStateStore.RetainedEntries]].
  *
  * A store with `v=` directories and no `_log` was written before the
  * log existed and is refused; rebuild it with `etl --renew`. A writer
  * creates `_log` before its first data write, so a crash before the
  * first entry reads as an empty store.
  */
final class ParquetStateStore(spark: SparkSession, root: String) {
  import ParquetStateStore._

  private val conf = spark.sparkContext.hadoopConfiguration
  private val fs = new Path(root).getFileSystem(conf)
  private val rootPath = fs.makeQualified(new Path(root))
  private val logDir = new Path(rootPath, "_log")
  private lazy val log = CheckpointFileManager.create(logDir, conf)

  /** The newest entry with its id; None when the store has none. A log
    * entry that cannot be read or parsed fails the call. */
  private def newest(): Option[(Long, Entry)] = {
    val ids = try fs.listStatus(logDir).flatMap(s => s.getPath.getName.toLongOption)
      catch { case _: FileNotFoundException => refuseOldFormat(); Array.empty[Long] }
    ids.maxOption.map(n => n -> read(new Path(logDir, n.toString)))
  }

  private def read(entry: Path): Entry =
    try {
      val in = fs.open(entry)
      try Serialization.read[Entry](new InputStreamReader(in, UTF_8)) finally in.close()
    } catch {
      case e: Exception =>
        throw new IllegalStateException(s"cannot read state store log entry $entry", e)
    }

  private def refuseOldFormat(): Unit =
    if (fs.exists(rootPath) && fs.listStatus(rootPath).exists(_.getPath.getName.startsWith("v=")))
      throw new IllegalStateException(
        s"state store $root has `v=` directories and no `_log`: it was written before " +
          "the store kept a commit log; rebuild it with `etl --renew`")

  private def current(): Entry = latest()._2

  /** The newest entry and its id, -1 when there is none. */
  private def latest(): (Long, Entry) = newest().getOrElse((-1L, Entry.empty))

  /** The newest entry, for a writer about to write data files: `_log` is
    * created first, so a crash before the first entry leaves an empty
    * store rather than one that reads as old-format. */
  private def startWriting(): (Long, Entry) = {
    val cur = latest()
    if (cur._1 < 0) fs.mkdirs(logDir)
    cur
  }

  /** Commit `change` of the newest entry as the next entry (nothing when
    * it changes no version), then collect garbage. The first attempt
    * changes `from`; when another writer has committed since, the change
    * is applied again over its entry. */
  @tailrec private def commit(change: Entry => Entry, from: (Long, Entry) = latest()): Unit = {
    val (n, cur) = from
    val changed = change(cur)
    if (changed.versions != cur.versions) {
      val now = System.currentTimeMillis()
      val live = changed.versions.map(_.dir).toSet
      val next = changed.pruned.copy(dropped = (cur.dropped.filter(_.atMs > now - GraceMs) ++
        cur.versions.map(v => Dropped(v.dir, now))).filterNot(d => live(d.dir)))
      if (add(n + 1, next)) collectGarbage(n + 1, next, now)
      else commit(change, latest())
    }
  }

  /** Write entry `n`; false when another writer committed `n` first. */
  private def add(n: Long, e: Entry): Boolean = {
    val out = log.createAtomic(new Path(logDir, n.toString), false)
    try { out.write(Serialization.write(e).getBytes(UTF_8)); out.close(); true }
    catch {
      case _: FileAlreadyExistsException => out.cancel(); false
      case t: Throwable => out.cancel(); throw t
    }
  }

  private def collectGarbage(n: Long, e: Entry, now: Long): Unit = {
    unnamed(e).filter(_.getModificationTime < now - GraceMs).foreach(s => fs.delete(s.getPath, true))
    fs.listStatus(logDir).flatMap(_.getPath.getName.toLongOption)
      .filter(_ <= n - RetainedEntries).foreach(i => fs.delete(new Path(logDir, i.toString), false))
  }

  private def unnamed(e: Entry): Seq[FileStatus] = {
    val named = e.versions.map(_.dir).toSet ++ e.dropped.map(_.dir) + logDir.getName
    if (!fs.exists(rootPath)) Nil
    else fs.listStatus(rootPath).toSeq.filter(s => s.isDirectory && !named(s.getPath.getName))
  }

  /** Directories under the root that the newest entry neither lists nor
    * has dropped: the files of a write whose entry was never committed
    * (its writer crashed, or is still writing). The garbage collector
    * deletes them once [[ParquetStateStore.GraceMs]] old. */
  def unnamedDirs(): Seq[String] = unnamed(current()).map(_.getPath.getName)

  /** The data files of version directory `dir`, as just written. */
  private def filesIn(dir: String): Seq[DataFile] =
    fs.listStatus(new Path(rootPath, dir)).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(s => DataFile(s.getPath.getName, s.getLen))

  def latestVersion: Option[Long] = current().versions.lastOption.map(_.id)

  /** (version id, bytes, isCompactedBase) per live version — the input to
    * [[SinkStrategy.shouldCompact]]'s scheduling decision. */
  def versionStats(): Seq[(Long, Long, Boolean)] =
    current().versions.map(v => (v.id, v.files.map(_.size).sum, v.compacted))

  def isEmpty: Boolean = current().versions.isEmpty

  /** Ids of the live versions, oldest first. */
  def versionIds(): Seq[Long] = current().versions.map(_.id)

  /** True when the newest entry holds batch `batchId`: as its own version,
    * or folded into a compacted base. */
  def committed(batchId: Long): Boolean = current().holds(batchId)

  /** Every live version as one frame (see [[frame]]). */
  def readLog(): Option[DataFrame] = newest().flatMap { case (_, e) => frame(e, e.versions) }

  /** ONE live version, with its own schema (None if that id isn't live). */
  def readVersion(batchId: Long): Option[DataFrame] =
    newest().flatMap { case (_, e) => frame(e, e.versions.filter(_.id == batchId)) }

  /** Versions `vs` of `e` as one frame over their files. The columns are
    * the union of the versions' schemas, oldest first; a column a version
    * lacks reads as null. A snapshot base written before a
    * schema-carrying delta (e.g. MergeTree's `_batch` stamp) therefore
    * does not decide the schema alone.
    *
    * A type-CHANGING DDL (MODIFY COLUMN INT -> BIGINT) leaves versions
    * whose column types conflict. Every version is then aligned to the
    * newest version's type by explicit cast instead: widening history is
    * exact; a NARROWING change with out-of-range history fails the cast
    * loudly (ANSI), which is the correct surface for genuinely lossy
    * evolution. */
  private def frame(e: Entry, vs: Seq[Version]): Option[DataFrame] =
    if (vs.isEmpty) None
    else {
      val schemas = vs.map(_.schema).distinct
        .map(i => i -> DataType.fromJson(e.schemas(i)).asInstanceOf[StructType]).toMap
      val target = mutable.LinkedHashMap.empty[String, StructField]
      vs.foreach(v => schemas(v.schema).fields.foreach(f => target(f.name) = f.copy(nullable = true)))
      val union = StructType(target.values.toSeq)
      if (schemas.values.forall(_.fields.forall(f => target(f.name).dataType == f.dataType)))
        Some(relation(vs, union))
      else Some(vs.groupBy(_.schema).toSeq.sortBy(_._2.head.id).map { case (i, g) =>
        val have = schemas(i).fieldNames.toSet
        relation(g, schemas(i)).select(union.fields.toSeq.map { f =>
          (if (have(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
        }: _*)
      }.reduce(_.unionByName(_)))
    }

  private def relation(vs: Seq[Version], schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new LogFileIndex(vs.flatMap(v => v.files.map(f =>
        new FileStatus(f.size, false, 0, 0, 0, new Path(rootPath, s"${v.dir}/${f.name}"))))),
      new StructType(), schema, None, new ParquetFileFormat, Map.empty)(spark))

  /** Append-only log flavor: one directory per batch, [[readLog]] unions
    * all. Overwrite (not ErrorIfExists): the only way the directory can
    * pre-exist without the newest entry holding its batch is a crashed
    * write of this same batch, or a version a truncation dropped.
    *
    * "Holds" includes batches a compaction FOLDED: a replay of a folded
    * batch must not re-append rows the compacted base already contains —
    * harmless for the LWW engines (identical rows, same winner) but
    * corrupting for the collapsing family, whose sign-sum counts the
    * duplicate +1 and a later single -1 then leaves a deleted row alive.
    * Found by the rewind × dead-letter composition: a post-rewind
    * drain's rename compact folds the drained batch ids, and the
    * restarted stream then replays exactly those ids from the broker
    * (RewindDrainSpec pins the shape). */
  def append(df: DataFrame, batchId: Long): Unit =
    appendVersion(batchId, df.schema)(dir => df.write.mode(SaveMode.Overwrite).parquet(dir.toString))

  /** [[append]] of a delta already collected on the driver (the consume
    * loop's one-partition batches): any leftover of the batch's
    * directory is deleted, then one part file is written through
    * [[DriverParquetWriter]] in place. The commit point is the same
    * entry. */
  def appendRows(rows: DriverRows.Rows, batchId: Long): Unit =
    appendVersion(batchId, rows.schema) { dir =>
      fs.delete(dir, true)
      DriverParquetWriter.write(spark, rows, dir.toString)
      ()
    }

  private def appendVersion(batchId: Long, schema: StructType)(write: Path => Unit): Unit = {
    val from = startWriting()
    if (!from._2.holds(batchId)) {
      val dir = s"v=$batchId"
      write(new Path(rootPath, dir))
      val v = Version(batchId, dir, filesIn(dir), 0, compacted = false, Nil)
      commit(e => if (e.holds(batchId)) e else e.plus(v, schema.json), from)
    }
  }

  /** Drop versions with id > `batchId` — the state-side half of a resume
    * rewind ([[graft.run.Resume]]): batch-id idempotence would otherwise
    * skip the replayed batches. Refuses when the surviving data lives in
    * a compaction newer than the target batch — that version holds rows
    * from batches ≤ `batchId`, and dropping it would lose them (recover
    * via `etl --renew` + fresh consume instead).
    */
  def truncateAfter(batchId: Long): Unit = {
    truncateAfterBlocker(batchId).foreach(reason =>
      throw new IllegalStateException(
        s"cannot rewind to batch $batchId: $reason; " +
          "re-bootstrap the store instead"))
    commit(e => e.copy(versions = e.versions.filter(_.id <= batchId)))
  }

  /** The validation half of [[truncateAfter]], mutation-free: Some(reason)
    * when the truncation would refuse. Lets a multi-store rewind
    * ([[graft.run.Resume.rewind]]) check EVERY store before mutating any
    * state or checkpoint — failing on store k after store 1..k-1
    * truncated (and after the checkpoint seek) would leave a half-rewound
    * system whose restart silently swallowed replays. */
  def truncateAfterBlocker(batchId: Long): Option[String] =
    current().versions.find(v => v.id > batchId && v.compacted)
      .map(v => s"version ${v.id} is a compaction containing earlier batches")

  /** Drop versions with id <= `batchId` — the dead-letter drain's bounded
    * clear: removes exactly the batches a drain snapshot replayed, leaving
    * anything parked AFTER the snapshot (a live skip-error stream keeps
    * recording while a drain runs; a full truncate would delete rows the
    * drain never saw). A compacted base at v <= batchId spans only batches
    * <= v <= batchId, so dropping it is safe. */
  def dropThrough(batchId: Long): Unit =
    commit(e => e.copy(versions = e.versions.filter(_.id > batchId)))

  /** Drop ONE live version (dead-letter drainDdl: per-batch clear, so a
    * crash between batches loses at most that batch's re-park). Refuses
    * a compacted base like [[truncateAfter]]: that version folds every
    * batch <= its id, and a single "delete one version" call destroying
    * all of them is the silent-data-loss shape. */
  def deleteVersion(batchId: Long): Unit =
    commit { e =>
      if (e.versions.exists(v => v.id == batchId && v.compacted))
        throw new IllegalStateException(
          s"cannot delete version $batchId: it is a compaction containing " +
            "every earlier batch; use dropThrough/truncateAfter deliberately")
      e.copy(versions = e.versions.filterNot(_.id == batchId))
    }

  /** Compact the append-only log: materialize `resolved` as the single
    * surviving version (keeping the latest version number so batch-id
    * idempotence still holds) in a fresh `.compact_stage_v=<n>-<uuid>`
    * directory, then commit one entry that replaces every version it
    * folds. The engine analogue of ClickHouse's background merge /
    * OPTIMIZE: read-time resolution cost stays O(base + recent deltas)
    * instead of O(history). The base carries every batch id it folds
    * (unioned across re-compactions), so a replay of a folded batch stays
    * a no-op, and a later rewind knows it spans earlier batches.
    *
    * Correctness relies on the resolve functions being idempotent over
    * their own output (resolved rows keep pk/version/sign columns), which
    * [[SinkStrategy]] guarantees and ConsumeSpec asserts.
    */
  def compact(resolved: DataFrame): Unit = {
    val from @ (_, cur) = startWriting()
    cur.versions.lastOption.foreach { last =>
      val dir = s"$CompactPrefix${last.id}-${UUID.randomUUID}"
      resolved.write.parquet(new Path(rootPath, dir).toString)
      val folded = cur.versions.flatMap(v => v.folded :+ v.id).distinct.sorted
      val base = Version(last.id, dir, filesIn(dir), 0, compacted = true, folded)
      val gone = cur.versions.map(_.dir).toSet
      commit(e => e.copy(versions = e.versions.filterNot(v => gone(v.dir))).plus(base, resolved.schema.json),
        from)
    }
  }
}

object ParquetStateStore {

  /** Entries the log keeps; older ones are deleted by the next commit. */
  val RetainedEntries = 10

  /** How long a directory the log stopped naming, or never named, waits
    * before the garbage collector deletes it. */
  val GraceMs = 60000L

  /** Name prefix of a compaction's version directory. */
  val CompactPrefix = ".compact_stage_v="

  private implicit val formats: Formats = Serialization.formats(NoTypeHints)

  private[sink] final case class DataFile(name: String, size: Long)

  /** A live version: its files under `dir`, its schema as an index into
    * the entry's `schemas`, and for a compacted base the batch ids it
    * folded. */
  private[sink] final case class Version(id: Long, dir: String, files: Seq[DataFile], schema: Int,
                           compacted: Boolean, folded: Seq[Long])

  /** A directory the log stopped naming at `atMs`, not yet deleted. */
  private[sink] final case class Dropped(dir: String, atMs: Long)

  /** One log entry: the store's whole live state. */
  private[sink] final case class Entry(schemas: Seq[String], versions: Seq[Version], dropped: Seq[Dropped]) {

    def holds(batchId: Long): Boolean =
      versions.exists(v => v.id == batchId || v.folded.contains(batchId))

    /** This entry with `v` added, its schema given as JSON. */
    def plus(v: Version, schema: String): Entry = {
      val i = schemas.indexOf(schema)
      Entry(if (i >= 0) schemas else schemas :+ schema,
        (versions :+ v.copy(schema = if (i >= 0) i else schemas.size)).sortBy(_.id), dropped)
    }

    /** This entry without the schemas no version uses. */
    def pruned: Entry = {
      val used = versions.map(_.schema).distinct.sorted
      val at = used.zipWithIndex.toMap
      copy(schemas = used.map(schemas), versions = versions.map(v => v.copy(schema = at(v.schema))))
    }
  }

  private[sink] object Entry { val empty: Entry = Entry(Nil, Nil, Nil) }

  /** The files of a log entry as a file index: what the scan reads is
    * exactly what the entry names, with no listing. */
  private final class LogFileIndex(files: Seq[FileStatus]) extends FileIndex {
    def rootPaths: Seq[Path] = files.map(_.getPath)
    def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_.getLen).sum
    def partitionSchema: StructType = new StructType()
  }
}
