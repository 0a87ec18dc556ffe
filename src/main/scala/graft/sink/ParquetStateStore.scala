package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.graftshim.{DriverParquetWriter, DriverRows}

/** Minimal multi-versioned parquet "table" used as the local stand-in for a
  * transactional sink (Delta/Iceberg/JDBC in production). Each commit
  * writes a fresh `v=<n>` directory and readers always see committed
  * versions only — a directory counts as committed iff its `_SUCCESS`
  * marker landed (Spark's job commit writes it, or [[appendRows]]
  * after its part file), so a crash mid-write leaves an ignorable
  * partial dir rather than a phantom commit.
  *
  * Also the idempotence point for streaming: `append(batchId)` is a no-op
  * iff that batch id was already *committed*, which upgrades foreachBatch's
  * at-least-once replay to effectively-once (reference's analogue:
  * broker.commit after flush, synch/replication/continuous.py:163); a
  * replay over a partial dir rewrites it.
  *
  * Single writer assumed (one streaming query owns a store) — matching a
  * per-table sink; concurrent readers see the last committed version.
  * Readers NEVER mutate the filesystem (they resolve an in-flight
  * compaction swap logically, [[versions]]); only writer entry points run
  * the destructive swap recovery, so any number of concurrent readers is
  * safe alongside the single writer.
  */
final class ParquetStateStore(spark: SparkSession, root: String) {
  private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def committed(p: Path): Boolean = fs.exists(new Path(p, "_SUCCESS"))

  private val CompactTmpPrefix = ".compact_tmp_v="
  private val CompactStagePrefix = ".compact_stage_v="

  /** The ONE superseded-stale-tmp rule, shared by the reader view and the
    * physical recovery (meta review: two hand-copied predicates drift —
    * the repo's own r13 lesson): a marked tmp at `keep` is stale garbage
    * when a settled compacted base STRICTLY NEWER than keep exists among
    * `entries` — that base already folds everything the tmp folds, and
    * presenting/renaming the tmp beside it would double-count. Strictly
    * `>`: a marked tmp at the SAME version as a settled base is a
    * legitimate re-compaction whose content may differ (the dead-letter
    * drain's rename compact re-compacts a store whose latest version is
    * already a settled base when every replayed batch no-op'd) — the
    * meta chain caught `>=` silently discarding exactly that rename. */
  private def supersededBySettled(entries: Seq[(Long, Path)], keep: Long): Boolean =
    entries.exists { case (v, p) =>
      v > keep && fs.exists(new Path(p, CompactedMarker)) }

  /** Complete (or discard) an in-flight compaction swap — WRITER-ONLY.
    * The compaction's logical commit point is the [[CompactedMarker]]
    * inside the fully written tmp dir: once present, the tmp IS the state
    * through version K, so recovery deletes every superseded `v<=K` dir
    * and renames the tmp into place; without the marker the tmp is
    * garbage from a crashed write and is dropped.
    *
    * Only mutating entry points run this. Readers resolve the SAME view
    * logically in [[versions]] without touching the filesystem — two
    * concurrent readers running this destructively would race each other
    * (reader B's inner listing sees reader A's freshly renamed `v=K`,
    * deletes it as superseded, and B's rename of the now-gone tmp fails
    * silently → committed base lost), and a reader could delete the
    * writer's fully-written-but-not-yet-marked tmp out from under the
    * marker creation. Writer-only mutation + the single-writer contract
    * makes the swap race-free.
    */
  private def recoverCompaction(keepStage: Option[Path] = None): Unit = {
    val dir = new Path(root)
    if (!fs.exists(dir)) return
    // ASCENDING keep order + checked rename (r14 review): normally at most
    // one marked tmp exists, but a failed (unchecked) rename here used to
    // leave the old marked tmp behind while a later compact added a newer
    // one — and settling the NEWER first would then resurrect the older
    // tmp as a superseded base NEXT to the new one, duplicating every
    // batch it folds (sign-sum corruption on the collapsing engines).
    // Oldest-first, each settle deletes everything its keep supersedes and
    // the newest settle sweeps the earlier-settled bases away; a rename
    // failure now throws instead of silently deferring half a swap.
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(CompactTmpPrefix))
      .sortBy(_.getPath.getName.stripPrefix(CompactTmpPrefix).toLong)
      .foreach { s =>
        val keep = s.getPath.getName.stripPrefix(CompactTmpPrefix).toLong
        // a marked tmp SUPERSEDED by an already-settled newer compacted
        // base is garbage, not state (meta review: legacy pre-fix damage
        // could leave {settled v=12 base, stale marked tmp9} — renaming
        // tmp9 in would resurrect batches <=9 beside the base that
        // already folds them); one rule shared with the reader view
        val settled = fs.listStatus(dir).toSeq
          .filter(v => v.isDirectory && v.getPath.getName.startsWith("v="))
          .map(v => (v.getPath.getName.stripPrefix("v=").toLong, v.getPath))
        if (!fs.exists(new Path(s.getPath, CompactedMarker)) ||
            supersededBySettled(settled, keep))
          fs.delete(s.getPath, true)
        else {
          settled.filter(_._1 <= keep).foreach { case (_, p) => fs.delete(p, true) }
          if (!fs.rename(s.getPath, new Path(s"$root/v=$keep")))
            throw new java.io.IOException(
              s"recoverCompaction: rename ${s.getPath} -> $root/v=$keep failed; " +
                "refusing to continue with a half-settled swap")
        }
        ()
      }
    // a crashed compact's write-stage is garbage (it never reached the
    // tmp+marker commit point); `keepStage` protects the live compact's
    // own — compared by NAME, since listStatus returns qualified paths
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(CompactStagePrefix) &&
        !keepStage.exists(_.getName == s.getPath.getName))
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** Committed versions as a NON-MUTATING logical view: a marker-committed
    * compaction tmp is presented as its target version (hiding the
    * superseded `v<=K` dirs it replaces); an unmarked tmp is invisible.
    * The physical swap happens later, on the next writer operation. A
    * reader racing the writer's swap can still lose a path between
    * listing and reading (transient, retryable) — but never causes or
    * observes data loss. */
  private def versions: Seq[(Long, Path)] = {
    val dir = new Path(root)
    if (!fs.exists(dir)) return Nil
    val entries = fs.listStatus(dir).toSeq.filter(_.isDirectory)
    val committedVs = entries
      .filter(s => s.getPath.getName.startsWith("v=") && committed(s.getPath))
      .map(s => (s.getPath.getName.stripPrefix("v=").toLong, s.getPath))
    val tmps = entries
      .filter(_.getPath.getName.startsWith(CompactTmpPrefix))
      .map(s => (s.getPath.getName.stripPrefix(CompactTmpPrefix).toLong, s.getPath))
      .filter { case (_, p) => fs.exists(new Path(p, CompactedMarker)) }
    tmps.sortBy(_._1).foldLeft(committedVs) { case (vs, (keep, tmpP)) =>
      // the marked tmp supersedes EVERY v<=keep — including v=keep itself:
      // compact keeps the latest version number, so the ordinary delta dir
      // at v=keep coexists with the tmp until the physical swap (and a
      // re-compact's tmp over an older base at the same keep is
      // content-identical by resolver idempotence). The REVERSE also
      // holds (meta review): a marked tmp superseded by an
      // already-settled compacted base at version >= keep is stale
      // garbage (legacy pre-r14 recovery damage) — presenting it beside
      // the base would double-count every batch it folds.
      if (supersededBySettled(vs, keep)) vs
      else vs.filter(_._1 > keep) :+ ((keep, tmpP))
    }.sortBy(_._1)
  }

  def latestVersion: Option[Long] = versions.lastOption.map(_._1)

  /** (version id, bytes, isCompactedBase) per committed version — the
    * input to [[SinkStrategy.shouldCompact]]'s scheduling decision. */
  def versionStats(): Seq[(Long, Long, Boolean)] = versions.map { case (v, p) =>
    (v, fs.getContentSummary(p).getLength, fs.exists(new Path(p, CompactedMarker)))
  }

  def isEmpty: Boolean = versions.isEmpty

  def read(): Option[DataFrame] =
    versions.lastOption.map { case (_, p) => spark.read.parquet(p.toString) }

  /** Write `df` as the next version; returns the committed version. */
  def write(df: DataFrame, batchId: Option[Long] = None): Long = {
    recoverCompaction() // writer entry: settle any pending swap physically
    val next = batchId.getOrElse(latestVersion.getOrElse(-1L) + 1L)
    if (latestVersion.exists(_ >= next)) next // replay of a committed batch: no-op
    else {
      df.write.mode(SaveMode.Overwrite).parquet(s"$root/v=$next")
      next
    }
  }

  /** Append-only log flavor: one subdir per batch, read() unions all.
    * Overwrite (not ErrorIfExists): the only way the dir can pre-exist
    * without being committed is a crashed write of this same batch.
    *
    * "Committed" includes batches a compaction FOLDED (r14): the fold
    * deletes the per-batch delta dirs, so the dir check alone would let a
    * replay of a folded batch re-append rows the compacted base already
    * contains — harmless for the LWW engines (identical rows, same
    * winner) but corrupting for the collapsing family, whose sign-sum
    * counts the duplicate +1 and a later single -1 then leaves a deleted
    * row alive. Found by the rewind × dead-letter composition: a
    * post-rewind drain's rename compact folds the drained batch ids, and
    * the restarted stream then replays exactly those ids from the broker
    * (RewindDrainSpec pins the shape). The folded ids travel in the
    * compaction marker — see [[compact]]. */
  def append(df: DataFrame, batchId: Long): Unit =
    appendVersion(batchId)(p => df.write.mode(SaveMode.Overwrite).parquet(p.toString))

  /** [[append]] of a delta already collected on the driver (the consume
    * loop's one-partition batches): one part file written through
    * [[DriverParquetWriter]] in place, then the `_SUCCESS` marker. The
    * commit point is the same marker, so a crash before it leaves the
    * same invisible partial dir, which the replay deletes first just as
    * Overwrite does. */
  def appendRows(rows: DriverRows.Rows, batchId: Long): Unit =
    appendVersion(batchId) { p =>
      fs.delete(p, true)
      DriverParquetWriter.write(spark, rows, p.toString)
      fs.create(new Path(p, "_SUCCESS"), true).close()
    }

  /** Run `write` into `v=<batchId>` unless that batch is already
    * committed or folded (see [[append]]). */
  private def appendVersion(batchId: Long)(write: Path => Unit): Unit = {
    recoverCompaction() // writer entry: settle any pending swap physically
    val p = new Path(s"$root/v=$batchId")
    if (committed(p)) return
    val folded = versions.exists { case (v, vp) =>
      v >= batchId && fs.exists(new Path(vp, CompactedMarker)) &&
        foldedIds(vp).contains(batchId)
    }
    if (!folded) write(p)
  }

  /** Each version with its directory's modification time, which moves
    * when a file inside is deleted or the directory is replaced by a
    * rename. A missing directory reads as -1. */
  private def stamped(vs: Seq[(Long, Path)]): Seq[((Long, Path), Long)] =
    vs.map { case v @ (_, p) =>
      v -> (try fs.getFileStatus(p).getModificationTime
            catch { case _: java.io.FileNotFoundException => -1L })
    }

  /** Committed versions, schema-merged: a snapshot base written before a
    * schema-carrying delta (e.g. MergeTree's `_batch` stamp) must not
    * decide the union schema alone.
    *
    * A reader racing the writer's compaction swap can list a stale view:
    * the version listing can miss both the superseded dirs (deleted
    * before their `_SUCCESS` check) and the tmp that replaces them
    * (listed before it existed), and the frame's own file listing can
    * catch a superseded dir mid-delete and hold only part of it. Either
    * way a version it used is gone or changed (its directory's
    * modification time moves) by the time the frame is built, so the
    * read is retried until every version it used is still listed,
    * unchanged, afterwards. A file deleted after that fails the read
    * loudly instead. */
  def readLog(): Option[DataFrame] = {
    val before = stamped(versions)
    val log = mergedLog(before.map(_._1))
    val after = stamped(versions)
    if (before.isEmpty == after.isEmpty && before.forall(after.contains)) log
    else readLog()
  }

  private def mergedLog(vs: Seq[(Long, Path)]): Option[DataFrame] =
    if (vs.isEmpty) None
    else
      try Some(spark.read.option("mergeSchema", "true")
        .parquet(vs.map(_._2.toString): _*))
      catch {
        // A type-CHANGING DDL (MODIFY COLUMN INT -> BIGINT) leaves
        // committed versions whose column types conflict, which parquet
        // schema merging refuses outright — and add/drop alone can't
        // trigger this branch (mergeSchema handles those). Align every
        // version to the newest generation's types by explicit cast
        // instead: widening history is exact; a NARROWING change with
        // out-of-range history fails the cast loudly (ANSI), which is
        // the correct surface for genuinely lossy evolution.
        case e @ (_: org.apache.spark.SparkException |
                  _: org.apache.spark.sql.AnalysisException)
            if isMergeConflict(e) =>
          import org.apache.spark.sql.functions.{col, lit}
          val frames = vs.map { case (_, p) => spark.read.parquet(p.toString) }
          // newest occurrence of each column wins its type; insertion
          // order keeps oldest-first column layout like mergeSchema
          val target = scala.collection.mutable.LinkedHashMap
            .empty[String, org.apache.spark.sql.types.StructField]
          frames.foreach(_.schema.fields.foreach(f => target(f.name) = f))
          val tgt = target.values.toSeq
          val aligned = frames.map { df =>
            val have = df.schema.fieldNames.toSet
            df.select(tgt.map { f =>
              if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
              else lit(null).cast(f.dataType).as(f.name)
            }: _*)
          }
          Some(aligned.reduce(_.unionByName(_)))
      }

  private def deepMessage(t: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = t
    while (cur != null) { sb.append(Option(cur.getMessage).getOrElse("")); cur = cur.getCause }
    sb.toString
  }

  /** True iff the failure is parquet schema-merge type incompatibility.
    * Matched primarily on the structured error condition (walking the
    * cause chain — the merge failure is usually wrapped in a task/job
    * SparkException), with the message substring kept as a fallback for
    * wrappers that don't implement SparkThrowable; matching only the
    * message would silently break if a Spark upgrade reworded it. */
  private def isMergeConflict(t: Throwable): Boolean = {
    var cur: Throwable = t
    while (cur != null) {
      cur match {
        case st: org.apache.spark.SparkThrowable
            if Option(st.getCondition).exists(_.startsWith("CANNOT_MERGE")) =>
          return true
        case _ =>
      }
      cur = cur.getCause
    }
    deepMessage(t).contains("CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE")
  }

  /** Drop versions with id > `batchId` — the state-side half of a resume
    * rewind ([[graft.run.Resume]]): batch-id idempotence would otherwise
    * skip the replayed batches. Refuses when the surviving data lives in
    * a compaction newer than the target batch — that directory holds rows
    * from batches ≤ `batchId`, and deleting it would lose them (recover
    * via `etl --renew` + fresh consume instead).
    */
  def truncateAfter(batchId: Long): Unit = {
    recoverCompaction() // writer entry: settle any pending swap physically
    truncateAfterBlocker(batchId).foreach(reason =>
      throw new IllegalStateException(
        s"cannot rewind to batch $batchId: $reason; " +
          "re-bootstrap the store instead"))
    versions.filter(_._1 > batchId).foreach { case (_, p) => fs.delete(p, true) }
  }

  /** The validation half of [[truncateAfter]], mutation-free: Some(reason)
    * when the truncation would refuse. Lets a multi-store rewind
    * ([[graft.run.Resume.rewind]]) check EVERY store before mutating any
    * state or checkpoint — the r13 review found that failing on store k
    * after store 1..k-1 truncated (and after the checkpoint seek) left a
    * half-rewound system whose restart silently swallowed replays. */
  def truncateAfterBlocker(batchId: Long): Option[String] =
    versions.filter(_._1 > batchId)
      .find { case (_, p) => fs.exists(new Path(p, CompactedMarker)) }
      .map { case (v, _) =>
        s"version $v is a compaction containing earlier batches" }

  /** Drop versions with id <= `batchId` — the dead-letter drain's bounded
    * clear: removes exactly the batches a drain snapshot replayed, leaving
    * anything parked AFTER the snapshot (a live skip-error stream keeps
    * recording while a drain runs; a full truncate would delete rows the
    * drain never saw). A compacted base at v <= batchId spans only batches
    * <= v <= batchId, so deleting it is safe. */
  def dropThrough(batchId: Long): Unit = {
    recoverCompaction() // writer entry: settle any pending swap physically
    versions.filter(_._1 <= batchId).foreach { case (_, p) => fs.delete(p, true) }
  }

  /** Drop ONE committed version (dead-letter drainDdl: per-batch clear,
    * so a crash between batches loses at most that batch's re-park).
    * Refuses a compacted base like [[truncateAfter]]: that directory
    * folds every batch <= its id, and a single "delete one version"
    * call destroying all of them is the silent-data-loss shape (today's
    * only caller, the dead-letter DDL store, never compacts — the guard
    * protects future callers of this public method). */
  def deleteVersion(batchId: Long): Unit = {
    recoverCompaction() // writer entry: settle any pending swap physically
    versions.find(_._1 == batchId).foreach { case (_, p) =>
      if (fs.exists(new Path(p, CompactedMarker)))
        throw new IllegalStateException(
          s"cannot delete version $batchId: it is a compaction containing " +
            "every earlier batch; use dropThrough/truncateAfter deliberately")
      fs.delete(p, true)
    }
  }

  /** Ids of the committed versions, oldest first — a pure listing (no
    * Spark job), for callers that iterate versions as batches. */
  def versionIds(): Seq[Long] = versions.map(_._1)

  /** Read ONE committed version (None if that id isn't committed). */
  def readVersion(batchId: Long): Option[DataFrame] =
    versions.find(_._1 == batchId).map { case (_, p) =>
      spark.read.parquet(p.toString) }

  private val CompactedMarker = "_graft_compacted"

  /** Batch ids a compaction folded, read from its marker (r14). An empty
    * set for a pre-r14 legacy marker (no manifest) — those can't
    * distinguish "folded" from "never applied", so [[append]] keeps its
    * old always-write behavior for ids a legacy base might hold (the
    * pre-r14 exposure, closed for every compaction written since). */
  private def foldedIds(base: Path): Set[Long] = {
    val m = new Path(base, CompactedMarker)
    try {
      val in = fs.open(m)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet
      finally in.close()
    } catch { case _: Exception => Set.empty }
  }

  /** Compact the append-only log: materialize `resolved` as the single
    * surviving version (keeping the latest version number so batch-id
    * idempotence still holds) and drop the per-batch deltas. The engine
    * analogue of ClickHouse's background merge / OPTIMIZE: read-time
    * resolution cost stays O(base + recent deltas) instead of O(history).
    *
    * Crash-safe, in two hops. The `resolved` plan may READ a pending
    * marker-committed tmp (readers present it as the latest version), so
    * the replacement is first fully materialized under a stage name that
    * no plan can reference; only then — input fully consumed — is any
    * pending swap settled and the stage promoted to the tmp name, whose
    * [[CompactedMarker]] is the logical commit. [[recoverCompaction]]
    * completes the physical swap (or discards an unmarked tmp / stale
    * stage) on the next writer operation after any crash point, so no
    * crash loses data or exposes a partial store. The marker also travels
    * with the compacted dir so a later rewind knows it spans earlier
    * batches.
    *
    * Correctness relies on the resolve functions being idempotent over
    * their own output (resolved rows keep pk/version/sign columns), which
    * [[SinkStrategy]] guarantees and ConsumeSpec asserts.
    */
  def compact(resolved: DataFrame): Unit = {
    val vs = versions
    if (vs.isEmpty) return
    val keep = vs.last._1
    // every batch id this fold makes disappear as a dir: the visible
    // version ids, plus whatever a previous compacted base had already
    // folded (a re-compaction folds the base too — dropping its manifest
    // would re-open the replay window for the oldest batches)
    val folded = vs.flatMap { case (v, p) =>
      if (fs.exists(new Path(p, CompactedMarker))) foldedIds(p) + v else Seq(v)
    }.distinct.sorted
    val stage = new Path(s"$root/$CompactStagePrefix$keep")
    if (fs.exists(stage)) fs.delete(stage, true)
    resolved.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    // input plan fully executed: safe to settle a pending swap it may
    // have been reading from
    recoverCompaction(keepStage = Some(stage))
    val tmp = new Path(s"$root/$CompactTmpPrefix$keep")
    if (fs.exists(tmp)) fs.delete(tmp, true) // unmarked leftover
    // the rename result MUST be checked: on a false return (quota, S3A
    // semantics, interference) the marker create below would auto-create
    // an EMPTY tmp dir that recovery then treats as the committed
    // compaction — deleting every superseded version for a data-less swap
    if (!fs.rename(stage, tmp))
      throw new java.io.IOException(
        s"compact: rename $stage -> $tmp failed; aborting before the marker commit")
    // logical commit; the marker body is the folded-id manifest [[foldedIds]]
    val mk = fs.create(new Path(tmp, CompactedMarker), true)
    try mk.write(folded.mkString("\n").getBytes("UTF-8")) finally mk.close()
    recoverCompaction() // physical swap, crash-resumable
  }
}
