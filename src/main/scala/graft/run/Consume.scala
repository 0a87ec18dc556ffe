package graft.run

import graft.ops.CdcOps
import graft.sink.{ParquetStateStore, SinkKeys, SinkStrategy}
import graft.model.Engine
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Per-table sync configuration (reference synch.yaml:43-57).
  *
  * `versionColumn`: a REAL column of the source row (reference: "need
  * real in source db, usually `updated_at`") used as the resolve version
  * for Replacing/VersionedCollapsing. It is essential for
  * VersionedCollapsing: a delete event's before-image carries the version
  * of the row it cancels, which is what lets the -1 row meet its +1
  * partner — stamping event time as the version would cancel nothing.
  * Unset → event arrival time orders (fine for Replacing/MergeTree).
  */
final case class TableSync(
    schema: String,
    table: String,
    valueSchema: StructType,
    pkCols: Seq[String],
    engine: Engine.Value = Engine.MergeTree,
    skipDelete: Boolean = false,
    skipUpdate: Boolean = false,
    versionColumn: Option[String] = None)

/** The apply loop (reference `synch consume`,
  * synch/replication/continuous.py:41-170) as one Structured Streaming
  * query: canonical ChangeEvent stream → foreachBatch → per-table
  * route → dedup/sign → engine-specific sink.
  *
  * Delivery: the source checkpoint + [[ParquetStateStore]]'s
  * batch-id-idempotent commit give effectively-once application — the
  * reference only reaches at-least-once and leans on ReplacingMergeTree to
  * absorb duplicates (SURVEY.md §4.2).
  */
object Consume {

  /** Transform the canonical event frame into one table's typed changelog:
    * filter (T2/T3), decompose updates (T4), project typed values.
    */
  def tableChangelog(events: DataFrame, t: TableSync): DataFrame = {
    val filtered = CdcOps.filterDml(
      CdcOps.filterTables(events, Seq(t.schema), Seq(t.table)),
      skipDeleteTables = if (t.skipDelete) Set(t.table) else Set.empty,
      skipUpdateTables = if (t.skipUpdate) Set(t.table) else Set.empty)
      .filter(col("action") =!= "query") // DDL rides the K4 path, not DML
    // the delete half of an unsplit update takes the wire before image
    // when one travels (old_values) — see ChangeEvent.wireSchema
    val split = CdcOps.splitUpdates(filtered, oldValuesCol = Some("old_values"))
    split
      .withColumn("_v", from_json(col("values"), t.valueSchema))
      .select(Seq(col("action"), col("event_unixtime"), col("action_seq")) ++
        t.valueSchema.fieldNames.map(f => col(s"_v.$f").as(f)): _*)
  }

  // the ONE backtick-stripping form, shared with the renderers (r13
  // meta-review: a hand copy here had already dropped the length guard)
  import graft.ddl.AlterParser.bare

  /** Evolve a value schema by one parsed ALTER — the StructType analogue
    * of what the source database did, so rows logged AFTER the ALTER can
    * be parsed under the schema they were actually written with. */
  private[run] def evolveSchema(schema: StructType,
                                a: graft.ddl.AlterParser.AlterAction): StructType = {
    import graft.ddl.AlterParser._
    a match {
      case AddColumn(name, dt, _, _, _, _) =>
        // idempotent: a batch REPLAY after the operator restarted with the
        // already-widened TableSync must not produce a duplicate field
        // (replace in place keeps field order stable across replays)
        val f = org.apache.spark.sql.types.StructField(
          bare(name), graft.ddl.TypeMap.toSpark(dt))
        if (schema.fieldNames.contains(f.name))
          StructType(schema.map(x => if (x.name == f.name) f else x))
        else schema.add(f)
      case DropColumn(name) =>
        StructType(schema.filterNot(_.name == bare(name)))
      case ChangeColumn(o, n, dt, _, _, _) =>
        // CHANGE restates the type — a same-name CHANGE is a pure retype
        val (bo, bn) = (bare(o), bare(n))
        if (bo != bn && schema.fieldNames.contains(bo) &&
            schema.fieldNames.contains(bn))
          // degraded-handoff replay: the handed schema already carries
          // the rename's END state while a replayed earlier ADD
          // re-introduced the old name — renaming would mint a DUPLICATE
          // field (from_json rejects it and the batch dies; found by the
          // r12 property test, chain ADD c3 / CHANGE c3 c4 over a handed
          // schema already holding c4). Merge: drop the old-name field,
          // keep the new name with the restated type.
          StructType(schema.filterNot(_.name == bo).map(f =>
            if (f.name == bn)
              f.copy(dataType = dt.map(graft.ddl.TypeMap.toSpark).getOrElse(f.dataType))
            else f))
        else
          StructType(schema.map(f =>
            if (f.name == bo)
              f.copy(name = bn,
                dataType = dt.map(graft.ddl.TypeMap.toSpark).getOrElse(f.dataType))
            else f))
      case ModifyColumn(name, dt, _, _, _) =>
        StructType(schema.map(f =>
          if (f.name == bare(name)) f.copy(dataType = graft.ddl.TypeMap.toSpark(dt)) else f))
    }
  }

  /** Lift a changelog slice parsed under a PRE-alter schema to the shape
    * one more ALTER produces, as frame operations (no re-parse): rows that
    * predate an ADD carry null, a DROP discards, a CHANGE renames, a
    * MODIFY casts (widening is exact; a lossy narrowing fails loudly
    * under ANSI). */
  private def liftSlice(df: DataFrame,
                        a: graft.ddl.AlterParser.AlterAction): DataFrame = {
    import graft.ddl.AlterParser._
    a match {
      case AddColumn(name, dt, _, _, _, _) =>
        df.withColumn(bare(name), lit(null).cast(graft.ddl.TypeMap.toSpark(dt)))
      case DropColumn(name) => df.drop(bare(name))
      case ChangeColumn(o, n, dt, _, _, _) =>
        val (bo, bn) = (bare(o), bare(n))
        val renamed =
          if (bo == bn) df
          else if (df.columns.contains(bo) && df.columns.contains(bn))
            // crash-replay degraded parse carried BOTH names (see
            // [[widenForRenames]]) — each row holds its value under
            // exactly one; pick row-wise, preferring the new name,
            // mirroring [[renameTransform]]'s convention
            df.withColumn(bn, coalesce(col(bn), col(bo))).drop(bo)
          else df.withColumnRenamed(bo, bn) // no-op when bo is absent
        // the cast (CHANGE restates the type) applies only when the
        // column survives into this slice at all: under a degraded
        // handoff whose rename TARGET a later ALTER drops, the slice
        // parses with NEITHER name (widenForRenames can't recover a
        // chain that dies in a drop) and the rename must be a no-op —
        // an unguarded cast crashed the whole batch here (found by the
        // r12 degraded-handoff property test)
        dt.filter(_ => renamed.columns.contains(bn))
          .map(d => renamed.withColumn(bn,
            col(bn).cast(graft.ddl.TypeMap.toSpark(d)))).getOrElse(renamed)
      case ModifyColumn(name, dt, _, _, _) =>
        // same degraded-handoff guard: a MODIFY of a column a later
        // ALTER drops may see a slice that never parsed it
        if (df.columns.contains(bare(name)))
          df.withColumn(bare(name), col(bare(name)).cast(graft.ddl.TypeMap.toSpark(dt)))
        else df
    }
  }

  /** Crash-replay degradation guard for the intra-batch split: if a
    * slice's parse schema already carries a LATER rename's NEW name (a
    * restart handed in a TableSync rebuilt from the already-renamed
    * source schema, so the scanLeft from it never held the old name),
    * rows in that slice still carry the OLD name on the wire — widen the
    * parse schema with the old-named field, walking the rename chain
    * BACKWARDS so `a→b, b→c` recovers `a`, and let [[liftSlice]]'s
    * coalesce fold old into new row-wise. The recovered field parses
    * under the new name's type: the pre-rename wire type is
    * unrecoverable after the crash, and for the overwhelmingly common
    * same-type rename this is exact. In a normal run the slice schema
    * still holds the old name, so this is the identity — zero change on
    * the hot path. */
  private[run] def widenForRenames(schema: StructType,
      later: Seq[graft.ddl.AlterParser.AlterAction]): StructType = {
    import graft.ddl.AlterParser.ChangeColumn
    later.reverse.foldLeft(schema) {
      case (s, ChangeColumn(o, n, _, _, _, _))
          if bare(o) != bare(n) && !s.fieldNames.contains(bare(o)) &&
            s.fieldNames.contains(bare(n)) =>
        s.add(org.apache.spark.sql.types.StructField(
          bare(o), s(bare(n)).dataType))
      case (s, _) => s
    }
  }

  /** [[tableChangelog]] that respects INTRA-batch DDL ordering. Without
    * this, every row of a micro-batch parses under the batch-start schema,
    * so rows logged after an ALTER in the same batch silently read their
    * added/renamed column as null (`from_json` drops unknown fields — no
    * error, nothing parks) and the LWW resolve can overwrite good values
    * with null. The batch is split at each parseable DDL boundary for this
    * table: slice k parses under the schema as of its position (ties on
    * `event_unixtime` count as BEFORE the DDL — binlog timestamps are
    * coarse and the reference records in-flight DML ahead of the ALTER),
    * then every slice is lifted to the final schema and re-unioned, so
    * [[applyBatch]] still writes ONE delta per batch and the batch-id
    * idempotence contract is untouched. With no DDL in the batch this is
    * exactly [[tableChangelog]] — zero extra work on the hot path.
    */
  private[run] def tableChangelog(events: DataFrame, t: TableSync,
                                  ddls: Seq[(String, Long)]): DataFrame = {
    val alters = ddls.sortBy(_._2).flatMap { case (stmt, ts) =>
      graft.ddl.AlterParser.parse(stmt)
        .filter(_.table == t.table).map(p => (p.action, ts))
    }
    if (alters.isEmpty) tableChangelog(events, t)
    else {
      val schemas = alters.scanLeft(t.valueSchema) {
        case (s, (a, _)) => evolveSchema(s, a)
      }
      val slices = (0 to alters.size).map { k =>
        val sliceEvents = events
          .filter(if (k == 0) lit(true) else col("event_unixtime") > alters(k - 1)._2)
          .filter(if (k == alters.size) lit(true) else col("event_unixtime") <= alters(k)._2)
        val parseSchema = widenForRenames(schemas(k), alters.drop(k).map(_._1))
        val cl = tableChangelog(sliceEvents, t.copy(valueSchema = parseSchema))
        alters.drop(k).foldLeft(cl) { case (df, (a, _)) => liftSlice(df, a) }
      }
      slices.reduce(_.unionByName(_))
    }
  }

  /** Resolve ordering for a table: the configured version column when
    * set, else event arrival time; arrival metadata breaks ties. */
  def keysFor(t: TableSync): SinkKeys = t.versionColumn match {
    case Some(v) => SinkKeys(t.pkCols, versionCol = v,
      tieBreakers = Seq("event_unixtime", "action_seq"))
    case None => SinkKeys(t.pkCols)
  }

  /** Apply one micro-batch of one table to its store.
    *
    * Every engine — including MergeTree — appends an O(batch)-sized delta;
    * nothing ever rewrites O(state) bytes inside a micro-batch. MergeTree's
    * eager delete-then-insert contract (reference merge_tree.py:60-85) is
    * realized at read time by [[mergeTreeResolve]] and made cheap again by
    * periodic [[compact]]. The batch is deduped per PK first so the delta
    * carries at most one row per touched key; the batch id is stamped on
    * MergeTree deltas because eager apply is ARRIVAL-ordered — a later
    * batch's delete must beat an earlier insert even when their event
    * timestamps tie or arrive out of order.
    */
  def applyBatch(spark: SparkSession, t: TableSync, store: ParquetStateStore,
                 changelog: DataFrame, batchId: Long): Unit = {
    val keys = keysFor(t)
    t.engine match {
      case Engine.MergeTree =>
        store.append(SinkStrategy.latestPerKey(changelog, keys)
          .withColumn("_batch", lit(batchId)), batchId)
      case Engine.CollapsingMergeTree | Engine.VersionedCollapsingMergeTree =>
        store.append(CdcOps.withCollapsingSign(changelog), batchId)
      case Engine.ReplacingMergeTree =>
        store.append(changelog, batchId)
    }
  }

  /** MergeTree read-time resolution: batch (arrival) order dominates,
    * event time and action_seq break ties within a batch — the exact
    * order the reference's eager per-batch flush applies. Keeps the
    * `_batch` column so compacted bases and fresh deltas share a schema.
    */
  private def mergeTreeResolve(log: DataFrame, keys: SinkKeys): DataFrame = {
    // a log written by `etl` alone predates any batch — treat it as batch 0
    val withBatch =
      if (log.columns.contains("_batch")) log else log.withColumn("_batch", lit(0L))
    SinkStrategy.replacingResolve(withBatch,
      SinkKeys(keys.pkCols, versionCol = "_batch",
        tieBreakers = keys.versionCol +: keys.tieBreakers))
  }

  /** Read-time view of a table's current state, per engine (SURVEY §7.3). */
  def currentState(t: TableSync, store: ParquetStateStore): Option[DataFrame] = {
    val keys = keysFor(t)
    t.engine match {
      case Engine.MergeTree =>
        store.readLog().map(mergeTreeResolve(_, keys).drop("_batch"))
      case Engine.ReplacingMergeTree =>
        store.readLog().map(SinkStrategy.replacingResolve(_, keys))
      case Engine.CollapsingMergeTree =>
        store.readLog().map(SinkStrategy.collapsingResolve(_, keys))
      case Engine.VersionedCollapsingMergeTree =>
        store.readLog().map(SinkStrategy.versionedCollapsingResolve(_, keys))
    }
  }

  /** K4 — apply DDL events (action="query") carried in the stream: the
    * values field holds the source ALTER statement; it is translated with
    * [[graft.ddl.AlterParser]] and applied via the supplied callback
    * (spark.sql for catalog tables, JDBC for external sinks). Parse
    * failures are dropped with a log line, like the reference
    * (synch/reader/mysql.py:167-171).
    */
  def applyDdl(batch: DataFrame, db: String,
               runDdl: String => Unit, skipError: Boolean): Seq[(String, Long, String)] =
    applyDdl(collectDdl(batch, db), db, runDdl, skipError)

  /** Schema `db`'s DDL statements from a batch, in event order (see
    * [[collectDdlAll]]). */
  private[run] def collectDdl(batch: DataFrame, db: String): Seq[(String, Long)] =
    collectDdlAll(batch).getOrElse(db, Nil)

  /** Stamp the source-order tiebreak columns unless the caller already
    * did. MUST run on the un-cached plan: `input_file_name()` over an
    * InMemoryTableScan evaluates to "" (the consume loop stamps before
    * its `.cache()` for exactly this reason). Non-file sources get a
    * constant "" file and fall back to the monotonic id alone. */
  private[run] def stampSourceOrder(batch: DataFrame): DataFrame =
    if (batch.columns.contains("_src_file")) batch
    else batch.withColumn("_src_file", input_file_name())
      .withColumn("_src_seq", monotonically_increasing_id())

  /** Every schema's DDL statements from a batch, in event order — the one
    * driver-side materialization of the K4 path. The consume loop runs it
    * once per micro-batch (vs one filter+collect job per schema, which
    * showed up as N sequential driver round-trips per trigger on
    * multi-schema pipelines).
    *
    * One Spark job: the filter and the collect. DDL rows are rare (one per
    * ALTER, never data), so they are sorted on the driver by
    * [[ddlOrder]] — a SQL `orderBy` would add a range-partition sample
    * job and a shuffle-map job per call.
    *
    * Binlog timestamps are second-coarse and every DDL row carries
    * action_seq 0, so `event_unixtime` alone leaves same-second ALTERs
    * (ADD then MODIFY of one column) at the mercy of partition order —
    * the file scan packs partitions in SIZE order, not staged order. The
    * tiebreak is (source file name, `monotonically_increasing_id()`),
    * both stamped BEFORE the filter (see [[stampSourceOrder]]): staged
    * file names carry the chronological order (the Redis bridge
    * zero-pads entry ids into them), and within a file the monotonic id
    * follows read order even across split chunks (chunk offsets map to
    * partition indexes in order). Downstream consumers (`evolveTable`,
    * `tableChangelog`, `renamesIn`) re-sort with Scala's STABLE
    * `sortBy(_._2)`, and `groupBy` preserves encounter order within each
    * schema, so the refined order threads through untouched. */
  private[run] def collectDdlAll(batch: DataFrame): Map[String, Seq[(String, Long)]] =
    stampSourceOrder(batch)
      .filter(col("action") === "query")
      .select(col("schema"), col("values"), col("event_unixtime"),
        col("_src_file"), col("_src_seq"))
      .collect().toSeq
      .sorted(ddlOrder)
      .groupBy(_.getString(0))
      .map { case (db, rows) =>
        db -> rows.map(r => (r.getString(1), r.getLong(2)))
      }

  /** Ascending (`event_unixtime`, `_src_file`, `_src_seq`) over
    * [[collectDdlAll]]'s rows, nulls first — the total order Spark's
    * `orderBy` of the same keys gives. The file name compares as UTF-8
    * bytes ([[UTF8String]]), as Spark compares strings; `String`'s
    * UTF-16 order differs above the BMP. */
  private val ddlOrder: Ordering[Row] = {
    implicit val utf8: Ordering[UTF8String] = (a, b) => a.compareTo(b)
    def long(r: Row, i: Int) = Option(r.getAs[java.lang.Long](i)).map(_.longValue)
    Ordering.by((r: Row) =>
      (long(r, 2), Option(r.getString(3)).map(UTF8String.fromString), long(r, 4)))
  }

  /** Statement-list form of [[applyDdl]] for callers that already
    * collected the batch's DDL (the consume loop collects once and feeds
    * the apply, the rename compact, and the intra-batch split from it). */
  private[run] def applyDdl(ddls: Seq[(String, Long)], db: String,
                            runDdl: String => Unit, skipError: Boolean): Seq[(String, Long, String)] = {
    // returns (statement, event_unixtime, error) for every statement that
    // was skipped — the caller parks them in the dead-letter table
    ddls.flatMap { case (stmt, eu) =>
      graft.ddl.AlterParser.toSparkSql(db, stmt) match {
        case Some(sql) =>
          try { runDdl(sql); None }
          catch {
            case e: Exception if skipError =>
              System.err.println(s"[consume] skip DDL error: ${e.getMessage}")
              Some((stmt, eu, Option(e.getMessage).getOrElse(e.getClass.getName)))
          }
        case None =>
          System.err.println(s"[consume] unparseable DDL dropped: $stmt")
          Some((stmt, eu, "unparseable"))
      }
    }.toSeq
  }

  /** Stamp a full snapshot as changelog rows (batch-0 inserts), so every
    * store version — the bootstrap base included — is a valid delta for
    * the read-time resolvers. */
  def snapshotAsChangelog(snap: DataFrame): DataFrame =
    snap.withColumn("action", lit("insert"))
      .withColumn("event_unixtime", lit(0L))
      .withColumn("action_seq", lit(2))

  /** C4 — bootstrap: snapshot any table whose store is still empty before
    * the stream starts (reference auto_full_etl, synch/replication/
    * etl.py:27-33). The snapshot lands as version -1: the stream's FIRST
    * micro-batch is id 0, and writing the snapshot as 0 would make the
    * batch-id idempotence silently swallow that batch's events.
    */
  def bootstrap(spark: SparkSession, tables: Seq[TableSync], stateRoot: String,
                snapshots: Map[(String, String), graft.run.FullEtl.Source]): Unit =
    tables.foreach { t =>
      val store = new ParquetStateStore(spark, s"$stateRoot/${t.schema}/${t.table}")
      // keyed by (schema, table): same-named tables in different schemas
      // must not share a snapshot source
      if (store.isEmpty) snapshots.get((t.schema, t.table)).foreach { src =>
        applyBatch(spark, t, store, snapshotAsChangelog(FullEtl.read(spark, src)),
          batchId = -1L)
      }
    }

  /** Compact a table's append-only log (the OPTIMIZE/background-merge
    * analogue) — to a SUFFICIENT state, not the read-time visible one
    * (r16, found by the drain property generator): the base must preserve
    * everything a future arrival still orders against. Concretely:
    *
    *  - MergeTree/Replacing: the per-key winner INCLUDING delete-winner
    *    tombstones ([[SinkStrategy.replacingFold]]) — a tombstone-less
    *    base forgets the delete, and a dead-letter drain replaying an
    *    EARLIER batch below the base resurrects the deleted row;
    *  - Collapsing family: one `sign=+1` row per positive-net group, one
    *    `sign=-1` per negative-net group ([[SinkStrategy.collapsingFold]]),
    *    matching ClickHouse's merge (which keeps uncancelled cancels;
    *    a net of +2 pre-compaction still folds to one row that a single
    *    future -1 cancels). VersionedCollapsing folds per (pk, version)
    *    and keeps EVERY live version — the old top-version-per-pk
    *    truncation left nothing to reveal when a later ordinary cancel
    *    collapsed the top version.
    *
    * Read-time visibility is unchanged — [[currentState]] still filters
    * tombstones and non-positive nets.
    *
    * `pre` is applied to the merged LOG before resolution — the hook
    * store-side schema evolution rides (a column RENAME rewrites the log
    * once, like the target database's in-place RENAME COLUMN; see
    * [[renameTransform]] for why it must run before the resolver).
    */
  def compact(t: TableSync, store: ParquetStateStore,
              pre: DataFrame => DataFrame = identity): Unit =
    store.readLog().map(pre).foreach { log =>
      val keys = keysFor(t)
      val resolved = t.engine match {
        case Engine.MergeTree =>
          // fold WITH _batch so the compacted base and later deltas keep
          // one schema (and arrival order stays total across compactions)
          val withBatch =
            if (log.columns.contains("_batch")) log
            else log.withColumn("_batch", lit(0L))
          SinkStrategy.replacingFold(withBatch,
            SinkKeys(keys.pkCols, versionCol = "_batch",
              tieBreakers = keys.versionCol +: keys.tieBreakers))
        case Engine.ReplacingMergeTree =>
          SinkStrategy.replacingFold(log, keys)
        case Engine.CollapsingMergeTree =>
          SinkStrategy.collapsingFold(log, keys, keys.pkCols)
        case Engine.VersionedCollapsingMergeTree =>
          SinkStrategy.collapsingFold(log, keys, keys.pkCols :+ keys.versionCol)
      }
      store.compact(resolved)
    }

  /** Actual column renames in a batch's DDL, in event order: (table, old,
    * new) per parseable CHANGE statement whose names DIFFER — a same-name
    * CHANGE is MySQL's type-change idiom, not a rename (and feeding it to
    * [[renameTransform]] would coalesce-and-drop the column's data). */
  private[run] def renamesIn(ddls: Seq[(String, Long)]): Seq[(String, String, String)] =
    ddls.sortBy(_._2).flatMap { case (stmt, _) =>
      graft.ddl.AlterParser.parse(stmt) match {
        case Some(graft.ddl.AlterParser.ParsedAlter(tbl,
            graft.ddl.AlterParser.ChangeColumn(o, n, _, _, _, _)))
          if bare(o) != bare(n) => Some((tbl, bare(o), bare(n)))
        case _ => None
      }
    }

  /** Pre-resolve compaction transform for a store-side column rename,
    * applied to the merged LOG (old versions still old-named, the
    * ALTER-carrying batch's delta already new-named after the intra-batch
    * split): each log row carries its value under exactly one of the two
    * names, so coalesce picks it row-wise. Renaming BEFORE resolution is
    * what makes a rename of a PRIMARY KEY column safe — the resolver
    * groups on the new name over uniformly-renamed rows. */
  private[run] def renameTransform(o: String, n: String): DataFrame => DataFrame = { df =>
    val cols = df.columns.toSet
    if (o == n) df
    else if (cols(o) && cols(n)) df.withColumn(n, coalesce(col(n), col(o))).drop(o)
    else if (cols(o)) df.withColumnRenamed(o, n)
    else df
  }

  /** Fold a batch's parseable ALTERs for `t` into the TableSync a restart
    * would be handed: the value schema evolves per [[evolveSchema]], and a
    * rename tracks through `pkCols`/`versionColumn` so key resolution
    * follows the column. The consume loop carries this forward BETWEEN
    * batches of one run — without it, a batch after the ALTER-carrying one
    * would re-parse under the query-start schema and silently null the
    * evolved columns (the exact bug the intra-batch split fixes WITHIN a
    * batch). */
  private[run] def evolveTable(t: TableSync, ddls: Seq[(String, Long)]): TableSync = {
    import graft.ddl.AlterParser._
    val alters = ddls.sortBy(_._2).flatMap(d =>
      parse(d._1).filter(_.table == t.table).map(_.action))
    alters.foldLeft(t) { (cur, a) =>
      val renamed = a match {
        case ChangeColumn(o, n, _, _, _, _) if bare(o) != bare(n) =>
          cur.copy(
            pkCols = cur.pkCols.map(p => if (p == bare(o)) bare(n) else p),
            versionColumn = cur.versionColumn.map(v => if (v == bare(o)) bare(n) else v))
        case _ => cur
      }
      renamed.copy(valueSchema = evolveSchema(renamed.valueSchema, a))
    }
  }

  /** Whether a micro-batch is small enough to run as one partition: its
    * size estimate is at most `spark.sql.files.openCostInBytes`. Spark's
    * own file split never cuts a file smaller than that, so a batch under
    * it has several partitions only because it arrived as several files.
    * Sources without a size statistic estimate `defaultSizeInBytes`
    * (Long.MaxValue) and keep their partitioning. */
  private def fitsOnePartition(batch: DataFrame): Boolean =
    batch.queryExecution.optimizedPlan.stats.sizeInBytes <=
      batch.sparkSession.sessionState.conf.filesOpenCostInBytes

  /** Thread pool for concurrent per-table applies (C5): Spark is
    * thread-safe for concurrent job submission, so T tables become T
    * overlapping jobs per trigger instead of T serial ones — the same
    * fix the reference needs for its serialized per-table flush loop.
    */
  private lazy val applyPool: ExecutionContext =
    ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(16,
        (r: Runnable) => {
          val th = new Thread(r, "graft-apply"); th.setDaemon(true); th
        }))

  /** Start the consume query over a canonical event stream.
    *
    * `compactEvery` > 0 triggers [[compact]] on every table after that
    * many micro-batches — the OPTIMIZE/background-merge analogue that
    * keeps read-time resolution at O(base + recent deltas).
    *
    * `deadLetter`: with skip-error on, park each failing table's slice of
    * the batch (and skipped DDL) in the dead-letter table instead of just
    * logging — see [[DeadLetter]] for the replay contract.
    *
    * A small micro-batch runs as ONE partition (see [[fitsOnePartition]]):
    * the stamped batch is coalesced before the cache, so the DDL collect,
    * the cache fill and each table's apply run one task apiece, every
    * table's `v=<batch>` delta is one part file, and MergeTree's per-key
    * dedup window needs no exchange (a single partition already
    * satisfies its clustering). A batch that arrived as several files
    * would otherwise pay a task, a part file and a shuffle partition per
    * file for no parallel work. Larger batches, and batches without a
    * size estimate (Kafka), keep the source's partitioning.
    */
  def start(spark: SparkSession, events: DataFrame, tables: Seq[TableSync],
            stateRoot: String, checkpoint: String,
            triggerInterval: String = "1 second",
            skipError: Boolean = false,
            ddlSink: Option[String => Unit] = None,
            compactEvery: Int = 0,
            deadLetter: Option[DeadLetter] = None,
            compactionPolicy: Option[SinkStrategy.CompactionPolicy] = None): StreamingQuery = {
    // A rewind crashed between store truncation and checkpoint seek →
    // the stores are truncated but the checkpoint still plans past the
    // target, and batch-id idempotence would silently swallow the replay.
    // Refuse until the operator re-runs the same rewind to completion
    // (Resume.rewind clears the sentinel after its seek).
    Resume.rewindInProgress(spark, stateRoot).foreach { info =>
      throw new IllegalStateException(
        s"consume refused: a rewind is in progress (or crashed " +
          s"mid-mutation) under $stateRoot [${info.trim.replace('\n', ' ')}] — " +
          "re-run the same rewind to completion before restarting consume (RUNBOOK §3)")
    }
    val stores = tables.map(t => t -> new ParquetStateStore(spark, s"$stateRoot/${t.schema}/${t.table}")).toMap
    // Per-table schema carried ACROSS batches of this run: an ALTER in
    // batch k evolves the TableSync every later batch parses and resolves
    // with (on restart this re-seeds from `tables` — the batch replay
    // re-collects its DDL and re-evolves, and evolveSchema is idempotent
    // so a restart that already hands in the widened schema converges).
    // foreachBatch callbacks are serialized per query; TrieMap is belt
    // and braces against a future multi-query share of this map.
    val live = scala.collection.concurrent.TrieMap(tables.map(t => t -> t): _*)
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // source-order tiebreak stamped BEFORE the coalesce and the cache
        // (input_file_name reads "" through an InMemoryTableScan); the
        // canonical event view the appliers see drops the bookkeeping
        // columns
        val stamped = stampSourceOrder(batch)
        val cached =
          (if (fitsOnePartition(batch)) stamped.coalesce(1) else stamped).cache()
        val events = cached.drop("_src_file", "_src_seq")
        try {
          // The batch's DDL statements, collected ONCE across all schemas
          // (tiny: one row per ALTER; the job also fills the cache): they feed
          // the per-table intra-batch split, the K4 apply, and the
          // store-side rename compact below.
          val ddlBySchema: Map[String, Seq[(String, Long)]] = collectDdlAll(cached)
          // Each future catches its own error so the barrier always waits
          // for EVERY table before the cache is released — failing fast
          // would orphan in-flight siblings onto an unpersisted batch.
          val applies = tables.map { t =>
            val tCur = live(t)
            val ddls = ddlBySchema.getOrElse(t.schema, Nil)
            // the changelog is lifted to the batch-END shape, so key
            // resolution must use the batch-END TableSync (a renamed PK
            // column has its new name by the time applyBatch sees rows)
            val tNext = evolveTable(tCur, ddls)
            Future {
              try { applyBatch(spark, tNext, stores(t),
                tableChangelog(events, tCur, ddls), batchId); None }
              catch {
                case e: Exception if skipError =>
                  // C3 skip-error mode: continue with the next table,
                  // parking the failed slice for replay. The slice keeps
                  // the schema's DDL rows REGARDLESS of their table
                  // column — Debezium schema-change documents carry
                  // table="" (the statement names the table instead), and
                  // a table-scoped filter would drop them, breaking the
                  // drain's intra-batch schema split ("parked slices
                  // carry their own DDL rows")
                  System.err.println(s"[consume] skip error on ${t.schema}.${t.table}: ${e.getMessage}")
                  // parked from `cached`, NOT `events`: the slice keeps
                  // its _src_file/_src_seq stamps so the drain's
                  // collectDdl re-sorts same-second ALTERs in the
                  // ORIGINAL staged order — re-stamping a parquet-read
                  // slice would follow part-file layout instead
                  // (DeadLetterSpec pins the replay order)
                  // parked WITH the pre-batch value schema (tCur): the
                  // drain replays each batch under its own recorded
                  // schema — chaining through parked slices alone loses
                  // any ALTER in a batch that applied live BETWEEN two
                  // parks (r13 property-test finding, DeadLetter.record)
                  deadLetter.foreach(_.record(
                    cached.filter(col("schema") === t.schema &&
                      (col("table") === t.table || col("action") === "query")),
                    t.schema, t.table, batchId,
                    Option(e.getMessage).getOrElse(e.getClass.getName),
                    preSync = Some(tCur)))
                  None
                case e: Exception => Some(e)
              }
            }(applyPool)
          }
          val errors = Await.result(Future.sequence(applies)(
            scala.collection.BuildFrom.buildFromIterableOps, applyPool), Duration.Inf).flatten
          errors.headOption.foreach(e => throw e)
          // the schema evolution follows the DDL stream, not per-table
          // apply success: a skip-error'd slice is parked RAW and replays
          // under whatever schema is live at replay time
          tables.foreach { t =>
            val ddls = ddlBySchema.getOrElse(t.schema, Nil)
            if (ddls.nonEmpty) live(t) = evolveTable(live(t), ddls)
          }
          tables.map(_.schema).distinct.foreach { db =>
            val ddls = ddlBySchema.getOrElse(db, Nil)
            ddlSink.foreach { run =>
              val skipped = applyDdl(ddls, db, run, skipError)
              deadLetter.foreach(_.recordDdl(db, skipped, batchId))
            }
            // store-side half of a column RENAME: an external sink (if
            // any) renames in place, but the parquet log keeps old-name
            // versions whose rows would read as null under the new
            // name after the restart — collapse the log to ONE
            // renamed base (atomic compact swap) so pre-rename rows
            // carry their values into the new generation. This runs
            // whether or not a ddlSink is wired: a store-only pipeline
            // (ddlSink = None) suffers the exact same null-read without
            // the compact.
            renamesIn(ddls).foreach { case (tbl, o, n) =>
              tables.filter(t => t.schema == db && t.table == tbl)
                .foreach(t => compact(live(t), stores(t), renameTransform(o, n)))
            }
          }
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
            tables.foreach(t => compact(live(t), stores(t)))
          // size/count-triggered compaction (the OPTIMIZE scheduler):
          // per-table decision, so one hot table compacting doesn't drag
          // every cold table through an O(state) rewrite
          compactionPolicy.foreach { pol =>
            tables.foreach { t =>
              if (SinkStrategy.shouldCompact(stores(t).versionStats(), pol))
                compact(live(t), stores(t))
            }
          }
        } finally cached.unpersist()
        ()
      }
      .start()
  }
}
