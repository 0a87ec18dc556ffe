package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's ✦ operator inventory (SURVEY.md §2) re-expressed as pure
  * `DataFrame => DataFrame` combinators. Every function is engine-agnostic,
  * declarative (Catalyst optimizes/pushes down the predicates), and
  * shuffle-aware: the only shuffles are the keyed dedup (A2) and explicit
  * ordering — everything else is a narrow map/filter that stays inside one
  * whole-stage-codegen span.
  *
  * Naming follows the survey: T# = transform, A# = aggregation-like.
  * Expected input columns (canonical event frame): `schema`, `table`,
  * `action`, `event_unixtime`, `action_seq`, plus arbitrary value columns.
  */
object CdcOps {

  // ---------------------------------------------------------------------
  // T1 — projection * + computed sign column
  // (reference synch/reader/mysql.py:46-50: `SELECT *, toInt8(1) as sign`)
  /** Append a constant sign column for collapsing-engine snapshots. */
  def withSnapshotSign(df: DataFrame, signCol: String = "sign"): DataFrame =
    df.withColumn(signCol, lit(1).cast("tinyint"))

  // ---------------------------------------------------------------------
  // T2 — schema/table filter (pushed down)
  // (reference synch/reader/mysql.py:107-120,146-148)
  /** Keep only configured schemas/tables. A plain Catalyst predicate —
    * pushed into the scan (Kafka partition selection / parquet row-group
    * skip) for free. Empty list = no restriction on that axis.
    */
  def filterTables(df: DataFrame,
                   schemas: Seq[String] = Nil,
                   tables: Seq[String] = Nil,
                   schemaCol: String = "schema",
                   tableCol: String = "table"): DataFrame = {
    val bySchema = if (schemas.isEmpty) lit(true) else col(schemaCol).isin(schemas: _*)
    val byTable = if (tables.isEmpty) lit(true) else col(tableCol).isin(tables: _*)
    df.filter(bySchema && byTable)
  }

  // ---------------------------------------------------------------------
  // T3 — DML-kind filter
  // (reference synch/reader/mysql.py:39-41,100-105,190-191,211-212)
  /** Drop updates/deletes globally (`skipDmls`) or per table. Tables with
    * no usable PK must be listed in both skip sets by the caller (the
    * reference intended this but its guard is dead code — mysql.py:104).
    */
  def filterDml(df: DataFrame,
                skipDmls: Set[String] = Set.empty,
                skipDeleteTables: Set[String] = Set.empty,
                skipUpdateTables: Set[String] = Set.empty,
                tableCol: String = "table",
                actionCol: String = "action"): DataFrame = {
    val a = col(actionCol)
    val t = col(tableCol)
    val dropGlobal =
      (if (skipDmls.contains("delete")) a === "delete" else lit(false)) ||
      (if (skipDmls.contains("update")) a === "update" else lit(false))
    val dropDelete =
      if (skipDeleteTables.isEmpty) lit(false)
      else a === "delete" && t.isin(skipDeleteTables.toSeq: _*)
    val dropUpdate =
      if (skipUpdateTables.isEmpty) lit(false)
      else a === "update" && t.isin(skipUpdateTables.toSeq: _*)
    df.filter(!(dropGlobal || dropDelete || dropUpdate))
  }

  // ---------------------------------------------------------------------
  // T4 — update → delete + insert decomposition
  // (reference synch/reader/mysql.py:189-208)
  /** One update event becomes delete(action_seq=1) then insert(action_seq=2);
    * plain inserts/deletes keep their seq. Narrow op: `explode` of a 1- or
    * 2-element array, no shuffle. When the update's BEFORE image travels in
    * a separate column (wire `old_values`), pass it as `oldValuesCol`: the
    * delete half then carries the before image, falling back to the after
    * image when it is null. Without a before image the single row image is
    * reused for both halves (the reference's Postgres behavior,
    * postgres.py:81-102) — correct for MergeTree/Replacing/Collapsing, but
    * NOT for VersionedCollapsingMergeTree with a version column the update
    * changes: there the delete half must cancel the OLD version, and a
    * same-version delete+insert pair sums to zero instead, silently
    * keeping the stale row. Feed that engine pre-split events (the
    * envelope adapters do) or wire old_values through.
    */
  def splitUpdates(df: DataFrame,
                   actionCol: String = "action",
                   seqCol: String = "action_seq",
                   oldValuesCol: Option[String] = None,
                   valuesCol: String = "values"): DataFrame = {
    val a = col(actionCol)
    // non-DML actions (DDL "query" rows, action_seq 0) pass through
    // untouched — rewriting them to inserts would turn an ALTER statement
    // into a data row and lose it from the DDL path
    val halves = when(a === "update",
        array(lit("delete"), lit("insert")))
      .when(a === "delete", array(lit("delete")))
      .when(a === "insert", array(lit("insert")))
      .otherwise(array(a))
    // pass-through rows keep their incoming seq when the column exists;
    // a changelog without one gets the reference's DDL seq (0) — never
    // reference col(seqCol) blindly: inputs like Changelog.fromEvents
    // carry no action_seq and the unresolved column kills the whole query
    val passThroughSeq = if (df.columns.contains(seqCol)) col(seqCol) else lit(0)
    val half = col("_half")
    val seq = when(half === "delete", 1).when(half === "insert", 2)
      .otherwise(passThroughSeq).as(seqCol)
    val image = oldValuesCol.filter(df.columns.contains).map(old =>
      when(a === "update" && half === "delete", coalesce(col(old), col(valuesCol)))
        .otherwise(col(valuesCol)).as(valuesCol))
    // one projection over the exploded rows (each Dataset step re-runs the
    // analyzer over the whole plan): columns match by the session's
    // resolver and keep their order, and a missing seq column is
    // appended, as withColumn would
    val same = df.sparkSession.sessionState.conf.resolver
    val cols = df.columns.toSeq.map {
      case c if same(c, seqCol) => seq
      case c if same(c, actionCol) => half.as(actionCol)
      case c if same(c, valuesCol) && image.isDefined => image.get
      case c => col(s"`${c.replace("`", "``")}`")
    }
    df.withColumn("_half", explode(halves))
      .select((if (df.columns.exists(same(_, seqCol))) cols else cols :+ seq): _*)
  }

  // ---------------------------------------------------------------------
  // A2 — per-PK last-write-wins dedup
  // (reference synch/writer/merge_tree.py:63-85: buffer dict overwrite)
  /** Collapse N changes per (key, action) to the latest one. The reference
    * does this with an in-memory dict per micro-batch; distributed, it is a
    * keyed shuffle + `row_number`. Total order within a key:
    * (event_unixtime, tieBreaker) — wall-clock µs has ties, so callers pass
    * a monotonic tie-breaker (source offset / event_id).
    */
  def dedupByPk(df: DataFrame,
                pkCols: Seq[String],
                orderCols: Seq[String] = Seq("event_unixtime"),
                extraPartition: Seq[String] = Seq("schema", "table", "action")): DataFrame = {
    val w = Window
      .partitionBy((extraPartition ++ pkCols).map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Skew-resistant two-phase variant of [[dedupByPk]]: a hot key (one PK
    * receiving a large fraction of a batch's updates) would make the
    * single-shuffle window lopsided; here phase 1 reduces each (key, salt)
    * slice to its latest row map-side-ish, phase 2 reduces the ≤`saltBuckets`
    * survivors per key. Same result as dedupByPk for any total order.
    */
  def dedupByPkSalted(df: DataFrame,
                      pkCols: Seq[String],
                      orderCols: Seq[String] = Seq("event_unixtime"),
                      extraPartition: Seq[String] = Seq("schema", "table", "action"),
                      saltBuckets: Int = 16): DataFrame = {
    val keys = extraPartition ++ pkCols
    val ord = struct(orderCols.map(col): _*)
    val payload = struct(df.columns.toSeq.map(col): _*)
    val salted = df.withColumn("_salt",
      pmod(hash(orderCols.map(col): _*), lit(saltBuckets)))
    val phase1 = salted.groupBy((keys.map(col) :+ col("_salt")): _*)
      .agg(max_by(payload, ord).as("_row"), max(ord).as("_ord"))
    val phase2 = phase1.groupBy(keys.map(col): _*)
      .agg(max_by(col("_row"), col("_ord")).as("_row"))
    phase2.select(df.columns.toSeq.map(c => col(s"_row.$c").as(c)): _*)
  }

  // ---------------------------------------------------------------------
  // A3 — sign assignment (collapsing path)
  // (reference synch/writer/collapsing_merge_tree.py:37-58)
  /** delete → sign -1, anything else → +1. Append-only, no dedup. */
  def withCollapsingSign(df: DataFrame,
                         actionCol: String = "action",
                         signCol: String = "sign"): DataFrame =
    df.withColumn(signCol,
      when(col(actionCol) === "delete", -1).otherwise(1).cast("tinyint"))

  // ---------------------------------------------------------------------
  // A4 — apply ordering: deletes before inserts, inserts time-sorted
  // (reference synch/replication/continuous.py:114-135)
  /** Rank events in apply order per table: action_seq first (DDL < delete
    * < insert), then event time, then tie-breaker. Use for deterministic
    * replay inside a micro-batch.
    */
  def applyOrder(df: DataFrame,
                 partitionCols: Seq[String] = Seq("schema", "table"),
                 seqCol: String = "action_seq",
                 orderCols: Seq[String] = Seq("event_unixtime")): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy((seqCol +: orderCols).map(col): _*)
    df.withColumn("apply_rank", row_number().over(w))
  }

  /** [[applyOrder]] with a DISTRIBUTED rank — identical `apply_rank`
    * values, different plan: `partitionBy(table)` puts each table's
    * whole changelog into ONE window task (a few tables × millions of
    * events = a 1000-executor cluster idling on 4 sorts; measured 7.2 s
    * at sf10 on local[32]), whereas this is the bucket-prefix-sum shape
    * [[CorpusOps.selectByBudget]] established: range-bucket the leading
    * order column (monotone, so buckets are a prefix-consistent
    * coarsening of the total order), compute per-(partition, seq,
    * bucket) offsets with a window over the TINY count table (≤ tables ×
    * seqs × nBuckets rows), then rank inside each bucket in parallel and
    * add the offset. One extra narrow count pass buys nBuckets-way sort
    * parallelism.
    *
    * Ties at bucket boundaries are safe: equal keys land in the same
    * bucket by construction.
    *
    * EAGER, unlike [[applyOrder]]: building the returned frame runs one
    * small Spark job over the input (min/max/count of the leading order
    * column, to place the range buckets), so the input is evaluated twice
    * — callers composing lazy pipelines should checkpoint/cache upstream
    * or use the window form. When the stats pass finds a null or
    * non-numeric leading order column, this falls back to [[applyOrder]]
    * (single-task-per-table window, nulls-first) instead of failing —
    * identical ranks, the old tolerance, just without the parallel sort.
    */
  def applyOrderDistributed(df: DataFrame,
                            partitionCols: Seq[String] = Seq("schema", "table"),
                            seqCol: String = "action_seq",
                            orderCols: Seq[String] = Seq("event_unixtime"),
                            nBuckets: Int = 256): DataFrame =
    bucketedRank(df, partitionCols, Seq(seqCol), orderCols, nBuckets) match {
      case None => applyOrder(df, partitionCols, seqCol, orderCols)
      case Some(ranked) => ranked
        .withColumn("apply_rank", col("_rank").cast("int")).drop("_rank")
        // restore the input's column order (the rank join moved keys to
        // the front) so both applyOrder forms are drop-in equal
        .select(df.columns.toSeq.map(col) :+ col("apply_rank"): _*)
    }

  /** Shared bucket-prefix-sum rank: the per-(partition, seq-prefix) ROW
    * NUMBER in (`seqCols`..., `orderCols`...) order, computed without a
    * single-task-per-partition window sort. The leading order column is
    * range-bucketed (monotone ⇒ prefix-consistent with the total order;
    * equal keys share a bucket, so ties never straddle a boundary),
    * per-key counts roll into exclusive offsets via a window over the
    * TINY count table (≤ |partitions| × |seqs| × nBuckets rows,
    * broadcast back), and ranking inside each bucket runs in parallel.
    * Returns None when the input can't be range-bucketed — empty, a
    * non-numeric/timestamp leading order column, or nulls in it (the
    * bucket formula has no null slot) — so callers fall back to their
    * window form, which tolerates all three; otherwise Some(input plus a
    * `_rank` long column, key columns first).
    */
  private def bucketedRank(df: DataFrame, partitionCols: Seq[String],
                           seqCols: Seq[String], orderCols: Seq[String],
                           nBuckets: Int): Option[DataFrame] = {
    require(nBuckets > 0, "nBuckets must be positive")
    // static type gate first: casting a non-numeric column to double for
    // the stats pass would itself throw under ANSI semantics
    val bucketable = df.schema.fields.find(_.name == orderCols.head)
      .map(_.dataType).exists {
        case _: org.apache.spark.sql.types.NumericType => true
        case org.apache.spark.sql.types.TimestampType => true
        case _ => false
      }
    if (!bucketable) return None
    val ord = col(orderCols.head).cast("double")
    val stats = df.agg(min(ord).as("_lo"), max(ord).as("_hi"),
      count(lit(1)).as("_n"), count(ord).as("_nonnull")).head()
    if (stats.getLong(2) == 0L) return None
    if (stats.getLong(2) != stats.getLong(3)) return None
    val lo = stats.getDouble(0)
    val span = math.max(stats.getDouble(1) - lo, 0.0) + 1.0
    val bucket = least(floor((ord - lit(lo)) * nBuckets / lit(span)),
      lit(nBuckets - 1)).cast("int")
    val keyCols = partitionCols ++ seqCols :+ "_b"
    val withB = df.withColumn("_b", bucket)
    val counts = withB.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_cnt"))
    val wOff = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(seqCols.map(col) :+ col("_b"): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("_off", coalesce(sum(col("_cnt")).over(wOff), lit(0L)))
      .drop("_cnt")
    val wLoc = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    // NULL-SAFE join: schema/table/seq keys can be null (the wire only
    // guarantees a non-null action), and an EqualTo join would silently
    // DROP those rows — the window fallback ranks them nulls-first, and
    // this form must stay row-identical to it
    val off = offsets.select(
      keyCols.map(c => col(c).as(s"_o_$c")) :+ col("_off"): _*)
    val cond = keyCols.map(c => col(c) <=> col(s"_o_$c")).reduce(_ && _)
    Some(withB.join(broadcast(off), cond)
      .drop(keyCols.map(c => s"_o_$c"): _*)
      .withColumn("_rank", col("_off") + row_number().over(wLoc))
      .drop("_b", "_off"))
  }

  // ---------------------------------------------------------------------
  // A1 — micro-batch trigger modeling (count OR time)
  // (reference synch/replication/continuous.py:60-66,96-100)
  /** Assign a batch id per partition key: events are batched in arrival
    * order, `insertNum` per batch. In the streaming engine this is
    * `Trigger.ProcessingTime` + `maxOffsetsPerTrigger`; as a batch operator
    * it makes the trigger semantics testable.
    *
    * EAGER like [[applyOrderDistributed]]: building the frame runs one
    * stats job over the input to place the rank buckets (input evaluated
    * twice). Nulls / a non-numeric order column fall back to the
    * per-table window rank (nulls-first) rather than failing.
    */
  def microBatchId(df: DataFrame,
                   insertNum: Int,
                   partitionCols: Seq[String] = Seq("schema", "table"),
                   orderCols: Seq[String] = Seq("event_unixtime")): DataFrame =
    // distributed rank (see bucketedRank): per-table windows would
    // serialize each table's whole changelog into one sort task
    bucketedRank(df, partitionCols, Nil, orderCols, 256) match {
      case None =>
        val w = Window.partitionBy(partitionCols.map(col): _*)
          .orderBy(orderCols.map(col): _*)
        df.withColumn("batch_id", graft.functions.IntMath.floorDiv(
          row_number().over(w).cast("long") - 1L, insertNum.toLong))
      case Some(ranked) => ranked
        .withColumn("batch_id",
          graft.functions.IntMath.floorDiv(col("_rank") - 1L, insertNum.toLong))
        .drop("_rank")
        .select(df.columns.toSeq.map(col) :+ col("batch_id"): _*)
    }

  // ---------------------------------------------------------------------
  // T6 — bytes/JSON normalization (synch/reader/__init__.py:59-71)
  /** Decode binary columns to UTF-8 strings and re-serialize nested
    * struct/map columns (MySQL JSON) as JSON strings — the canonical
    * row-image form the wire schema expects. */
  def normalizeValues(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.BinaryType =>
          d.withColumn(f.name, col(f.name).cast("string"))
        case _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.MapType =>
          d.withColumn(f.name, to_json(col(f.name)))
        case _ => d
      }
    }

  // ---------------------------------------------------------------------
  // T7 — decimal stringify (`skip_decimal`, synch/writer/__init__.py:113-123)
  /** Compat flag for the reference's ClickHouse decimal-inference
    * workaround: render every decimal column as its exact string form.
    * Our TypeMap carries precision/scale end-to-end, so this is opt-in
    * compatibility, not a correctness requirement.
    */
  def stringifyDecimals(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case _: org.apache.spark.sql.types.DecimalType =>
          d.withColumn(f.name, col(f.name).cast("string"))
        case _ => d
      }
    }

  // ---------------------------------------------------------------------
  // A5 — count verification (`synch check`, synch/cli.py:94-110)
  /** Compare row counts of two sides; one row per table. */
  def countCheck(pairs: Seq[(String, DataFrame, DataFrame)]): DataFrame = {
    val spark = pairs.headOption.map(_._2.sparkSession)
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession)
      .getOrElse(throw new IllegalStateException("no active SparkSession"))
    import spark.implicits._
    pairs.map { case (name, src, tgt) =>
      val s = src.count(); val t = tgt.count()
      (name, s, t, s == t)
    }.toDF("tbl", "source_count", "target_count", "matches")
  }
}
