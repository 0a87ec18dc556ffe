package graft.model

import org.apache.spark.sql.types._

/** The canonical row-change event — the single IR that flows through the
  * whole engine, mirroring the reference's event dict
  * (synch/reader/mysql.py:180-220, synch/reader/postgres.py:81-126):
  *
  * {{{
  * { "table": str, "schema": str, "action": "insert"|"delete"|"query",
  *   "values": {col -> value}, "event_unixtime": µs, "action_seq": 0|1|2 }
  * }}}
  *
  * `values` travels as a JSON string on the wire (the reference tags
  * datetime/decimal with `_spec_type`, synch/common.py:9-36; we instead
  * rely on an explicit per-table StructType at `from_json` time, so no
  * tagging is needed). `actionSeq` encodes apply order: DDL(0) < delete(1)
  * < insert(2). `eventUnixtime` is producer wall-clock in microseconds and
  * orders inserts within a batch (synch/replication/continuous.py:115-117).
  */
case class ChangeEvent(
    schema: String,
    table: String,
    action: String,
    values: String,
    event_unixtime: Long,
    action_seq: Int,
    old_values: Option[String] = None)

object ChangeEvent {

  /** Wire schema of one serialized event (T8). `old_values` is OPTIONAL
    * (absent on the wire when null — the JSON generator omits null
    * fields): an unsplit `update` event may carry its BEFORE image there,
    * which [[graft.ops.CdcOps.splitUpdates]] gives the delete half —
    * required for VersionedCollapsingMergeTree when the update changes
    * the version column (the -1 row must cancel the OLD version). */
  val wireSchema: StructType = StructType(Seq(
    StructField("schema", StringType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("action", StringType, nullable = false),
    StructField("values", StringType, nullable = true),
    StructField("event_unixtime", LongType, nullable = false),
    StructField("action_seq", IntegerType, nullable = false),
    StructField("old_values", StringType, nullable = true)
  ))
}

/** ClickHouse-style table-engine semantics the sink strategies realize
  * (reference synch/writer modules). */
object Engine extends Enumeration {
  val MergeTree, ReplacingMergeTree, CollapsingMergeTree, VersionedCollapsingMergeTree = Value
}
