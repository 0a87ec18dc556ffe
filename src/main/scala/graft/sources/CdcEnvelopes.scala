package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CDC envelope adapters: wal2json and Debezium payloads → the canonical
  * [[graft.model.ChangeEvent]] wire columns.
  *
  * The reference parses these envelopes imperatively in its readers —
  * wal2json change objects by zipping `columnnames`/`columnvalues` and
  * reading `oldkeys` for deletes (synch/reader/postgres.py:70-126), binlog
  * row images by splitting an update into a delete+insert pair
  * (synch/reader/mysql.py:180-223). Here both are pure DataFrame
  * normalizers: a user fronting the pipeline with a Debezium topic or a
  * wal2json slot maps the raw JSON through one of these and lands on the
  * exact event frame every downstream operator (T2–T8, A1–A5, K1–K6)
  * already consumes.
  *
  * Value typing: the row images are parsed as Spark `VARIANT`, so a JSON
  * number/string/bool survives re-serialization typed (`{"id":1,"x":"a"}`
  * stays typed, never `{"id":"1",...}`) — which keeps the canonical
  * contract that `values` re-parses with the per-table StructType at
  * apply time (Consume.tableChangelog's `from_json`). Two variant
  * canonicalizations are observable and harmless to that contract:
  * numbers normalize (`1.50` → `1.5`) and a whole-object image
  * (Debezium `before`/`after`) serializes its keys sorted.
  *
  * Scale shape: both adapters are a single generator expression per input
  * row (explode of an at-most-2-element array) plus codegen'd JSON
  * projection — map-only, no shuffle, no driver state; they compose with
  * `EventSource`'s streaming frames unchanged.
  */
object CdcEnvelopes {

  /** wal2json message schema (v1 format). `columnvalues`/`keyvalues` are
    * heterogeneous JSON arrays → `array<variant>`. */
  val wal2jsonSchema: String =
    "change array<struct<" +
      "kind string, schema string, table string, " +
      "columnnames array<string>, columnvalues array<variant>, " +
      "oldkeys struct<keynames array<string>, keyvalues array<variant>>>>"

  /** Normalize a frame of wal2json v1 messages (one JSON document per row
    * in `jsonCol`) into canonical ChangeEvent rows.
    *
    * Mapping (reference postgres.py:81-126):
    *   - insert → one `insert` event (values = new image, action_seq 2)
    *   - update → `delete` (action_seq 1) + `insert` (action_seq 2)
    *   - delete → one `delete` event (values = `oldkeys` image, seq 1)
    *   - any other kind (truncate, message) → excluded from the event
    *     stream; [[wal2jsonDropped]] yields those change elements for
    *     dead-letter parking
    *
    * Two deliberate fixes over the reference, both cited:
    *   - postgres.py:72 reads only `change[0]`, silently dropping the rest
    *     of a multi-statement transaction's array; here every element is
    *     exploded.
    *   - postgres.py:87-101 gives the update's delete half the NEW row
    *     image, so an update that changes the PK deletes the wrong row;
    *     here the delete half prefers `oldkeys` (present whenever the
    *     table has REPLICA IDENTITY) and falls back to the new image only
    *     when wal2json omitted it.
    *
    * `eventUnixtime` stamps `event_unixtime` (reference: producer
    * wall-clock µs, postgres.py:92); pass a deterministic column for
    * replay/test use. It may reference columns of `df`.
    */
  /** Column arrays usable by `map_from_arrays`: both absent (delete-only
    * documents carry no new image), or same length with non-null,
    * duplicate-free names. A corrupt document violating this would
    * otherwise THROW inside the projection and kill the whole
    * micro-batch — the C3 principle is that malformed input parks with
    * a trace ([[wal2jsonDropped]]), never takes the stream down. */
  private def saneArrays(names: Column, values: Column): Column =
    (names.isNull && values.isNull) ||
      (names.isNotNull && values.isNotNull &&
        size(names) === size(values) &&
        !exists(names, n => n.isNull) &&
        size(array_distinct(names)) === size(names))

  /** Sanity of one exploded wal2json change element `c`. */
  private def saneChange: Column =
    saneArrays(col("c.columnnames"), col("c.columnvalues")) &&
      (col("c.oldkeys").isNull ||
        saneArrays(col("c.oldkeys.keynames"), col("c.oldkeys.keyvalues")))

  def wal2json(df: DataFrame, jsonCol: String = "json",
               eventUnixtime: Column = unix_micros(current_timestamp())): DataFrame = {
    val newVals = to_json(map_from_arrays(col("c.columnnames"), col("c.columnvalues")))
    val oldVals = to_json(map_from_arrays(col("c.oldkeys.keynames"), col("c.oldkeys.keyvalues")))
    val del = struct(lit("delete").as("action"),
      coalesce(oldVals, newVals).as("values"), lit(1).as("action_seq"))
    val ins = struct(lit("insert").as("action"),
      newVals.as("values"), lit(2).as("action_seq"))
    val halves = when(col("c.kind") === "insert", array(ins))
      .when(col("c.kind") === "update", array(del, ins))
      .when(col("c.kind") === "delete", array(del))
      .otherwise(array().cast("array<struct<action string, values string, action_seq int>>"))
    df.withColumn("_t", eventUnixtime)
      .select(col("_t"), explode(from_json(col(jsonCol), lit(wal2jsonSchema))("change")).as("c"))
      // the filter MUST precede the map_from_arrays projections: an
      // insane element evaluated through them throws; filtered rows are
      // [[wal2jsonDropped]]'s to park
      .filter(coalesce(saneChange, lit(false)))
      .select(col("c.schema").as("schema"), col("c.table").as("table"),
        col("_t").as("event_unixtime"), explode(halves).as("h"))
      .select(col("schema"), col("table"), col("h.action").as("action"),
        col("h.values").as("values"), col("event_unixtime"),
        col("h.action_seq").as("action_seq"))
  }

  /** Debezium envelope schema: `before`/`after` row images as `variant`,
    * with the same fields accepted both under `payload` (JSON converter
    * with schemas enabled) and at the document root (schemas disabled). */
  val debeziumSchema: String = {
    val fields = "before variant, after variant, " +
      "source struct<db string, schema string, table string>, " +
      "op string, ts_ms bigint, databaseName string, ddl string"
    s"payload struct<$fields>, $fields"
  }

  /** Normalize a frame of Debezium change-event JSON documents into
    * canonical ChangeEvent rows.
    *
    * Mapping (public Debezium envelope contract):
    *   - op `c` (create) and `r` (snapshot read) → `insert` of `after`
    *   - op `u` → `delete` of `before` (action_seq 1) + `insert` of
    *     `after` (action_seq 2) — the T4 decomposition the reference
    *     applies to binlog updates (mysql.py:189-208)
    *   - op `d` → `delete` of `before`
    *   - a schema-change document (the connector's schema-change /
    *     history topic: no `op`, a `ddl` string + `databaseName`) →
    *     one `query` event carrying the raw DDL text with action_seq 0,
    *     exactly the canonical form the K4 sink translates and applies
    *     (`graft.run.Consume.applyDdl(ddls, db, runDdl, skipError)`, over
    *     the statements the consume loop collects from each batch) — the
    *     same flow the reference gives binlog QueryEvents (mysql.py:165-172,
    *     replication/continuous.py:156-162)
    *   - anything else (truncate `t`, message `m`, unparseable) →
    *     excluded from the event stream; [[debeziumDropped]] yields
    *     exactly those documents so a pipeline can park them in the
    *     dead-letter store ([[graft.run.DeadLetter.recordDropped]]) —
    *     the reference drops them silently, but truncate is
    *     state-destroying and this engine's C3 principle is that
    *     nothing disappears without a trace
    *
    * `schema` is `source.db` — the reference keys routing on the source
    * database name (postgres.py:84, mysql.py:176). `event_unixtime` is
    * the envelope's `ts_ms` in µs when present, else `fallbackUnixtime`.
    * An update whose `before` image is absent (REPLICA IDENTITY NONE /
    * minimal row image) falls back to `after` for the delete half —
    * matching the reference, which always uses the new image there.
    */
  def debezium(df: DataFrame, jsonCol: String = "json",
               fallbackUnixtime: Column = unix_micros(current_timestamp())): DataFrame = {
    // Parse ONCE into its own projection: every output column reads a
    // field of `m`, and from_json is not "cheap", so CollapseProject will
    // not inline the multiply-referenced alias back into the consumers —
    // without this the Generate stage re-parsed the document per field
    // reference (measured 3.9x this adapter's cost at every scale).
    val parsed = df.select(
      from_json(col(jsonCol), lit(debeziumSchema)).as("m"),
      fallbackUnixtime.as("_fb"))
    val m = col("m")
    def pick(f: String): Column = coalesce(m("payload")(f), m(f))
    val before = pick("before"); val after = pick("after")
    // a JSON `"before": null` parses as a variant-null, not a SQL NULL —
    // both must fall through to the other image
    def imageJson(v: Column, fb: Column): Column =
      when(v.isNull || is_variant_null(v), to_json(fb)).otherwise(to_json(v))
    val del = struct(lit("delete").as("action"),
      imageJson(before, after).as("values"), lit(1).as("action_seq"))
    val ins = struct(lit("insert").as("action"),
      imageJson(after, before).as("values"), lit(2).as("action_seq"))
    val op = pick("op")
    // schema-change documents have no op; the raw DDL string IS the
    // values payload (the K4 contract — the consume loop collects it
    // verbatim and Consume.applyDdl's statement list carries it)
    val ddl = pick("ddl")
    val qry = struct(lit("query").as("action"),
      ddl.as("values"), lit(0).as("action_seq"))
    val halves = when(op.isNull && ddl.isNotNull, array(qry))
      .when(op.isin("c", "r"), array(ins))
      .when(op === "u", array(del, ins))
      .when(op === "d", array(del))
      .otherwise(array().cast("array<struct<action string, values string, action_seq int>>"))
    parsed.select(
        coalesce(pick("source")("db"), pick("databaseName"), lit("")).as("schema"),
        coalesce(pick("source")("table"), lit("")).as("table"),
        coalesce(pick("ts_ms") * 1000L, col("_fb")).as("event_unixtime"),
        explode(halves).as("h"))
      .select(col("schema"), col("table"), col("h.action").as("action"),
        col("h.values").as("values"), col("event_unixtime"),
        col("h.action_seq").as("action_seq"))
  }

  /** The complement of [[debezium]]: every input document the normalizer
    * excludes from the event stream — op `t` (truncate), `m` (logical
    * message), any unknown op, and documents that parse to neither a CDC
    * envelope nor a schema-change document. Columns: `schema` (source db
    * when readable, else ""), `op` (null when absent/unparseable), and
    * the RAW document under `raw` so nothing is lost in translation.
    * Map-only like the normalizer; route the result to
    * [[graft.run.DeadLetter.recordDropped]].
    */
  def debeziumDropped(df: DataFrame, jsonCol: String = "json"): DataFrame = {
    val parsed = df.select(col(jsonCol).as("raw"),
      from_json(col(jsonCol), lit(debeziumSchema)).as("m"))
    val m = col("m")
    def pick(f: String): Column = coalesce(m("payload")(f), m(f))
    val op = pick("op"); val ddl = pick("ddl")
    val handled = op.isin("c", "r", "u", "d") || (op.isNull && ddl.isNotNull)
    parsed.filter(!coalesce(handled, lit(false)))
      .select(coalesce(pick("source")("db"), pick("databaseName"), lit("")).as("schema"),
        op.as("op"), col("raw"))
  }

  /** The complement of [[wal2json]]: change elements with an unhandled
    * kind (truncate/message), plus whole documents that don't parse as
    * wal2json v1 at all (`kind` null, `raw` = the document). One output
    * row per dropped element, carrying the raw source document.
    */
  def wal2jsonDropped(df: DataFrame, jsonCol: String = "json"): DataFrame = {
    val parsed = df.select(col(jsonCol).as("raw"),
      from_json(col(jsonCol), lit(wal2jsonSchema))("change").as("chg"))
    val unparsed = parsed.filter(col("chg").isNull)
      .select(lit(null).cast("string").as("schema"),
        lit(null).cast("string").as("kind"), col("raw"))
    // ONE exploded scan for the whole complement: an element is dropped
    // from [[wal2json]]'s stream iff NOT (handled kind AND sane column
    // arrays) — unknown/absent kinds (isin yields NULL on a missing
    // kind; the coalesce keeps those in the complement) and corrupt
    // arrays (length mismatch, null or duplicate names, which would
    // crash map_from_arrays) land here together
    val rejected = parsed.filter(col("chg").isNotNull)
      .select(col("raw"), explode(col("chg")).as("c"))
      .filter(!coalesce(
        col("c.kind").isin("insert", "update", "delete") && saneChange,
        lit(false)))
      .select(col("c.schema").as("schema"), col("c.kind").as("kind"), col("raw"))
    unparsed.unionByName(rejected)
  }
}
