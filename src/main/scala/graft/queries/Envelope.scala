package graft.queries

import graft.sources.CdcEnvelopes
import org.apache.spark.sql.functions._
import Shared.{changelog, CL}

/** Source envelope adapters (S1/S2): wal2json and Debezium documents
  * built from the changelog, normalized back to canonical ChangeEvent
  * rows; the oracle builds the expected canonical batch directly. */
object Envelope {

  val specs: Seq[QuerySpec] = Seq(
    // S1/S2 envelope adapters: batch-shape gate for the wal2json
    // normalizer — the changelog is serialized into deterministic
    // wal2json v1 documents (integer cents so the payload round-trips
    // without float-format concerns; decimal/string typing is covered by
    // CdcEnvelopesSpec goldens), then normalized back to canonical
    // ChangeEvent rows. The oracle constructs the expected canonical
    // batch directly, so explode arity, half ordering, oldkeys-vs-new
    // image selection and seq stamping are all hash-checked.
    QuerySpec("envelope_wal2json", (s, dir) => {
      // r16: the document is assembled with concat of casts instead of
      // format_string — java.util.Formatter parses the pattern per row,
      // and the swap is byte-identical (%s = string identity, %d =
      // Long.toString; measured equal on the full changelog, construct
      // 0.64 → 0.39 s, whole query 1.89 → 1.28 s at sf0.1)
      // r17 note (round-16 advisor): the equivalence is data-dependent —
      // concat NULLs the whole document where format_string rendered a
      // null operand as the text "null". Every operand here (tbl, pk,
      // value, ts) is non-null by construction of Changelog.fromEvents
      // over the non-null events fixture, and the oracle hash-gates
      // exactly that; a future nullable changelog column must wrap its
      // operand in coalesce(cast, lit("null")) to keep the old rendering.
      val cents = round(col("value") * 100).cast("long").cast("string")
      val pk = col("pk").cast("string")
      val env = changelog(s, dir).select(col("ts"),
        when(col("action") === "insert", concat(
          lit("""{"change":[{"kind":"insert","schema":"public","table":""""),
          col("tbl"),
          lit("""","columnnames":["pk","value_cents"],"columnvalues":["""),
          pk, lit(","), cents, lit("]}]}")))
        .when(col("action") === "update", concat(
          lit("""{"change":[{"kind":"update","schema":"public","table":""""),
          col("tbl"),
          lit("""","columnnames":["pk","value_cents"],"columnvalues":["""),
          pk, lit(","), cents,
          lit("""],"oldkeys":{"keynames":["pk"],"keyvalues":["""),
          pk, lit("]}}]}")))
        .otherwise(concat(
          lit("""{"change":[{"kind":"delete","schema":"public","table":""""),
          col("tbl"),
          lit("""","oldkeys":{"keynames":["pk","value_cents"],"keyvalues":["""),
          pk, lit(","), cents, lit("]}}]}"))).as("json"))
      CdcEnvelopes.wal2json(env, eventUnixtime = unix_micros(col("ts")))
    },
      // expected canonical batch, built directly: insert halves carry the
      // full image; an update's delete half carries only the oldkeys image
      // {pk}; a delete carries its full oldkeys image
      CL + """,
        |cents AS (
        |  SELECT tbl, action, pk, CAST(round(value * 100, 0) AS BIGINT) AS vc,
        |         epoch_us(ts) AS t
        |  FROM changelog)
        |SELECT 'public' AS "schema", tbl AS "table", 'insert' AS action,
        |       '{"pk":' || pk || ',"value_cents":' || vc || '}' AS "values",
        |       t AS event_unixtime, CAST(2 AS INT) AS action_seq
        |FROM cents WHERE action IN ('insert','update')
        |UNION ALL
        |SELECT 'public', tbl, 'delete',
        |       CASE WHEN action = 'update' THEN '{"pk":' || pk || '}'
        |            ELSE '{"pk":' || pk || ',"value_cents":' || vc || '}' END,
        |       t, CAST(1 AS INT)
        |FROM cents WHERE action IN ('update','delete')""".stripMargin),

    // Debezium envelope → canonical batch, same gate shape: op c/u/d
    // mapping, before/after image selection, ts_ms µs promotion.
    QuerySpec("envelope_debezium", (s, dir) => {
      // r16: concat of casts instead of format_string — same
      // byte-identical swap (and measurement) as envelope_wal2json
      val img = concat(lit("""{"pk":"""), col("pk").cast("string"),
        lit(""","value_cents":"""),
        round(col("value") * 100).cast("long").cast("string"), lit("}"))
      val env = changelog(s, dir).select(concat(
        lit("""{"payload":{"before":"""),
        when(col("action") === "insert", lit("null")).otherwise(img),
        lit(""","after":"""),
        when(col("action") === "delete", lit("null")).otherwise(img),
        lit(""","source":{"db":"cdc","table":""""), col("tbl"),
        lit(""""},"op":""""),
        when(col("action") === "insert", lit("c"))
          .when(col("action") === "update", lit("u")).otherwise(lit("d")),
        lit("""","ts_ms":"""), unix_millis(col("ts")).cast("string"),
        lit("}}")).as("json"))
      CdcEnvelopes.debezium(env)
    },
      // debezium: both halves carry the full row image (variant object keys
      // sort alphabetically: pk < value_cents already); event_unixtime is
      // ts_ms promoted to µs, so µs precision truncates to ms
      CL + """,
        |cents AS (
        |  SELECT tbl, action, pk, CAST(round(value * 100, 0) AS BIGINT) AS vc,
        |         (epoch_us(ts) // 1000) * 1000 AS t
        |  FROM changelog)
        |SELECT 'cdc' AS "schema", tbl AS "table", 'insert' AS action,
        |       '{"pk":' || pk || ',"value_cents":' || vc || '}' AS "values",
        |       t AS event_unixtime, CAST(2 AS INT) AS action_seq
        |FROM cents WHERE action IN ('insert','update')
        |UNION ALL
        |SELECT 'cdc', tbl, 'delete',
        |       '{"pk":' || pk || ',"value_cents":' || vc || '}',
        |       t, CAST(1 AS INT)
        |FROM cents WHERE action IN ('update','delete')""".stripMargin)
  )
}
