package graft.queries

import graft.Tables
import graft.ops.CdcOps
import org.apache.spark.sql.functions._
import Shared.{t, changelog, dec2, tsUs, CL}

/** CDC operator surface (SURVEY.md §2, ✦ operators): snapshot sign, the
  * table/DML filters and update split (T2–T4, T6–T7), and the apply-side
  * micro-batch, dedup, sign and ordering operators (A1–A5), each over the
  * changelog derived from `events`. */
object Cdc {

  val specs: Seq[QuerySpec] = Seq(
    // S3/T1: full-snapshot scan + computed sign column
    QuerySpec("s3_snapshot_sign", (s, dir) => {
      CdcOps.withSnapshotSign(t(s, dir, "orders"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), tsUs(col("o_orderdate")).as("o_orderdate_us"),
          col("o_orderpriority"), col("sign"))
    },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        | epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority,
        | CAST(1 AS TINYINT) AS sign
        |FROM orders""".stripMargin),

    // T2: schema/table filter (pushed down)
    QuerySpec("t2_filter_tables", (s, dir) => {
      CdcOps.filterTables(changelog(s, dir), tables = Seq("t0", "t1"),
          schemaCol = "tbl", tableCol = "tbl")
        .select(col("event_id"), col("tbl"), col("action"), col("pk"),
          col("value"), tsUs(col("ts")).as("ts_us"))
    },
      CL +
      """
        |SELECT event_id, tbl, action, pk, value, epoch_us(ts) AS ts_us
        |FROM changelog WHERE tbl IN ('t0','t1')""".stripMargin),

    // T3: DML-kind filter
    QuerySpec("t3_filter_dml", (s, dir) => {
      CdcOps.filterDml(changelog(s, dir),
          skipDeleteTables = Set("t1"), skipUpdateTables = Set("t2"),
          tableCol = "tbl")
        .select(col("event_id"), col("tbl"), col("action"), col("pk"),
          col("value"), tsUs(col("ts")).as("ts_us"))
    },
      CL +
      """
        |SELECT event_id, tbl, action, pk, value, epoch_us(ts) AS ts_us
        |FROM changelog
        |WHERE NOT (action = 'delete' AND tbl IN ('t1'))
        |  AND NOT (action = 'update' AND tbl IN ('t2'))""".stripMargin),

    // T4: update → delete+insert decomposition
    QuerySpec("t4_split_updates", (s, dir) => {
      CdcOps.splitUpdates(changelog(s, dir))
        .select(col("event_id"), col("tbl"), col("action"),
          col("action_seq"), col("pk"), col("value"),
          tsUs(col("ts")).as("ts_us"))
    },
      CL +
      """
        |SELECT event_id, tbl, 'delete' AS action, CAST(1 AS INT) AS action_seq,
        |       pk, value, epoch_us(ts) AS ts_us
        |FROM changelog WHERE action IN ('update','delete')
        |UNION ALL
        |SELECT event_id, tbl, 'insert' AS action, CAST(2 AS INT) AS action_seq,
        |       pk, value, epoch_us(ts) AS ts_us
        |FROM changelog WHERE action IN ('update','insert')""".stripMargin),

    // T6: bytes/JSON normalization — binary column decoded to UTF-8,
    // nested struct re-serialized as a JSON string
    QuerySpec("t6_normalize", (s, dir) => {
      val base = changelog(s, dir).select(col("event_id"),
        col("tbl").cast("binary").as("tbl_bin"),
        struct(col("pk"), col("tbl")).as("nested"))
      CdcOps.normalizeValues(base)
        .select(col("event_id"), col("tbl_bin").as("tbl_str"),
          col("nested").as("nested_json"))
    },
      CL +
      """
        |SELECT event_id, tbl AS tbl_str,
        |       to_json(struct_pack(pk := pk, tbl := tbl)) AS nested_json
        |FROM changelog""".stripMargin),

    // T7: skip_decimal compat — decimals rendered as exact strings
    QuerySpec("t7_decimal_stringify", (s, dir) => {
      CdcOps.stringifyDecimals(
          t(s, dir, "orders").select(col("o_orderkey"),
            dec2(col("o_totalprice")).as("price_dec")))
        .select(col("o_orderkey"), col("price_dec").as("price_str"))
    },
      """SELECT o_orderkey,
        |       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str
        |FROM orders""".stripMargin),

    // A1: micro-batch trigger modeling (count cap per table)
    QuerySpec("a1_microbatch", (s, dir) => {
      CdcOps.microBatchId(changelog(s, dir), insertNum = 500,
          partitionCols = Seq("tbl"), orderCols = Seq("ts", "event_id"))
        .groupBy(col("tbl"), col("batch_id"))
        .agg(count(lit(1)).as("n_events"),
          min(tsUs(col("ts"))).as("min_ts_us"),
          max(tsUs(col("ts"))).as("max_ts_us"))
    },
      CL + """,
        |ranked AS (
        |  SELECT tbl, ts,
        |         row_number() OVER (PARTITION BY tbl ORDER BY ts, event_id) AS rn
        |  FROM changelog)
        |SELECT tbl, CAST((rn - 1) // 500 AS BIGINT) AS batch_id,
        |       COUNT(*) AS n_events,
        |       MIN(epoch_us(ts)) AS min_ts_us, MAX(epoch_us(ts)) AS max_ts_us
        |FROM ranked GROUP BY tbl, (rn - 1) // 500""".stripMargin),

    // A2: per-PK last-write-wins dedup
    QuerySpec("a2_dedup_pk", (s, dir) => {
      CdcOps.dedupByPk(changelog(s, dir), pkCols = Seq("pk"),
          orderCols = Seq("ts", "event_id"),
          extraPartition = Seq("tbl", "action"))
        .select(col("tbl"), col("action"), col("pk"), col("value"),
          tsUs(col("ts")).as("ts_us"), col("event_id"))
    },
      CL + """,
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY tbl, action, pk ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM changelog)
        |SELECT tbl, action, pk, value, epoch_us(ts) AS ts_us, event_id
        |FROM ranked WHERE rn = 1""".stripMargin),

    // A2 (skew path): salted two-phase dedup — same semantics as a2_dedup_pk
    QuerySpec("a2_dedup_pk_salted", (s, dir) => {
      CdcOps.dedupByPkSalted(changelog(s, dir), pkCols = Seq("pk"),
          orderCols = Seq("ts", "event_id"),
          extraPartition = Seq("tbl", "action"))
        .select(col("tbl"), col("action"), col("pk"), col("value"),
          tsUs(col("ts")).as("ts_us"), col("event_id"))
    },
      // same contract as a2_dedup_pk — the salted plan must not change results
      CL + """,
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY tbl, action, pk ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM changelog)
        |SELECT tbl, action, pk, value, epoch_us(ts) AS ts_us, event_id
        |FROM ranked WHERE rn = 1""".stripMargin),

    // A3: collapsing sign assignment
    QuerySpec("a3_sign_collapse", (s, dir) => {
      CdcOps.withCollapsingSign(changelog(s, dir))
        .select(col("event_id"), col("tbl"), col("action"), col("pk"),
          col("value"), tsUs(col("ts")).as("ts_us"), col("sign"))
    },
      CL +
      """
        |SELECT event_id, tbl, action, pk, value, epoch_us(ts) AS ts_us,
        |       CAST(CASE WHEN action = 'delete' THEN -1 ELSE 1 END AS TINYINT) AS sign
        |FROM changelog""".stripMargin),

    // A4: apply ordering — deletes before inserts, time-sorted
    QuerySpec("a4_apply_order", (s, dir) => {
      // distributed rank: identical apply_rank to the window form, but
      // bucket-parallel instead of one task per table (see
      // CdcOps.applyOrderDistributed; CdcOpsSpec pins the equivalence)
      CdcOps.applyOrderDistributed(CdcOps.splitUpdates(changelog(s, dir)),
          partitionCols = Seq("tbl"), seqCol = "action_seq",
          orderCols = Seq("ts", "event_id"))
        .select(col("event_id"), col("tbl"), col("action"),
          col("action_seq"), col("pk"), tsUs(col("ts")).as("ts_us"),
          col("apply_rank"))
    },
      CL + """,
        |split AS (
        |  SELECT event_id, tbl, 'delete' AS action, CAST(1 AS INT) AS action_seq,
        |         pk, value, ts
        |  FROM changelog WHERE action IN ('update','delete')
        |  UNION ALL
        |  SELECT event_id, tbl, 'insert' AS action, CAST(2 AS INT) AS action_seq,
        |         pk, value, ts
        |  FROM changelog WHERE action IN ('update','insert'))
        |SELECT event_id, tbl, action, action_seq, pk, epoch_us(ts) AS ts_us,
        |       CAST(row_number() OVER (
        |         PARTITION BY tbl ORDER BY action_seq, ts, event_id) AS INT) AS apply_rank
        |FROM split""".stripMargin),

    // A5: count verification across all tables
    QuerySpec("a5_count_check", (s, dir) => {
      Tables.names.map { name =>
        t(s, dir, name).agg(count(lit(1)).as("n_rows"))
          .select(lit(name).as("tbl"), col("n_rows"))
      }.reduce(_.unionByName(_))
    },
      "SELECT * FROM (" +
        Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
          .map(n => s"SELECT '$n' AS tbl, COUNT(*) AS n_rows FROM $n")
          .mkString(" UNION ALL ") + ")")
  )
}
