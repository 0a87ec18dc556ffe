package graft.queries

import graft.ops.CdcOps
import graft.sink.{SinkKeys, SinkStrategy}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Shared.{changelog, tsUs, CL}

/** ClickHouse engine semantics (K5/§7.3): MergeTree eager apply and the
  * Replacing / Collapsing / VersionedCollapsing read-time resolutions,
  * plus the compaction invariant resolve(compact(log)) == resolve(log)
  * over a real [[graft.sink.ParquetStateStore]]. */
object Engine {

  /** Fresh store under ./target for the compaction-invariant queries —
    * scratch stays inside the repo tree and each invocation is isolated.
    * The base dir is wiped once per JVM so repeated bench/verify runs
    * don't accumulate unbounded parquet scratch across sessions. */
  private lazy val tmpStoreBase: java.nio.file.Path = {
    val base = java.nio.file.Paths.get("target", "tmp-stores")
    if (java.nio.file.Files.exists(base)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    java.nio.file.Files.createDirectories(base)
  }
  private def tmpStore(s: SparkSession): graft.sink.ParquetStateStore =
    new graft.sink.ParquetStateStore(
      s, java.nio.file.Files.createTempDirectory(tmpStoreBase, "store").toString)

  val specs: Seq[QuerySpec] = Seq(
    // K5/§7.3: MergeTree eager apply (reference merge_tree.py:60-85 flush:
    // delete-by-touched-PK, then insert survivors) — the whole changelog
    // applied as one batch over empty state must equal the last-state view.
    QuerySpec("engine_mergetree", (s, dir) => {
      val log = changelog(s, dir)
      val empty = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], log.schema)
      SinkStrategy.mergeTreeApply(empty, log,
          SinkKeys(Seq("tbl", "pk"), versionCol = "ts", tieBreakers = Seq("event_id")))
        .select(col("tbl"), col("pk"), col("event_id"), col("action"),
          col("value"), tsUs(col("ts")).as("ts_us"))
    },
      // eager MergeTree apply over the full changelog == last-state view
      CL + """,
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY tbl, pk ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM changelog)
        |SELECT tbl, pk, event_id, action, value, epoch_us(ts) AS ts_us
        |FROM ranked WHERE rn = 1 AND action <> 'delete'""".stripMargin),

    // K5/§7.3: ReplacingMergeTree read-time resolution
    QuerySpec("engine_replacing", (s, dir) => {
      SinkStrategy.replacingResolve(changelog(s, dir),
          SinkKeys(Seq("tbl", "pk"), versionCol = "ts", tieBreakers = Seq("event_id")))
        .select(col("tbl"), col("pk"), col("event_id"), col("action"),
          col("value"), tsUs(col("ts")).as("ts_us"))
    },
      CL + """,
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY tbl, pk ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM changelog)
        |SELECT tbl, pk, event_id, action, value, epoch_us(ts) AS ts_us
        |FROM ranked WHERE rn = 1 AND action <> 'delete'""".stripMargin),

    // K5/§7.3: CollapsingMergeTree read-time resolution
    QuerySpec("engine_collapsing", (s, dir) => {
      val signed = CdcOps.withCollapsingSign(changelog(s, dir))
      SinkStrategy.collapsingResolve(signed,
          SinkKeys(Seq("tbl", "pk"), versionCol = "ts", tieBreakers = Seq("event_id")))
        .select(col("tbl"), col("pk"), col("event_id"), col("action"),
          col("value"), tsUs(col("ts")).as("ts_us"), col("sign"))
    },
      // visible value = latest sign=+1 row; cancels vote in net only
      CL + """,
        |signed AS (
        |  SELECT *, CAST(CASE WHEN action = 'delete' THEN -1 ELSE 1 END AS TINYINT) AS sign
        |  FROM changelog),
        |net AS (SELECT tbl, pk, SUM(CAST(sign AS BIGINT)) AS net FROM signed GROUP BY tbl, pk),
        |latest AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY tbl, pk ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM signed WHERE sign > 0)
        |SELECT l.tbl, l.pk, l.event_id, l.action, l.value,
        |       epoch_us(l.ts) AS ts_us, l.sign
        |FROM latest l JOIN net n ON l.tbl = n.tbl AND l.pk = n.pk
        |WHERE l.rn = 1 AND n.net > 0""".stripMargin),

    // K5/§7.3: VersionedCollapsingMergeTree read-time resolution
    QuerySpec("engine_versioned_collapsing", (s, dir) => {
      val signed = CdcOps.withCollapsingSign(changelog(s, dir))
      SinkStrategy.versionedCollapsingResolve(signed,
          SinkKeys(Seq("tbl", "pk"), versionCol = "ts", tieBreakers = Seq("event_id")))
        .select(col("tbl"), col("pk"), col("event_id"), col("action"),
          col("value"), tsUs(col("ts")).as("ts_us"), col("sign"))
    },
      CL + """,
        |signed AS (
        |  SELECT *, CAST(CASE WHEN action = 'delete' THEN -1 ELSE 1 END AS TINYINT) AS sign
        |  FROM changelog),
        |per_version AS (
        |  SELECT tbl, pk, ts, SUM(CAST(sign AS BIGINT)) AS net,
        |         max_by(struct_pack(event_id := event_id, action := action,
        |                            value := value, sign := sign), sign) AS r
        |  FROM signed GROUP BY tbl, pk, ts),
        |alive AS (
        |  SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY ts DESC) AS rn
        |  FROM per_version WHERE net > 0)
        |SELECT tbl, pk, r.event_id AS event_id, r.action AS action,
        |       r.value AS value, epoch_us(ts) AS ts_us, r.sign AS sign
        |FROM alive WHERE rn = 1""".stripMargin),

    // Compaction invariant (the OPTIMIZE/background-merge analogue): the
    // changelog is appended as micro-batches into a real ParquetStateStore,
    // the log is folded to its resolved state via store.compact, and the
    // compacted store is resolved again. The oracle is the UNcompacted
    // resolve — resolve(compact(log)) == resolve(log) IS the claim.
    QuerySpec("engine_replacing_compact", (s, dir) => {
      val keys = SinkKeys(Seq("tbl", "pk"), versionCol = "ts", tieBreakers = Seq("event_id"))
      val store = tmpStore(s)
      val log = changelog(s, dir)
      for (b <- 0L until 3L)
        store.append(log.filter(pmod(col("event_id"), lit(3)) === b), b)
      store.compact(SinkStrategy.replacingResolve(store.readLog().get, keys))
      SinkStrategy.replacingResolve(store.readLog().get, keys)
        .select(col("tbl"), col("pk"), col("event_id"), col("action"),
          col("value"), tsUs(col("ts")).as("ts_us"))
    },
      // compaction must be invisible to readers: the oracle is the plain
      // uncompacted resolve
      CL + """,
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY tbl, pk ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM changelog)
        |SELECT tbl, pk, event_id, action, value, epoch_us(ts) AS ts_us
        |FROM ranked WHERE rn = 1 AND action <> 'delete'""".stripMargin),

    // Same invariant for the versioned-collapsing engine: compaction
    // rewrites the resolved rows with sign=+1 (the alive row must be
    // cancellable by exactly one future -1, matching ClickHouse merges).
    QuerySpec("engine_versioned_collapsing_compact", (s, dir) => {
      val keys = SinkKeys(Seq("tbl", "pk"), versionCol = "ts", tieBreakers = Seq("event_id"))
      val store = tmpStore(s)
      val signed = CdcOps.withCollapsingSign(changelog(s, dir))
      for (b <- 0L until 3L)
        store.append(signed.filter(pmod(col("event_id"), lit(3)) === b), b)
      store.compact(SinkStrategy.versionedCollapsingResolve(store.readLog().get, keys)
        .withColumn("sign", lit(1).cast(signed.schema("sign").dataType)))
      SinkStrategy.versionedCollapsingResolve(store.readLog().get, keys)
        .select(col("tbl"), col("pk"), col("event_id"), col("action"),
          col("value"), tsUs(col("ts")).as("ts_us"), col("sign"))
    },
      // compaction invariant: same resolve as the uncompacted engine
      CL + """,
        |signed AS (
        |  SELECT *, CAST(CASE WHEN action = 'delete' THEN -1 ELSE 1 END AS TINYINT) AS sign
        |  FROM changelog),
        |per_version AS (
        |  SELECT tbl, pk, ts, SUM(CAST(sign AS BIGINT)) AS net,
        |         max_by(struct_pack(event_id := event_id, action := action,
        |                            value := value, sign := sign), sign) AS r
        |  FROM signed GROUP BY tbl, pk, ts),
        |alive AS (
        |  SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY ts DESC) AS rn
        |  FROM per_version WHERE net > 0)
        |SELECT tbl, pk, r.event_id AS event_id, r.action AS action,
        |       r.value AS value, epoch_us(ts) AS ts_us, r.sign AS sign
        |FROM alive WHERE rn = 1""".stripMargin)
  )
}
