package graft

import graft.config.SyncConfig
import graft.model.Engine
import graft.ops.CdcOps
import graft.run._
import graft.sink.ParquetStateStore
import graft.streaming.EventSource
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** CLI entry point mirroring the reference's commands and selectors
  * (`synch --alias A {etl|produce|consume|check} --schema S -t T --renew
  * --last-msg-id M`, synch/cli.py:21-110) over the typed [[SyncConfig]].
  *
  * Source URLs decide the transport: `jdbc:*` → partitioned JDBC;
  * `parquet:<dir>` → parquet directory (hermetic runs). The produce/
  * consume broker is a directory of ChangeEvent JSON (`file:<dir>`), a
  * Kafka bootstrap (`kafka:<servers>/<topic>`), or the reference's
  * default Redis-Streams broker (`redis:` — host/port/db/password/prefix
  * from the config's `redis:` section; `redis:<host>:<port>` overrides
  * host and port).
  *
  * Usage:
  * `graft.Main <etl|produce|consume|check|rewind> <config> [broker|checkpoint]
  *  [stateRoot] [lastBatchId] [--alias=A] [--schema=S] [--table=t1,t2]
  *  [--renew] [--last-batch=N]`
  */
object Main {

  def loadProps(path: String): Map[String, String] = {
    val p = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    try p.load(in) finally in.close()
    p.asScala.toMap
  }

  /** S5 — the sync key: explicit config beats catalog discovery beats a
    * loud first-column fallback (parquet stand-ins have no catalog).
    * Never a silent guess: discovery reads the source's real PK, composite
    * keys included, in key-sequence order.
    */
  def syncPk(src: graft.config.SourceConfig, db: String,
             t: graft.config.TableConfig,
             schema: org.apache.spark.sql.types.StructType): Seq[String] =
    graft.sources.PkDiscovery.resolve(
      t.pk,
      if (src.url.startsWith("jdbc:"))
        graft.sources.PkDiscovery.forJdbc(jdbcUrl(src, db), src.user, src.password,
          if (src.dbType == "postgres") Some("public") else Some(db), t.table)
      else Nil,
      schema.fieldNames.toSeq, s"$db.${t.table}")

  /** Postgres JDBC scopes a connection to ONE database, so the configured
    * database must ride in the URL path (`jdbc:postgresql://host:port/<db>`)
    * — the reference connects per-database the same way
    * (synch/reader/postgres.py). A URL that already names a database is
    * kept as-is. MySQL URLs need no path; `db.table` selects the database.
    */
  def jdbcUrl(cfg: graft.config.SourceConfig, db: String): String =
    if (cfg.dbType == "postgres") {
      val (base, query) = cfg.url.span(_ != '?')
      val hostPart = base.stripPrefix("jdbc:postgresql://").stripSuffix("/")
      if (hostPart.contains("/")) cfg.url
      else s"${base.stripSuffix("/")}/$db$query"
    } else cfg.url

  /** The relation name the JDBC reader sees: Postgres resolves `a.b` as
    * schema `a` INSIDE the connected database, so qualify with the actual
    * schema (public) — the database is already in the URL. MySQL treats
    * the qualifier as the database, matching the reference's `db.table`.
    */
  def dbtable(cfg: graft.config.SourceConfig, db: String, table: String): String =
    if (cfg.dbType == "postgres") s"public.$table" else s"$db.$table"

  def source(cfg: graft.config.SourceConfig, db: String, table: String): FullEtl.Source =
    if (cfg.url.startsWith("parquet:"))
      FullEtl.ParquetSource(s"${cfg.url.stripPrefix("parquet:")}/$table.parquet")
    else FullEtl.JdbcSource(jdbcUrl(cfg, db), dbtable(cfg, db, table),
      cfg.user, cfg.password, partitionColumn = None)

  /** [[source]] wired for the actual SCAN: a numeric leading PK drives
    * FullEtl's two-phase partitioned read (32 range scans), which is the
    * whole point of the Spark-native snapshot path — without it every
    * etl/bootstrap/check pulls the production table over ONE JDBC
    * connection. Schema reads stay on the plain source (metadata only). */
  def scanSource(cfg: graft.config.SourceConfig, db: String, table: String,
                 pk: Seq[String],
                 schema: org.apache.spark.sql.types.StructType): FullEtl.Source =
    source(cfg, db, table) match {
      case j: FullEtl.JdbcSource =>
        val numericPk = pk.headOption.filter(c =>
          schema.fields.find(_.name == c).map(_.dataType)
            .exists(_.isInstanceOf[org.apache.spark.sql.types.NumericType]))
        j.copy(partitionColumn = numericPk)
      case s => s
    }

  /** Redis-Streams broker from the CLI arg + config: `redis:` uses the
    * config's `redis:` section host/port (the reference's layout);
    * `redis:<host>:<port>` overrides them. prefix / db / password /
    * queue_max_len always come from the config.
    */
  def redisBroker(uri: String, cfg: SyncConfig,
                  alias: String): graft.streaming.RedisBroker = {
    val rc = cfg.redis
    val rest = uri.stripPrefix("redis").stripPrefix(":")
    val (host, port) =
      if (rest.isEmpty) (rc.host, rc.port)
      else {
        val i = rest.lastIndexOf(':')
        if (i < 0) (rest, rc.port)
        else (rest.substring(0, i), rest.substring(i + 1).toInt)
      }
    new graft.streaming.RedisBroker(host, port, alias, rc.prefix,
      rc.queueMaxLen, rc.db, rc.password)
  }

  /** Broker transport from the CLI arg: `kafka:<servers>/<topic>` → Kafka
    * (count cap = core.insert_num, the A1 contract); `redis:[host:port]`
    * → the Redis-Streams transport, polled into staged wire-JSON files
    * by a daemon thread (a Redis stream is one totally-ordered key, so
    * the poll is inherently serial — see [[graft.streaming.RedisBroker]])
    * with `EventSource.files` owning Spark-side checkpointing; anything
    * else is a JSON-event directory.
    *
    * `aliasSchemas`: EVERY selected source's (alias, schema) pairs — the
    * reference keys its streams per source alias, and a consume over a
    * multi-source config must drain every alias (polling only the first
    * would silently starve the other sources' tables forever). Each alias
    * stages into its own subdirectory — staged-file names are
    * schema+entry-id derived and two aliases can share a schema name.
    */
  def eventStream(spark: SparkSession, broker: String, cfg: SyncConfig,
                  aliasSchemas: Seq[(String, String)] = Nil,
                  stagingDir: String = "/tmp/graft_redis_staging"): org.apache.spark.sql.DataFrame =
    if (broker.startsWith("kafka:")) {
      val rest = broker.stripPrefix("kafka:")
      val slash = rest.lastIndexOf('/')
      require(slash > 0, s"kafka broker must be kafka:<servers>/<topic>: $broker")
      EventSource.kafka(spark, rest.substring(0, slash), rest.substring(slash + 1),
        maxOffsetsPerTrigger = cfg.maxOffsetsPerTrigger)
    } else if (broker == "redis" || broker.startsWith("redis:")) {
      require(aliasSchemas.nonEmpty,
        "redis broker needs at least one (alias, schema) to poll")
      // fresh connection per poll cycle: a broken socket heals on the
      // next cycle instead of killing the stream; the staged-file names
      // are entry-id-derived, so a re-poll after a crashed commit
      // overwrites identical content (at-least-once, absorbed downstream)
      val pollMs = math.max(500L, cfg.core.insertIntervalSec * 1000L / 4)
      val byAlias = aliasSchemas.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      val poller = new Thread(() => {
        while (true) {
          byAlias.foreach { case (a, schemas) =>
            try {
              val b = redisBroker(broker, cfg, a)
              try schemas.foreach(s =>
                b.drainToStaging(s, s"$stagingDir/$a", cfg.core.insertNum))
              finally b.close()
            } catch {
              case e: Exception =>
                System.err.println(s"[redis] poll of alias $a failed (will retry): ${e.getMessage}")
            }
          }
          Thread.sleep(pollMs)
        }
      }, "graft-redis-poller")
      poller.setDaemon(true)
      poller.start()
      EventSource.files(spark, s"$stagingDir/*")
    } else EventSource.files(spark, broker.stripPrefix("file:"))

  def main(args: Array[String]): Unit = {
    SettleGuard.install()
    // `--key=value` / `--flag` selectors can appear anywhere; positionals
    // keep their order (mode, config, broker/checkpoint, stateRoot, ...).
    // The reference's short `-t T` is accepted as an alias for --table
    // (both `-t orders` and `-t=orders`); any other single-dash arg is
    // rejected rather than silently consumed as a positional.
    val expanded = args.toSeq.foldLeft(Vector.empty[String]) {
      case (acc, "-t") => acc :+ "--table" // value folds in on the next arg
      case (acc, a) if a.startsWith("-t=") => acc :+ s"--table=${a.drop(3)}"
      case (acc, a) if a.startsWith("-") && !a.startsWith("--") =>
        sys.error(s"unknown flag $a (did you mean -$a or --${a.stripPrefix("-")}?)")
      case (acc, a) if acc.lastOption.contains("--table") =>
        // a flag here means -t had no value — fail loud, never fold a
        // flag into the table list or let a bare --table parse as "true"
        if (a.startsWith("-")) sys.error(s"-t requires a table list, got $a")
        acc.init :+ s"--table=$a"
      case (acc, a) => acc :+ a
    }
    if (expanded.lastOption.contains("--table"))
      sys.error("-t requires a table list value")
    val (flagArgs, pos) = expanded.partition(_.startsWith("--"))
    val flags: Map[String, String] = flagArgs.map { f =>
      val kv = f.stripPrefix("--").split("=", 2)
      kv(0) -> (if (kv.length > 1) kv(1) else "true")
    }.toMap
    // --renew=false must NOT renew: boolean flags are true only when bare
    // or explicitly truthy
    def boolFlag(name: String): Boolean = flags.get(name).exists(_ != "false")
    require(pos.length >= 2,
      "usage: Main <etl|produce|consume|check|rewind|streams|corpus> <config|docsParquet> " +
        "[broker|checkpoint|outDir] [stateRoot] [lastBatchId] [--alias=A] " +
        "[--schema=S] [--table=t1,t2] [--renew] [--last-batch=N]")
    val mode = pos(0)
    // Reject-loudly, PER MODE (r14 review): the old global known-flag set
    // accepted mode-irrelevant flags — `consume --renew` validated and
    // was silently ignored, the exact skipped-rewind/surprise-resnapshot
    // class the check exists to prevent, one level up from typos.
    val modeFlags: Map[String, Set[String]] = Map(
      "etl" -> Set("alias", "schema", "table", "renew"),
      "check" -> Set("alias", "schema", "table"),
      "consume" -> Set("alias", "schema", "table", "last-batch"),
      "rewind" -> Set("last-batch"),
      "produce" -> Set("alias"),
      "streams" -> Set("alias", "upgrade"),
      "corpus" -> Set("shards", "min-tokens", "rates", "eval", "paragraph-sep"))
    // fail-CLOSED (meta review): a future mode added to the match but
    // forgotten here must not skip flag validation entirely
    val allowedFlags = modeFlags.getOrElse(mode, sys.error(
      s"unknown mode $mode (known: ${modeFlags.keys.toSeq.sorted.mkString(", ")})"))
    flags.keys.foreach(k => require(allowedFlags(k),
      s"--$k is not valid for mode '$mode' (allowed: " +
        s"${allowedFlags.toSeq.sorted.mkString(", ")}); a silently ignored " +
        "flag means a skipped rewind or a surprise re-snapshot"))

    // `corpus` takes a parquet directory, not a sync config — handle it
    // before the config parse
    if (mode == "corpus") {
      require(pos.length >= 3,
        "usage: Main corpus <docsParquet> <outDir> [--shards=N] [--min-tokens=N] " +
          "[--rates=src:rate,...] [--eval=parquetDir] [--paragraph-sep=S]")
      val s = SparkSession.getActiveSession.getOrElse(
        Tables.session(sys.env.getOrElse("SPARK_MASTER", Tables.defaultMaster)))
      val docs = s.read.parquet(pos(1))
      val rates = flags.get("rates")
        .map(_.split(',').toSeq.filter(_.nonEmpty).map { kv =>
          val parts = kv.split(':')
          require(parts.length == 2, s"--rates entries are src:rate, got $kv")
          parts(0) -> parts(1).toDouble
        }.toMap).getOrElse(Map.empty[String, Double])
      val pipelineCfg = graft.run.CorpusPipeline.Config(
        minTokens = flags.get("min-tokens").map(_.toLong).getOrElse(10L),
        paragraphSep = flags.get("paragraph-sep"),
        mixtureRates = rates,
        nShards = flags.get("shards").map(_.toInt).getOrElse(8))
      val report = graft.run.CorpusPipeline.run(docs, pos(2), pipelineCfg,
        flags.get("eval").map(p => s.read.parquet(p)))
      report.foreach(st => println(f"[corpus] ${st.stage}%-16s ${st.rows}"))
      return
    }
    // .yaml/.yml configs use the reference's own synch.yaml shape;
    // anything else is the flat-properties form.
    val cfg =
      if (pos(1).endsWith(".yaml") || pos(1).endsWith(".yml"))
        SyncConfig.fromYaml(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(pos(1))),
          "UTF-8"))
      else SyncConfig.fromProperties(loadProps(pos(1)))
    // `streams`: produce-pin introspection/upgrade — pure broker
    // round-trips, no Spark session. Reports each configured schema's
    // produce-protocol pin state; `--upgrade` retires RUNBOOK §6 waiver
    // #1 per schema by pinning legacy streams' current state (see
    // RedisBroker.pinExistingState for the freeze-window soundness —
    // run with the producer STOPPED).
    if (mode == "streams") {
      require(pos.length >= 3, "usage: Main streams <config> <redis[:host:port]> [--upgrade] [--alias=A]")
      require(pos(2) == "redis" || pos(2).startsWith("redis:"),
        "streams introspects the Redis produce protocol; file/kafka brokers keep no pin records")
      // a typo'd --alias would match no source, run nothing, and print
      // the waiver-retired success line — a silent no-op of exactly the
      // class produce rejects loudly (r15 advisor)
      flags.get("alias").foreach(a =>
        cfg.sources.find(_.alias == a).getOrElse(sys.error(
          s"streams --alias=$a matches no configured source " +
            s"(have: ${cfg.sources.map(_.alias).mkString(", ")})")))
      var legacy = 0
      cfg.sources.filter(s => flags.get("alias").forall(_ == s.alias)).foreach { src =>
        val b = redisBroker(pos(2), cfg, src.alias)
        try src.databases.map(_.database).foreach { schema =>
          val produced = b.producedBatch(schema)
          val pin = b.producedState(schema)
          val digest = b.producedDigest(schema)
          val status =
            if (produced < 0) "never-produced (pins on first produce)"
            else pin match {
              case Some((bid, _, _, _)) if bid == produced => "pinned"
              case Some((bid, _, _, _)) if bid > produced =>
                s"forward-dated pin from a crashed batch-$bid commit (next produce overwrites)"
              case _ =>
                if (boolFlag("upgrade")) b.pinExistingState(schema) match {
                  case Some((bid, f, l, n)) => s"UPGRADED: pinned batch $bid (first=$f last=$l len=$n)"
                  case None => { legacy += 1; "LEGACY (upgrade raced a concurrent change; re-run)" }
                } else { legacy += 1; "LEGACY - waiver #1 applies until one produce cycle or --upgrade" }
            }
          val digestTxt = digest.map(d => s"batch ${d._1}").getOrElse("none")
          println(f"[streams] ${src.alias}%-10s $schema%-16s produced=$produced%-6d " +
            f"digest=$digestTxt%-10s $status")
        } finally b.close()
      }
      if (legacy > 0)
        println(s"[streams] $legacy legacy stream(s) remain - run `Main streams <config> <broker> --upgrade` " +
          "with the producer stopped, or one produce cycle per schema")
      else println("[streams] no legacy streams: waiver #1 fully retired for this config")
      return
    }
    val preexisting = SparkSession.getActiveSession
    val spark = preexisting.getOrElse(
      Tables.session(sys.env.getOrElse("SPARK_MASTER", Tables.defaultMaster)))

    /** A rewind is whole-checkpoint scoped: it truncates every table
      * store under the state root (Resume.rewind discovers them there),
      * so combining it with the CLI selectors would delete unselected
      * tables' versions that a selector-filtered consume never replays.
      * One guard, both rewind entry points (r13 meta-review: two
      * hand-copied guards drift). */
    def refuseSelectors(context: String): Unit =
      Seq("table", "schema", "alias").filter(flags.contains).foreach(f =>
        sys.error(s"$context cannot combine with --$f: the rewind " +
          "truncates every table store under the state root, and a " +
          "selector-filtered consume would never replay the unselected " +
          "tables (see Resume.rewind)"))

    /** The reference's CLI selectors: --alias, --schema, -t/--table. */
    def selected: Seq[(graft.config.SourceConfig, graft.config.DatabaseConfig, graft.config.TableConfig)] =
      for {
        src <- cfg.sources if flags.get("alias").forall(_ == src.alias)
        d <- src.databases if flags.get("schema").forall(_ == d.database)
        t <- d.tables if flags.get("table").forall(_.split(',').contains(t.table))
      } yield (src, d, t)

    def syncTables: Seq[(graft.config.SourceConfig, TableSync)] =
      selected.map { case (src, d, t) =>
        // the reference's own contract (synch.yaml: "need when
        // clickhouse_engine=VersionedCollapsingMergeTree"): that engine
        // collapses BY version, so an unset version_column must fail at
        // config time — BEFORE the per-table source schema read below,
        // so the purely-config-derived refusal costs zero connections —
        // silently resolving on arrival order here while the DDL leg
        // declares a version column would split the two legs' winners
        // (r13 meta-review of 125652f)
        require(t.engine != Engine.VersionedCollapsingMergeTree ||
          t.versionColumn.nonEmpty,
          s"${d.database}.${t.table}: VersionedCollapsingMergeTree requires " +
            "an explicit version_column (the reference marks it 'need when' " +
            "for this engine)")
        val schema = FullEtl.read(spark, source(src, d.database, t.table)).schema
        src -> TableSync(d.database, t.table, schema,
          syncPk(src, d.database, t, schema), t.engine,
          // only a REAL source column can order the resolves; a
          // CONFIGURED name absent from the schema is a misconfig that
          // must fail loudly, not silently fall back to arrival order
          // (r13 review — the silent filter hid exactly the typo the
          // ensureTable guard refuses)
          versionColumn = Some(t.versionColumn).filter(_.nonEmpty).map { v =>
            require(schema.fieldNames.contains(v),
              s"${d.database}.${t.table}: configured version_column '$v' " +
                "is not a column of the source table")
            v
          })
      }

    def deleteDir(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) { fs.delete(p, true); () }
    }

    mode match {
      case "etl" =>
        // The snapshot lands as the store's version -1 changelog delta via
        // the SAME apply path `consume`'s bootstrap uses (engine stamping,
        // recoverCompaction, committed-version idempotence — a hand-rolled
        // parquet write would be invisible behind a pending compaction swap
        // and would silently skip its batch-id check). --renew drops the
        // whole store first (reference `etl --renew`: drop target tables);
        // without it a committed v=-1 makes the re-run a no-op. Manual etl
        // deliberately ignores auto_full_etl: that flag opts a table out of
        // the AUTOMATIC consume-time bootstrap, and this command is exactly
        // the documented manual path for those tables.
        val stateRoot = pos.lift(3).getOrElse("/tmp/graft_state")
        for ((src, sync) <- syncTables) {
          val storePath = s"$stateRoot/${sync.schema}/${sync.table}"
          if (boolFlag("renew")) deleteDir(storePath)
          val store = new ParquetStateStore(spark, storePath)
          val snap = FullEtl.read(spark,
            scanSource(src, sync.schema, sync.table, sync.pkCols, sync.valueSchema))
          Consume.applyBatch(spark, sync, store,
            Consume.snapshotAsChangelog(snap), batchId = -1L)
          // count the WRITTEN store version only — a source count() would
          // scan the production table a second time just for a log line
          val c = store.readVersion(-1L).map(_.count()).getOrElse(0L)
          println(s"[etl] ${sync.schema}.${sync.table}: $c rows")
        }

      case "check" =>
        val stateRoot = pos.lift(3).getOrElse("/tmp/graft_state")
        for ((src, sync) <- syncTables) {
          val store = new ParquetStateStore(spark, s"$stateRoot/${sync.schema}/${sync.table}")
          val sourceDf = FullEtl.read(spark,
            scanSource(src, sync.schema, sync.table, sync.pkCols, sync.valueSchema))
          Consume.currentState(sync, store) match {
            case Some(tgt) =>
              val res = CdcOps.countCheck(Seq((s"${sync.schema}.${sync.table}", sourceDf, tgt)))
              res.show(false)
            case None => println(s"[check] ${sync.schema}.${sync.table}: target missing")
          }
        }

      case "consume" =>
        require(pos.length >= 3, "usage: Main consume <config> <broker> [stateRoot] [--last-batch=N]")
        val stateRoot = pos.lift(3).getOrElse("/tmp/graft_state")
        val byTable = syncTables
        val tables = byTable.map(_._2)
        val ckpt = s"$stateRoot/_checkpoint"
        // --last-batch=N: the reference's `consume --last-msg-id` — rewind
        // before starting so batches > N replay from the broker.
        flags.get("last-batch").foreach { n =>
          refuseSelectors("consume --last-batch")
          Resume.rewind(spark, ckpt, stateRoot, n.toLong)
        }
        // auto_full_etl=false opts a table out of the automatic snapshot
        // (reference synch.yaml semantics) — run `etl` manually for those
        val autoEtl = selected.collect {
          case (_, d, t) if t.autoFullEtl => (d.database, t.table)
        }.toSet
        Consume.bootstrap(spark, tables, stateRoot,
          byTable.collect {
            case (src, t) if autoEtl((t.schema, t.table)) =>
              (t.schema, t.table) ->
                scanSource(src, t.schema, t.table, t.pkCols, t.valueSchema)
          }.toMap)
        val stream = eventStream(spark, pos(2), cfg,
          aliasSchemas = selected.map(x => (x._1.alias, x._2.database)).distinct,
          stagingDir = s"$stateRoot/_redis_staging")
        // skip-error without a dead letter would DISCARD failing slices
        // (the batch commits, idempotence blocks replay) — C3's whole
        // point is that they park for replay instead
        val dl =
          if (cfg.core.skipError) Some(new DeadLetter(spark, s"$stateRoot/_dead_letter"))
          else None
        val q = Consume.start(spark, stream, tables,
          stateRoot, ckpt, triggerInterval = cfg.triggerInterval,
          skipError = cfg.core.skipError, deadLetter = dl)
        Lifecycle.withGracefulShutdown(Seq(q))
        q.awaitTermination()

      // Resume override (reference `synch consume --last-msg-id`):
      // `rewind <config> <checkpoint> <stateRoot> <lastBatchId>` — the next
      // `consume` replays everything after that batch.
      case "rewind" =>
        require(pos.length >= 3, "usage: Main rewind <config> <checkpoint> [stateRoot] [lastBatchId|--last-batch=N]")
        val ckpt = pos(2)
        val stateRoot = pos.lift(3).getOrElse("/tmp/graft_state")
        // no silent default: rewind-to-0 truncates ALL state above batch 0
        // — an operator omitting the id must get an error, not a wipe
        val lastBatch = pos.lift(4).map(_.toLong)
          .orElse(flags.get("last-batch").map(_.toLong))
          .getOrElse(sys.error(
            "rewind requires an explicit batch id (positional or --last-batch=N)"))
        // selectors are already rejected by the per-mode flag check
        // (modeFlags("rewind") = last-batch only) — refuseSelectors here
        // would be dead code; it remains the guard for the one reachable
        // combination, `consume --last-batch` with selectors (consume
        // allows selectors in general, just not with a rewind)
        val removed = Resume.rewind(spark, ckpt, stateRoot, lastBatch)
        println(s"[rewind] dropped ${removed.size} checkpoint entries; " +
          s"state truncated to batch $lastBatch")

      case "produce" =>
        require(pos.length >= 3, "usage: Main produce <config> <broker> [rawDir] [--alias=A]")
        // --alias selects the source whose filters apply (reference: one
        // producer per source alias). On a MULTI-source config the alias
        // is REQUIRED (r14 review): find() silently took the first source
        // and the other sources' events were dropped or mis-filtered by
        // the wrong schema/skip lists — the produce-side twin of the
        // consume-side multi-alias starvation eventStream already fixes.
        // Checked BEFORE any stream construction so the refusal is the
        // first thing a misconfigured operator sees.
        require(cfg.sources.size == 1 || flags.contains("alias"),
          s"produce on a ${cfg.sources.size}-source config requires --alias=" +
            s"<one of: ${cfg.sources.map(_.alias).mkString(", ")}> — one " +
            "producer per source alias (a default pick would silently drop " +
            "the other sources' events)")
        val raw = EventSource.files(spark, pos.lift(3).getOrElse("/tmp/graft_raw"))
        val src = cfg.sources.find(s => flags.get("alias").forall(_ == s.alias))
          .getOrElse(sys.error(
            s"no source matches alias ${flags.getOrElse("alias", "<any>")}"))
        val events = Produce.normalize(raw,
          schemas = src.databases.map(_.database),
          skipDmls = src.skipDmls,
          skipDeleteTables = src.skipDeleteTables,
          skipUpdateTables = src.skipUpdateTables)
        val broker = pos(2)
        val q =
          if (broker.startsWith("kafka:")) {
            val rest = broker.stripPrefix("kafka:")
            val slash = rest.lastIndexOf('/')
            require(slash > 0, s"kafka broker must be kafka:<servers>/<topic>: $broker")
            Produce.toKafka(spark, events, rest.substring(0, slash),
              rest.substring(slash + 1),
              s"/tmp/graft_produce_ckpt/${src.alias}",
              triggerInterval = cfg.triggerInterval)
          } else if (broker == "redis" || broker.startsWith("redis:")) {
            Produce.toRedis(spark, events,
              () => redisBroker(broker, cfg, src.alias),
              s"/tmp/graft_produce_ckpt/${src.alias}",
              triggerInterval = cfg.triggerInterval)
          } else {
            val dir = broker.stripPrefix("file:")
            Produce.toFiles(spark, events, dir, s"$dir/_checkpoint",
              triggerInterval = cfg.triggerInterval)
          }
        Lifecycle.withGracefulShutdown(Seq(q))
        q.awaitTermination()

      case other => sys.error(s"unknown mode $other")
    }
    if ((mode == "etl" || mode == "check" || mode == "rewind") && preexisting.isEmpty)
      spark.stop()
  }
}
