package graft.config

import graft.model.Engine
import org.yaml.snakeyaml.{DumperOptions, LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import org.yaml.snakeyaml.error.{Mark, YAMLException}
import org.yaml.snakeyaml.nodes.{Node, Tag}
import org.yaml.snakeyaml.representer.Representer
import org.yaml.snakeyaml.resolver.Resolver
import scala.jdk.CollectionConverters._

/** Typed sync configuration, mirroring the reference's synch.yaml surface
  * (synch.yaml:1-75; accessors synch/settings.py:33-95). The engine is a
  * library, so configuration is plain case classes, and each default is
  * stated once, as a case-class default that both loaders read:
  * [[SyncConfig.fromYaml]] loads the reference's `synch.yaml` and
  * [[SyncConfig.fromProperties]] the same keys from a flat properties map
  * for CLI-style use.
  *
  * Reference flags with no Spark-side meaning are kept as documented
  * no-ops for config compatibility:
  *  - `skip_decimal` — TypeMap carries precision/scale exactly (§1.3),
  *    so the stringify workaround is opt-in via CdcOps.stringifyDecimals.
  *  - `sentinel*` — Redis-Sentinel failover is an infra concern below
  *    this engine; point `redis.host` at the sentinel-resolved master.
  */
final case class CoreConfig(
    insertNum: Int = 20000,          // events per flush  (synch.yaml:3)
    insertIntervalSec: Int = 60,     // flush interval    (synch.yaml:4)
    skipError: Boolean = false,
    monitoring: Boolean = true)

/** The reference's `redis:` section (synch.yaml:8-20) — used when the
  * broker URI selects the Redis-Streams transport
  * ([[graft.streaming.RedisBroker]]); `queue_max_len` is the XADD
  * `MAXLEN ~` cap with the reference's lossy-FIFO semantics.
  */
final case class RedisConfig(
    host: String = "localhost",
    port: Int = 6379,
    db: Int = 0,
    password: Option[String] = None,
    prefix: String = "synch",
    queueMaxLen: Long = 200000)

final case class TableConfig(
    table: String,
    // ReplacingMergeTree, which both loaders also read for a missing
    // engine (a MergeTree default here once gave programmatic
    // construction different sink semantics than the same config loaded
    // from yaml/properties)
    engine: Engine.Value = Engine.ReplacingMergeTree,
    autoFullEtl: Boolean = true,     // C4 bootstrap     (synch.yaml:47)
    signColumn: String = "sign",
    // "" = unset, the reference's own default (synch.yaml ships
    // `version_column:` EMPTY — "optional" for ReplacingMergeTree). The
    // old "version" default silently resolved on any unrelated source
    // column that happened to be named `version` (r13 review).
    versionColumn: String = "",
    partitionBy: Option[String] = None,
    engineSettings: Option[String] = None,
    skipDecimal: Boolean = false,
    pk: Seq[String] = Nil)           // explicit sync key; empty → S5 discovery

final case class DatabaseConfig(
    database: String,
    tables: Seq[TableConfig])

final case class SourceConfig(
    alias: String,
    dbType: String,                   // "mysql" | "postgres"
    url: String,
    user: String,
    password: String,
    databases: Seq[DatabaseConfig],
    skipDmls: Set[String] = Set.empty,
    skipDeleteTables: Set[String] = Set.empty,
    skipUpdateTables: Set[String] = Set.empty)

final case class SyncConfig(core: CoreConfig, sources: Seq[SourceConfig],
    redis: RedisConfig = RedisConfig()) {
  /** Count-cap + time trigger (operator A1) as stream options. */
  def maxOffsetsPerTrigger: Long = core.insertNum.toLong
  def triggerInterval: String = s"${core.insertIntervalSec} seconds"
}

object SyncConfig {

  private val DefaultDbType = "mysql"

  /** YAML-1.1 booleans, the set PyYAML (the reference's loader) accepts:
    * a reference user's existing `monitoring: yes` must parse. */
  private def bool(key: String)(v: String): Boolean = v.toLowerCase match {
    case "true" | "yes" | "on" | "1" => true
    case "false" | "no" | "off" | "0" => false
    case other => throw new IllegalArgumentException(s"key '$key': not a boolean: '$other'")
  }

  // Each section from a key lookup, shared by both loaders; an absent key
  // takes the case-class default.

  private def coreOf(get: String => Option[String]): CoreConfig = {
    val d = CoreConfig()
    CoreConfig(
      insertNum = get("insert_num").fold(d.insertNum)(_.toInt),
      insertIntervalSec = get("insert_interval").fold(d.insertIntervalSec)(_.toInt),
      skipError = get("skip_error").fold(d.skipError)(bool("skip_error")),
      monitoring = get("monitoring").fold(d.monitoring)(bool("monitoring")))
  }

  private def redisOf(get: String => Option[String]): RedisConfig = {
    val d = RedisConfig()
    RedisConfig(
      host = get("host").getOrElse(d.host),
      port = get("port").fold(d.port)(_.toInt),
      db = get("db").fold(d.db)(_.toInt),
      password = get("password").filter(_.nonEmpty),
      prefix = get("prefix").getOrElse(d.prefix),
      // long: XADD MAXLEN caps above Int.MaxValue are legal
      queueMaxLen = get("queue_max_len").fold(d.queueMaxLen)(_.toLong))
  }

  /** One table; the two formats name the engine and settings keys
    * differently and spell `pk` as a list or a comma list. A missing or
    * empty engine is the default, ReplacingMergeTree (synch.yaml:48
    * "default ReplacingMergeTree"; synch/factory.py:71-72 maps engine None
    * to the Replacing writer). */
  private def tableOf(table: String, get: String => Option[String], engineKey: String,
                      settingsKey: String, pk: Seq[String]): TableConfig = {
    val d = TableConfig(table)
    d.copy(
      engine = get(engineKey).map(_.trim).filter(_.nonEmpty).fold(d.engine)(Engine.withName),
      autoFullEtl = get("auto_full_etl").fold(d.autoFullEtl)(bool("auto_full_etl")),
      signColumn = get("sign_column").getOrElse(d.signColumn),
      versionColumn = get("version_column").getOrElse(d.versionColumn),
      partitionBy = get("partition_by"),
      engineSettings = get(settingsKey),
      skipDecimal = get("skip_decimal").fold(d.skipDecimal)(bool("skip_decimal")),
      pk = pk)
  }

  /** Plain scalars stay text: only `~`, `null` and the empty scalar resolve
    * (to null), and `<<` to a merge key. SnakeYAML's default YAML-1.1
    * typing would read `password: 0123` as 83, `1:20` as 80 (base 60) and
    * `yes` as true; the loaders parse numbers and booleans from the text. */
  private final class TextScalars extends Resolver {
    override protected def addImplicitResolvers(): Unit = {
      addImplicitResolver(Tag.NULL, Resolver.NULL, "~nN\u0000", 10)
      addImplicitResolver(Tag.NULL, Resolver.EMPTY, null, 10)
      addImplicitResolver(Tag.MERGE, Resolver.MERGE, "<", 10)
    }
  }

  /** The safe constructor, noting where each value starts, so a value of
    * the wrong shape is reported at its line and column. */
  private final class Located(opts: LoaderOptions) extends SafeConstructor(opts) {
    val marks = new java.util.IdentityHashMap[AnyRef, Mark]
    override protected def constructObject(node: Node): AnyRef = {
      val o = super.constructObject(node)
      if (o != null) marks.put(o, node.getStartMark)
      o
    }
  }

  /** Loader for the reference's own `synch.yaml` shape (accessors
    * synch/settings.py:33-95), read with SnakeYAML, the YAML library
    * Spark ships, so a reference user can point the engine at their
    * existing config file. Duplicate keys and malformed YAML fail with
    * SnakeYAML's line and column, as does a value of the wrong shape (a
    * scalar where a section, list item or list belongs).
    *
    * The `redis:` section is honored when the broker URI selects the
    * Redis-Streams transport; the remaining transport sections
    * (kafka/clickhouse/mail) configure infrastructure the Spark engine
    * replaces with checkpointed streams and JDBC sinks — they parse
    * fine and are ignored here.
    */
  def fromYaml(text: String): SyncConfig = {
    val opts = new LoaderOptions
    opts.setAllowDuplicateKeys(false)
    val located = new Located(opts)
    val dumper = new DumperOptions
    val root: Any =
      try new Yaml(located, new Representer(dumper), dumper, opts, new TextScalars).load[AnyRef](text)
      catch { case e: YAMLException => throw new IllegalArgumentException(e.getMessage, e) }

    def fail(what: String, v: Any): Nothing = {
      val at = Option(located.marks.get(v)).fold("")(m =>
        s" (line ${m.getLine + 1}, column ${m.getColumn + 1})")
      throw new IllegalArgumentException(s"$what, not '$v'$at")
    }
    def mapping(v: Any, what: String): java.util.Map[_, _] = v match {
      case null => java.util.Map.of()
      case m: java.util.Map[_, _] => m
      case other => fail(s"$what must be a mapping", other)
    }
    def scalar(v: Any, what: String): Option[String] = v match {
      case null => None
      case _: java.util.Map[_, _] | _: java.util.List[_] => fail(s"$what must be a scalar", v)
      case s => Some(s.toString)
    }
    def field(m: java.util.Map[_, _])(key: String): Option[String] = scalar(m.get(key), s"'$key'")
    def list(m: java.util.Map[_, _], key: String): Seq[Any] = m.get(key) match {
      case null => Nil
      case l: java.util.List[_] => l.asScala.toSeq
      case other => fail(s"'$key' must be a list", other)
    }
    def strings(m: java.util.Map[_, _], key: String): Seq[String] =
      list(m, key).flatMap(scalar(_, s"an item of '$key'"))

    val top = mapping(root, "the document")
    val sources = list(top, "source_dbs").map { sv =>
      val s = mapping(sv, "a source_dbs item")
      val get = field(s) _
      val dbType = get("db_type").getOrElse(DefaultDbType)
      val host = get("host").getOrElse("localhost")
      val port = get("port").fold(if (dbType == "postgres") 5432 else 3306)(_.toInt)
      val scheme = if (dbType == "postgres") "postgresql" else dbType
      val databases = list(s, "databases").map { dv =>
        val d = mapping(dv, "a databases item")
        DatabaseConfig(field(d)("database").getOrElse(""), list(d, "tables").map { tv =>
          val t = mapping(tv, "a tables item")
          tableOf(field(t)("table").getOrElse(""), field(t), "clickhouse_engine", "settings",
            strings(t, "pk"))
        })
      }
      SourceConfig(
        alias = get("alias").getOrElse(""),
        dbType = dbType,
        url = get("url").getOrElse(s"jdbc:$scheme://$host:$port"),
        user = get("user").getOrElse(""),
        password = get("password").getOrElse(""),
        databases = databases,
        skipDmls = strings(s, "skip_dmls").toSet,
        skipDeleteTables = strings(s, "skip_delete_tables").toSet,
        skipUpdateTables = strings(s, "skip_update_tables").toSet)
    }
    SyncConfig(coreOf(field(mapping(top.get("core"), "'core'"))), sources,
      redisOf(field(mapping(top.get("redis"), "'redis'"))))
  }

  /** Flat-properties loader, e.g.
    * {{{
    * core.insert_num=20000
    * source.0.alias=mysql_db
    * source.0.db_type=mysql
    * source.0.url=jdbc:mysql://host:3306
    * source.0.database.0=test
    * source.0.database.0.table.0=orders
    * source.0.database.0.table.0.engine=ReplacingMergeTree
    * }}}
    */
  def fromProperties(props: Map[String, String]): SyncConfig = {
    def p(key: String): String = props.getOrElse(key, "")
    def csv(key: String): Seq[String] = p(key).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val sources = Iterator.from(0)
      .takeWhile(i => props.contains(s"source.$i.alias"))
      .map { i =>
        val databases = Iterator.from(0)
          .takeWhile(d => props.contains(s"source.$i.database.$d"))
          .map { d =>
            val tables = Iterator.from(0)
              .takeWhile(t => props.contains(s"source.$i.database.$d.table.$t"))
              .map { t =>
                val base = s"source.$i.database.$d.table.$t"
                tableOf(p(base), k => props.get(s"$base.$k"), "engine", "engine_settings",
                  csv(s"$base.pk"))
              }.toSeq
            DatabaseConfig(p(s"source.$i.database.$d"), tables)
          }.toSeq
        SourceConfig(
          alias = p(s"source.$i.alias"),
          dbType = props.getOrElse(s"source.$i.db_type", DefaultDbType),
          url = p(s"source.$i.url"),
          user = p(s"source.$i.user"),
          password = p(s"source.$i.password"),
          databases = databases,
          skipDmls = csv(s"source.$i.skip_dmls").toSet,
          skipDeleteTables = csv(s"source.$i.skip_delete_tables").toSet,
          skipUpdateTables = csv(s"source.$i.skip_update_tables").toSet)
      }.toSeq
    SyncConfig(coreOf(k => props.get(s"core.$k")), sources,
      redisOf(k => props.get(s"redis.$k")))
  }
}
