package graft.config

import graft.model.Engine
import org.scalatest.funsuite.AnyFunSuite

/** synch.yaml-shaped config loading through SnakeYAML. */
class YamlSpec extends AnyFunSuite {

  test("parses the reference synch.yaml shape into SyncConfig") {
    val yaml =
      """core:
        |  debug: true # prints SQL when on
        |  insert_num: 500
        |  insert_interval: 5
        |  monitoring: true
        |
        |redis:
        |  host: cache-host
        |  port: 6379
        |  password:
        |  sentinel_hosts:
        |    - 10.0.0.1:5000
        |    - 10.0.0.2:5001
        |
        |source_dbs:
        |  - db_type: mysql
        |    alias: primary_mysql
        |    broker_type: kafka
        |    host: db1.internal
        |    port: 3307
        |    user: repl
        |    password: "s3cret#notacomment"
        |    skip_dmls:
        |      - delete
        |    skip_delete_tables:
        |      - audit_log
        |    databases:
        |      - database: shop
        |        auto_create: true
        |        tables:
        |          - table: orders
        |            skip_decimal: false
        |            auto_full_etl: true
        |            clickhouse_engine: ReplacingMergeTree
        |            partition_by:
        |            settings: index_granularity=4096
        |            sign_column: sign
        |            version_column: updated_at
        |          - table: customers
        |            clickhouse_engine: CollapsingMergeTree
        |            pk:
        |              - tenant_id
        |              - customer_id
        |  - db_type: postgres
        |    alias: analytics_pg
        |    host: db2.internal
        |    user: sync
        |    password: ''
        |    databases:
        |      - database: warehouse
        |        tables:
        |          - table: facts
        |            auto_full_etl: false
        |
        |clickhouse:
        |  hosts:
        |    - ch1:9000
        |  user: default
        |""".stripMargin

    val cfg = SyncConfig.fromYaml(yaml)
    assert(cfg.core.insertNum == 500)
    assert(cfg.core.insertIntervalSec == 5)
    assert(cfg.core.monitoring)

    assert(cfg.sources.size == 2)
    val my = cfg.sources.head
    assert(my.alias == "primary_mysql")
    assert(my.url == "jdbc:mysql://db1.internal:3307")
    assert(my.password == "s3cret#notacomment") // '#' inside quotes kept
    assert(my.skipDmls == Set("delete"))
    assert(my.skipDeleteTables == Set("audit_log"))
    val shop = my.databases.head
    assert(shop.database == "shop")
    assert(shop.tables.map(_.table) == Seq("orders", "customers"))
    val orders = shop.tables.head
    assert(orders.engine == Engine.ReplacingMergeTree)
    assert(orders.versionColumn == "updated_at")
    assert(orders.partitionBy.isEmpty) // empty value → None
    assert(orders.engineSettings.contains("index_granularity=4096"))
    val customers = shop.tables(1)
    assert(customers.engine == Engine.CollapsingMergeTree)
    assert(customers.pk == Seq("tenant_id", "customer_id"))

    val pg = cfg.sources(1)
    assert(pg.dbType == "postgres")
    assert(pg.url == "jdbc:postgresql://db2.internal:5432") // default port
    assert(pg.password == "")
    assert(!pg.databases.head.tables.head.autoFullEtl)
  }

  test("missing or empty clickhouse_engine defaults to ReplacingMergeTree") {
    // reference parity: synch.yaml:48 documents the default as
    // ReplacingMergeTree and factory.py:71-72 maps engine None to it
    val cfg = SyncConfig.fromYaml(
      """source_dbs:
        |  - db_type: mysql
        |    alias: a
        |    host: h
        |    databases:
        |      - database: d
        |        tables:
        |          - table: omitted
        |          - table: empty
        |            clickhouse_engine:
        |          - table: explicit
        |            clickhouse_engine: MergeTree
        |""".stripMargin)
    val tables = cfg.sources.head.databases.head.tables
    assert(tables.find(_.table == "omitted").get.engine == Engine.ReplacingMergeTree)
    assert(tables.find(_.table == "empty").get.engine == Engine.ReplacingMergeTree)
    assert(tables.find(_.table == "explicit").get.engine == Engine.MergeTree)
  }

  test("zero-indent block lists parse as the preceding key's value") {
    val cfg = SyncConfig.fromYaml(
      """core:
        |  insert_num: 7
        |source_dbs:
        |- db_type: mysql
        |  alias: flat
        |  host: h
        |  databases:
        |  - database: d
        |    tables:
        |    - table: t1
        |""".stripMargin)
    assert(cfg.sources.size == 1)
    assert(cfg.sources.head.alias == "flat")
    assert(cfg.sources.head.databases.head.tables.map(_.table) == Seq("t1"))
  }

  test("extra padding after the list dash keeps sibling keys in the item") {
    val cfg = SyncConfig.fromYaml(
      """source_dbs:
        |  -  db_type: mysql
        |     alias: padded
        |     host: h
        |""".stripMargin)
    assert(cfg.sources.head.alias == "padded")
    assert(cfg.sources.head.url == "jdbc:mysql://h:3306")
  }

  test("scalar lists with colons, comments, null markers") {
    val cfg = SyncConfig.fromYaml(
      """source_dbs:
        |  - alias: a
        |    url: "a: b # c"
        |    skip_delete_tables:
        |      - 10.0.0.1:5000 # first
        |      - 10.0.0.2:5001
        |    databases:
        |      - database: d
        |        tables:
        |          - table: t
        |            partition_by:
        |            settings: null
        |            sign_column: ~
        |""".stripMargin)
    val src = cfg.sources.head
    assert(src.skipDeleteTables == Set("10.0.0.1:5000", "10.0.0.2:5001"))
    assert(src.url == "a: b # c")
    val t = src.databases.head.tables.head
    assert(t.partitionBy.isEmpty) // empty value → absent
    assert(t.engineSettings.isEmpty) // null → absent
    assert(t.signColumn == "sign") // ~ → absent → default
  }

  test("misaligned or tab indentation fails loud instead of dropping keys") {
    // regression: an outdented key was silently swallowed as a child of
    // the previous entry and then discarded — skip_error quietly reverted
    // to its default where PyYAML rejects the file
    val outdented = intercept[IllegalArgumentException] {
      SyncConfig.fromYaml("core:\n    insert_num: 5\n  skip_error: true\n")
    }
    assert(outdented.getMessage.contains("line 3,"), outdented.getMessage)
    val tabbed = intercept[IllegalArgumentException] {
      SyncConfig.fromYaml("core:\n\tinsert_num: 5\n")
    }
    assert(tabbed.getMessage.contains("line 2,"), tabbed.getMessage)
    // `key: scalar` over an indented block
    val both = intercept[IllegalArgumentException] {
      SyncConfig.fromYaml("key: scalar\n  child: 1\n")
    }
    assert(both.getMessage.contains("line 2,"), both.getMessage)
  }

  test("apostrophe inside an unquoted scalar does not absorb the comment") {
    // regression: "bob's" flipped the quote tracker, so the trailing
    // comment leaked into the value
    val cfg = SyncConfig.fromYaml("source_dbs:\n  - alias: bob's db  # production\n")
    assert(cfg.sources.head.alias == "bob's db")
  }

  test("apostrophe inside an unquoted KEY does not swallow the colon (r13)") {
    // a phantom quote opened at the apostrophe made the line fail to
    // parse as a mapping; the key's siblings and an equal value read whole
    val cfg = SyncConfig.fromYaml(
      """core:
        |  o'brien: value
        |  insert_num: 7
        |source_dbs:
        |  - o'brien: value
        |    alias: o'brien
        |    user: x
        |""".stripMargin)
    assert(cfg.core.insertNum == 7)
    assert(cfg.sources.head.alias == "o'brien" && cfg.sources.head.user == "x")
  }

  test("missing version_column stays UNSET (the reference's own empty default)") {
    // r13 review: the old "version" default silently resolved on any
    // unrelated source column named `version`; the reference synch.yaml
    // ships `version_column:` EMPTY ("optional" for ReplacingMergeTree)
    val cfg = SyncConfig.fromYaml(
      """mysql:
        |  host: h
        |source_dbs:
        |  - db_type: mysql
        |    alias: a
        |    databases:
        |      - database: db
        |        tables:
        |          - table: t
        |            clickhouse_engine: ReplacingMergeTree
        |""".stripMargin)
    assert(cfg.sources.head.databases.head.tables.head.versionColumn == "",
      "missing version_column must stay unset, never default to 'version'")
  }

  test("YAML-1.1 booleans and long values parse like the reference loader") {
    val cfg = SyncConfig.fromYaml(
      """core:
        |  skip_error: yes
        |  monitoring: 'off'
        |redis:
        |  queue_max_len: 3000000000
        |source_dbs:
        |  - alias: 1:20
        |    user: yes
        |    password: 0123
        |""".stripMargin)
    assert(cfg.core.skipError)
    assert(cfg.redis.queueMaxLen == 3000000000L)
    // a string field keeps a plain scalar's text: YAML-1.1 typing would
    // read 1:20 as 80 (base 60), yes as true and 0123 as 83 (octal)
    val src = cfg.sources.head
    assert((src.alias, src.user, src.password) == (("1:20", "yes", "0123")))
    val bad = intercept[IllegalArgumentException] {
      SyncConfig.fromYaml("core:\n  monitoring: maybe\n")
    }
    assert(bad.getMessage.contains("not a boolean"))
  }

  test("flow lists load as lists") {
    // the hand parser read `[a, b]` as one scalar, so the table fell back
    // to PK discovery and deletes were not skipped
    val cfg = SyncConfig.fromYaml(
      """source_dbs:
        |  - alias: a
        |    skip_dmls: [delete]
        |    databases:
        |      - {database: d, tables: [{table: t, pk: [a, b]}]}
        |""".stripMargin)
    assert(cfg.sources.head.skipDmls == Set("delete"))
    assert(cfg.sources.head.databases.head.tables.head.pk == Seq("a", "b"))
  }

  test("anchors and merge keys share table settings") {
    val cfg = SyncConfig.fromYaml(
      """collapsing: &collapsing
        |  clickhouse_engine: CollapsingMergeTree
        |  skip_decimal: yes
        |source_dbs:
        |  - alias: a
        |    databases:
        |      - database: d
        |        tables:
        |          - <<: *collapsing
        |            table: t1
        |          - <<: *collapsing
        |            table: t2
        |            skip_decimal: no
        |""".stripMargin)
    val Seq(t1, t2) = cfg.sources.head.databases.head.tables
    assert(t1.engine == Engine.CollapsingMergeTree && t1.skipDecimal)
    assert(t2.engine == Engine.CollapsingMergeTree && !t2.skipDecimal)
  }

  test("a duplicate key is refused") {
    // the hand parser kept the first value and PyYAML keeps the last:
    // either way one of the two settings is dropped without a word
    val dup = intercept[IllegalArgumentException] {
      SyncConfig.fromYaml("core:\n  insert_num: 1\n  insert_num: 2\n")
    }
    assert(dup.getMessage.contains("duplicate key insert_num"), dup.getMessage)
    assert(dup.getMessage.contains("line 3,"), dup.getMessage)
  }

  test("a malformed file or a misshapen value fails naming its line") {
    val unclosed = intercept[IllegalArgumentException] {
      SyncConfig.fromYaml("core:\n  insert_num: 5\nsource_dbs: [{alias: a}\n")
    }
    assert(unclosed.getMessage.contains("line 3,"), unclosed.getMessage)
    val scalarSection = intercept[IllegalArgumentException] {
      SyncConfig.fromYaml("redis:\n  host: h\ncore: 5\n")
    }
    assert(scalarSection.getMessage.contains("'core' must be a mapping"), scalarSection.getMessage)
    assert(scalarSection.getMessage.contains("line 3, column 7"), scalarSection.getMessage)
    val scalarList = intercept[IllegalArgumentException] {
      SyncConfig.fromYaml("source_dbs:\n  - alias: a\n    skip_dmls: delete\n")
    }
    assert(scalarList.getMessage.contains("'skip_dmls' must be a list"), scalarList.getMessage)
    assert(scalarList.getMessage.contains("line 3, column 16"), scalarList.getMessage)
  }

  test("a bare table loads the case-class defaults from yaml and from properties") {
    val fromYaml = SyncConfig.fromYaml(
      """source_dbs:
        |  - alias: a
        |    databases:
        |      - database: d
        |        tables:
        |          - table: t
        |""".stripMargin)
    val fromProps = SyncConfig.fromProperties(Map(
      "source.0.alias" -> "a",
      "source.0.database.0" -> "d",
      "source.0.database.0.table.0" -> "t"))
    def fields(p: Product) = p.productElementNames.zip(p.productIterator).toList
    for (cfg <- Seq(fromYaml, fromProps)) {
      assert(fields(cfg.core) == fields(CoreConfig()))
      assert(fields(cfg.redis) == fields(RedisConfig()))
      assert(fields(cfg.sources.head.databases.head.tables.head) == fields(TableConfig("t")))
      assert(cfg.sources.head.dbType == "mysql")
    }
  }
}
