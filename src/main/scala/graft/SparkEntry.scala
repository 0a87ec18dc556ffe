package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Every query is one operator from SURVEY.md §2 (or a north-star
  * extension) exercised over the parquet test tables, declared once as a
  * [[graft.queries.QuerySpec]] in its family's file under `queries/`: the
  * Spark plan next to the ANSI-SQL twin the driver runs in DuckDB. Column
  * names and types are aligned pair-by-pair; all floating-point outputs
  * are either exact (integer/decimal arithmetic, identical fold order) or
  * rounded after deterministic computation. [[queries]] and [[oracleSql]]
  * are views over [[specs]]; so is `Bench.headline`.
  */
object SparkEntry {

  /** Every query, family by family. perfbench's `query_suite` times the
    * first benched query of each family, so the family order here is its
    * order too. */
  val specs: Seq[QuerySpec] = QuerySpec.registry(
    Q.specs, Cdc.specs, Engine.specs, Dedup.specs, Ann.specs, Text.specs,
    Corpus.specs, Session.specs, Multimodal.specs, Join.specs, Embed.specs,
    Event.specs, Sketch.specs, Graph.specs, Envelope.specs)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_region_revenue")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap

  /** DuckDB dialect, over the same parquet tables registered as views. */
  val oracleSql: Map[String, String] = specs.map(q => q.name -> q.oracle).toMap
}
