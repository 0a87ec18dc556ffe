package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the driver contract: the Spark plan `build(spark, sfDir)`,
  * the DuckDB SQL `oracle` that checks it over the same parquet tables,
  * and whether `graft.Bench` times it. `SparkEntry.queries`,
  * `SparkEntry.oracleSql` and `Bench.headline` are views over the specs
  * that [[QuerySpec.registry]] collects from the family files in this
  * package. */
final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame,
                           oracle: String, benched: Boolean = true)

object QuerySpec {

  /** The families' specs in order, refusing a repeated name (a `toMap`
    * over the specs would keep the last one and drop the other silently). */
  def registry(families: Seq[QuerySpec]*): Seq[QuerySpec] = {
    val specs = families.flatten
    val dup = specs.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dup.isEmpty, s"query names declared twice: ${dup.toSeq.sorted.mkString(", ")}")
    specs
  }

  /** Parse a comma-separated name subset (`None` = no subset given),
    * refusing names outside `known` with `refusal` as the message head:
    * an all-typo subset would otherwise run nothing and exit 0. */
  def subset(list: Option[String], known: Set[String], refusal: String): Option[Set[String]] =
    list.map { l =>
      val names = l.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- known
      require(unknown.isEmpty, s"$refusal: ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }
}
