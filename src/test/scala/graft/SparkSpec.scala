package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (sbt forks once). */
object TestSpark {
  /** Managed tables (bucketed-store tests) land here, not in the repo. */
  val warehouse: String =
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString

  lazy val spark: SparkSession = {
    val s = Tables.session("local[4]", 4, conf = Map(
      "spark.app.name" -> "graft-tests",
      "spark.sql.warehouse.dir" -> warehouse))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"
}
