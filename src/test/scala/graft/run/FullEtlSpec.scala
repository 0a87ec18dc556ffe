package graft.run

import graft.SparkSpec
import graft.model.Engine
import graft.sink.ParquetStateStore
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

class FullEtlSpec extends SparkSpec {

  /** The snapshot as `Main etl` writes it: one changelog of inserts,
    * applied to the table's store as version -1; returns that version. */
  private def etl(src: FullEtl.Source, pk: String, engine: Engine.Value): (DataFrame, DataFrame) = {
    val snap = FullEtl.read(spark, src)
    val store = new ParquetStateStore(spark, Files.createTempDirectory("etl").toString + "/t")
    Consume.applyBatch(TableSync("db", "t", snap.schema, Seq(pk), engine), store,
      Consume.snapshotAsChangelog(snap), -1L)
    (snap, store.readVersion(-1L).get)
  }

  test("snapshot copy preserves counts and stamps the sign column") {
    val (src, out) = etl(FullEtl.ParquetSource(s"$sf/orders.parquet"), "o_orderkey",
      Engine.CollapsingMergeTree)
    assert(out.count() == src.count() && src.count() > 0)
    assert(out.columns.contains("sign"))
    assert(out.selectExpr("min(sign)", "max(sign)").collect().head.toSeq == Seq(1, 1))
  }

  test("reference round-trip golden: (1, 1.00) survives with exact decimal") {
    // FIXTURES.md §1 / reference tests/test_etl.py:20-36
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("amount", DecimalType(10, 2), nullable = true)))
    val tmp = Files.createTempDirectory("golden").toString
    spark.createDataFrame(
        java.util.List.of(Row(1, new java.math.BigDecimal("1.00"))), schema)
      .write.parquet(s"$tmp/test.parquet")
    val (src, out) = etl(FullEtl.ParquetSource(s"$tmp/test.parquet"), "id",
      Engine.ReplacingMergeTree)
    assert(src.count() == 1 && out.count() == 1)
    val row = out.collect().head
    assert(row.getAs[Int]("id") == 1)
    assert(row.getAs[java.math.BigDecimal]("amount") == new java.math.BigDecimal("1.00"))
    assert(out.schema("amount").dataType ==
      DecimalType(10, 2)) // no precision loss, no skip_decimal workaround
  }

  test("jdbc source config builds partitioned reader options") {
    // No live DB in this container: assert the config shape only.
    val j = FullEtl.JdbcSource("jdbc:postgresql://h/db", "t", "u", "p",
      partitionColumn = Some("id"), numPartitions = 16)
    assert(j.numPartitions == 16 && j.partitionColumn.contains("id"))
  }

  test("partition bounds stringify as the integral literals Spark's parser accepts (r13)") {
    // r13 review finding: raw toString fed "123.45" / "1.2E+22" into
    // Spark's String.toLong bound parser. Floor/ceil keep the bounds
    // covering; out-of-Long-range returns None (single-partition
    // fallback — slower, never wrong).
    import FullEtl.boundLiteral
    assert(boundLiteral(new java.math.BigDecimal("123.45"), roundUp = false)
      .contains("123"))
    assert(boundLiteral(new java.math.BigDecimal("123.45"), roundUp = true)
      .contains("124"))
    assert(boundLiteral(new java.math.BigDecimal("-123.45"), roundUp = false)
      .contains("-124"))
    assert(boundLiteral(new java.math.BigDecimal("1.2E+22"), roundUp = true).isEmpty)
    assert(boundLiteral(java.lang.Double.valueOf(1.5e7), roundUp = false)
      .contains("15000000"))
    assert(boundLiteral(java.lang.Double.valueOf(1e300), roundUp = true).isEmpty)
    // NaN/Infinity bounds (float8 'Infinity' survives MAX) take the same
    // single-partition fallback instead of NumberFormatException
    assert(boundLiteral(java.lang.Double.valueOf(Double.NaN), roundUp = true).isEmpty)
    assert(boundLiteral(java.lang.Double.valueOf(Double.PositiveInfinity),
      roundUp = false).isEmpty)
    assert(boundLiteral(java.lang.Float.valueOf(Float.NegativeInfinity),
      roundUp = false).isEmpty)
    assert(boundLiteral(java.lang.Long.valueOf(42L), roundUp = false).contains("42"))
    assert(boundLiteral(java.sql.Date.valueOf("2020-01-02"), roundUp = true)
      .contains("2020-01-02")) // date/timestamp bounds pass through
  }
}
