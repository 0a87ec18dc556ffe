package graft.ddl

import org.apache.spark.sql.types._

/** Source-DB type → (Spark Catalyst type, ClickHouse render).
  *
  * Behavior mirrors the reference's declared mapping
  * (synch/convert.py:28-46 + Nullable wrap at :91-93); the Spark column is
  * our own addition so the same mapping drives partitioned JDBC snapshot
  * reads. The reference's decimal workaround (skip_decimal /
  * information_schema re-ALTER, synch/writer/__init__.py:55-76) is
  * unnecessary here: precision/scale are carried explicitly end-to-end.
  */
object TypeMap {

  /** A parsed source type, e.g. `decimal(16,2)` → ("decimal", Seq(16, 2)).
    * `unsigned` carries MySQL's modifier: an unsigned integer's range
    * does NOT fit the same-width signed type (r13 review — dropping the
    * modifier silently from_json-nulled legal values past the signed
    * max), so the mappings below widen one step per width. */
  final case class SourceType(name: String, params: Seq[Int],
                              unsigned: Boolean = false)

  private val TypeRe =
    """(?i)\s*([a-z]+)\s*(?:\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?(?:\s+(unsigned))?\s*""".r

  def parse(raw: String): SourceType = raw match {
    case TypeRe(name, p1, p2, u) =>
      SourceType(name.toLowerCase,
        Seq(Option(p1), Option(p2)).flatten.map(_.toInt),
        unsigned = u != null)
    case _ => SourceType(raw.trim.toLowerCase, Nil)
  }

  /** MySQL/Postgres type name → ClickHouse type (synch/convert.py:28-46;
    * unsigned integers take ClickHouse's native UInt widths — the
    * reference's map ignores the modifier and overflows, a deliberate
    * divergence like the T3 dead-guard fix). */
  def toClickHouse(t: SourceType): String = t.name match {
    case "tinyint" if t.unsigned   => "UInt8"
    case "smallint" if t.unsigned  => "UInt16"
    case "int" | "integer" | "mediumint" if t.unsigned => "UInt32"
    case "bigint" if t.unsigned    => "UInt64"
    case "date"                       => "Date"
    case "datetime" | "timestamp"     => "DateTime"
    case "bool" | "boolean"           => "UInt8"
    case "float"                      => "Float32"
    case "double" | "real"            => "Float64"
    case "decimal" | "numeric" =>
      val p = t.params.headOption.getOrElse(10)
      val s = t.params.lift(1).getOrElse(0)
      s"Decimal($p,$s)"
    case "tinyint"                    => "Int8"
    case "smallint"                   => "Int16"
    case "int" | "integer" | "mediumint" => "Int32"
    case "bigint"                     => "Int64"
    case "char" =>
      t.params.headOption.map(n => s"FixedString($n)").getOrElse("String")
    case "varchar" | "text" | "longtext" | "mediumtext" | "tinytext" |
         "bigchar" | "json" | "enum"  => "String"
    case _                            => "String" // safe fallback, like the reference's str default
  }

  def toClickHouse(raw: String): String = toClickHouse(parse(raw))

  /** Wrap in Nullable unless declared NOT NULL (synch/convert.py:91-93). */
  def render(raw: String, nullable: Boolean): String = {
    val base = toClickHouse(raw)
    if (nullable) s"Nullable($base)" else base
  }

  /** Same source type → Spark Catalyst type (drives JDBC snapshot schema).
    * Spark has no unsigned integrals, so unsigned widens one step
    * (bigint unsigned → Decimal(20,0), the full 2^64 range). */
  def toSpark(t: SourceType): DataType = t.name match {
    case "tinyint" if t.unsigned   => ShortType
    case "smallint" if t.unsigned  => IntegerType
    case "int" | "integer" | "mediumint" if t.unsigned => LongType
    case "bigint" if t.unsigned    => DecimalType(20, 0)
    case "date"                          => DateType
    case "datetime" | "timestamp"        => TimestampType
    case "bool" | "boolean"              => BooleanType
    case "float"                         => FloatType
    case "double" | "real"               => DoubleType
    case "decimal" | "numeric" =>
      DecimalType(t.params.headOption.getOrElse(10), t.params.lift(1).getOrElse(0))
    case "tinyint"                       => ByteType
    case "smallint"                      => ShortType
    case "int" | "integer" | "mediumint" => IntegerType
    case "bigint"                        => LongType
    case _                               => StringType
  }

  def toSpark(raw: String): DataType = toSpark(parse(raw))
}
