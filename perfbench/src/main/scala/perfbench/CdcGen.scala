package perfbench

import graft.model.Engine
import graft.run.TableSync
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** One replicated table. Keys are packed into one Long per row (lineitem:
  * orderkey * 8 + linenumber) so the expectation model stays one map. */
final case class CdcTable(name: String, id: Int, engine: Engine.Value, pk: Seq[String],
                          baseCols: Seq[StructField]) {
  def sync: TableSync = TableSync("db", name, StructType(baseCols), pk, engine)
}

/** Seeded change-data generator over three TPC-H-shaped tables, plus the
  * expectation model the final-state check compares against.
  *
  * The model is independent of the program: it keeps the last image per
  * key, drops deleted keys, and widens rows when a DDL adds a column —
  * the state a ClickHouse replica reaches for these engines when every
  * update and delete targets a live key (so collapsing nets are 0 or 1).
  * Initial snapshot rows are a pure function of (seed, table, key), so the
  * model only stores keys the stream touched.
  *
  * `scale` is relative to sf0.01 (orders 15 000, lineitem ~60 000,
  * customer 1 500). `zipf` draws keys with a Zipf(0.99) skew (hot keys,
  * typical OLTP); otherwise keys are uniform.
  */
final class CdcGen(seed: Long, scale: Double, zipf: Boolean) {
  val nOrders: Long = math.max(100L, (15000 * scale).toLong)
  val nCust: Long = math.max(20L, (1500 * scale).toLong)
  // 10% of each key space starts absent, so the stream also inserts
  private val ordersSpace = nOrders + nOrders / 10
  private val custSpace = nCust + nCust / 10

  val orders = CdcTable("orders", 1, Engine.ReplacingMergeTree, Seq("o_orderkey"), Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", StringType), StructField("o_orderpriority", StringType),
    StructField("o_comment", StringType)))
  val lineitem = CdcTable("lineitem", 2, Engine.MergeTree, Seq("l_orderkey", "l_linenumber"), Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", StringType)))
  val customer = CdcTable("customer", 3, Engine.CollapsingMergeTree, Seq("c_custkey"), Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))
  val tables: Seq[CdcTable] = Seq(orders, lineitem, customer)

  /** Columns added by DDL so far, per table (name, SQL type). */
  val added: mutable.Map[String, Vector[String]] = mutable.Map(tables.map(_.name -> Vector.empty[String]): _*)

  private val rng = new SplittableRandom(seed)
  // key -> Some(image) while live, None once deleted
  private val touched: Map[String, mutable.HashMap[Long, Option[Array[Any]]]] =
    tables.map(_.name -> mutable.HashMap.empty[Long, Option[Array[Any]]]).toMap

  private val words = Seq("quick", "final", "deposit", "pending", "regular", "express",
    "silent", "bold", "ironic", "careful", "even", "special", "blithe", "fluffy")
  private val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def cents(r: SplittableRandom, lo: Int, hi: Int): Double = r.nextInt(lo, hi) / 100.0
  private def day(r: SplittableRandom): String =
    java.time.LocalDate.of(1995, 1, 1).plusDays(r.nextInt(2400)).toString
  private def comment(r: SplittableRandom): String =
    (0 until r.nextInt(2, 6)).map(_ => pick(r, words)).mkString(" ")

  /** Lines per order of the initial snapshot: 1 to 7, fixed per order. */
  private def linesOf(o: Long): Int = 1 + (new SplittableRandom(seed * 31 + o).nextInt(7))

  private def image(t: CdcTable, key: Long, r: SplittableRandom): Array[Any] = {
    val base: Array[Any] = t.name match {
      case "orders" => Array(key, r.nextLong(nCust), pick(r, Seq("F", "O", "P")),
        cents(r, 100000, 50000000), day(r), pick(r, prios), comment(r))
      case "lineitem" => Array(key / 8, (key % 8).toInt, r.nextLong(20000L), r.nextLong(1000L),
        (1 + r.nextInt(50)).toDouble, cents(r, 90000, 10500000), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")), pick(r, Seq("F", "O")), day(r))
      case "customer" => Array(key, f"Customer#$key%09d", r.nextInt(25),
        cents(r, -99999, 999999), pick(r, segs))
    }
    base ++ added(t.name).map(c => s"$c-${r.nextInt(100000)}")
  }

  private def initialKey(t: CdcTable, key: Long): Boolean = t.name match {
    case "orders" => key >= 0 && key < nOrders
    case "customer" => key >= 0 && key < nCust
    case "lineitem" => key / 8 < nOrders && (key % 8) >= 1 && (key % 8) <= linesOf(key / 8)
  }

  private def initialImage(t: CdcTable, key: Long): Array[Any] =
    image(t, key, new SplittableRandom(seed ^ (t.id * 0x9E3779B97F4A7C15L) ^ (key * 0xC2B2AE3D27D4EB4FL)))

  def snapshotRows(t: CdcTable): Iterator[Row] = {
    val keys: Iterator[Long] = t.name match {
      case "lineitem" => (0L until nOrders).iterator.flatMap(o => (1 to linesOf(o)).map(l => o * 8 + l))
      case "orders" => (0L until nOrders).iterator
      case "customer" => (0L until nCust).iterator
    }
    keys.map(k => Row.fromSeq(initialImage(t, k).take(t.baseCols.size).toSeq))
  }

  def writeSnapshot(spark: SparkSession, t: CdcTable, path: String): Long = {
    val rows = snapshotRows(t).toVector
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(t.baseCols))
      .write.mode("overwrite").parquet(path)
    rows.size.toLong
  }

  private def isLive(t: CdcTable, key: Long): Boolean =
    touched(t.name).get(key) match {
      case Some(img) => img.isDefined
      case None => initialKey(t, key)
    }

  // Zipf(0.99) over ranks, mapped to keys by a fixed bijection so the hot
  // keys are scattered over the key space rather than clustered at 0
  private final class KeyDist(n: Long) {
    private val cdf: Array[Double] =
      if (!zipf) Array.emptyDoubleArray
      else {
        val w = Array.tabulate(n.toInt)(i => 1.0 / math.pow(i + 1, 0.99))
        val total = w.sum
        var acc = 0.0
        w.map { x => acc += x / total; acc }
      }
    private val mult: Long = Iterator.from(1000003, 2).map(_.toLong)
      .find(p => BigInt(p).gcd(BigInt(n)) == 1).get
    def rankToKey(rank: Long): Long = (rank * mult) % n
    def draw(r: SplittableRandom): Long =
      if (!zipf) r.nextLong(n)
      else {
        val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
        rankToKey(math.min(if (i >= 0) i else -i - 1, n - 1).toLong)
      }
  }
  private val ordersDist = new KeyDist(ordersSpace)
  private val custDist = new KeyDist(custSpace)

  /** The hottest orders key (rank 1 of the key distribution). */
  def hotOrderKey: Long = ordersDist.rankToKey(0)

  private def drawKey(t: CdcTable): Long = t.name match {
    case "orders" => ordersDist.draw(rng)
    case "customer" => custDist.draw(rng)
    case "lineitem" => ordersDist.draw(rng) * 8 + 1 + rng.nextInt(7)
  }

  private def json(t: CdcTable, img: Array[Any]): String = {
    val names = t.baseCols.map(_.name) ++ added(t.name)
    names.zip(img).map {
      case (n, s: String) => s"""\\"$n\\":\\"$s\\""""
      case (n, d: Double) => s"""\\"$n\\":${java.lang.Double.toString(d)}"""
      case (n, v) => s"""\\"$n\\":$v"""
    }.mkString("{", ",", "}")
  }

  private def line(t: CdcTable, action: String, values: String, stampUs: Long, seq: Int): String =
    s"""{"schema":"db","table":"${t.name}","action":"$action","values":"$values","event_unixtime":$stampUs,"action_seq":$seq}"""

  /** The next change event as one wire line; the model applies it. About
    * 35% of events go to orders, 50% to lineitem and 15% to customer. A
    * drawn live key is updated (or, one time in ten, deleted); a drawn
    * absent key is inserted. */
  def next(stampUs: Long): String = {
    val u = rng.nextDouble()
    val t = if (u < 0.35) orders else if (u < 0.85) lineitem else customer
    val key = drawKey(t)
    if (isLive(t, key) && rng.nextInt(10) == 0) {
      val img = touched(t.name).get(key).flatten.getOrElse(initialImage(t, key))
      touched(t.name)(key) = None
      line(t, "delete", json(t, img), stampUs, 1)
    } else {
      val action = if (isLive(t, key)) "update" else "insert"
      val img = image(t, key, rng)
      touched(t.name)(key) = Some(img)
      line(t, action, json(t, img), stampUs, 2)
    }
  }

  /** An `ALTER TABLE ... ADD COLUMN` event; later images of the table
    * carry the new column. */
  def addColumn(t: CdcTable, column: String, stampUs: Long): String = {
    added(t.name) = added(t.name) :+ column
    line(t, "query", s"ALTER TABLE db.${t.name} ADD COLUMN $column VARCHAR(32)", stampUs, 0)
  }

  def columns(t: CdcTable): Seq[String] = t.baseCols.map(_.name) ++ added(t.name)

  def keyOf(t: CdcTable, r: Row): Long = t.name match {
    case "lineitem" => r.getLong(0) * 8 + r.getInt(1)
    case _ => r.getLong(0)
  }

  /** Compare a table's replica rows (selected as [[columns]]) with the
    * model: same key set, and every value equal. Returns failures. */
  def check(t: CdcTable, actual: Array[Row]): Seq[String] = {
    val width = columns(t).size
    val tk = touched(t.name)
    val liveTouchedNew = tk.count { case (k, v) => v.isDefined && !initialKey(t, k) }
    val deadInitial = tk.count { case (k, v) => v.isEmpty && initialKey(t, k) }
    val initialCount = snapshotRows(t).size
    val expectCount = initialCount - deadInitial + liveTouchedNew
    val errs = mutable.ArrayBuffer.empty[String]
    if (actual.length != expectCount)
      errs += s"${t.name}: ${actual.length} rows, expected $expectCount"
    val seen = mutable.HashSet.empty[Long]
    actual.iterator.takeWhile(_ => errs.size < 5).foreach { r =>
      val k = keyOf(t, r)
      if (!seen.add(k)) errs += s"${t.name}: key $k appears twice"
      else {
        val exp = tk.get(k) match {
          case Some(img) => img
          case None => Option.when(initialKey(t, k))(initialImage(t, k).take(t.baseCols.size))
        }
        exp match {
          case None => errs += s"${t.name}: key $k is live in the replica but not in the model"
          case Some(img) =>
            val want = img.toSeq.padTo(width, null)
            val got = (0 until width).map(r.get)
            if (want != got) errs += s"${t.name}: key $k is $got, expected $want"
        }
      }
    }
    errs.toSeq
  }
}
