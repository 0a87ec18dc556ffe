package graft.sink

import graft.SparkSpec

/** K2 delete path at adversarial batch sizes: the chunked key stream
  * must bound driver memory by the chunk, not by the batch
  * (VERDICT r6 "what's wrong" #2 — the collect-then-bind form OOMed the
  * driver on a misconfigured `maxOffsetsPerTrigger`).
  */
class JdbcSinkSpec extends SparkSpec {

  test("foreachKeyChunk bounds every statement by the chunk and covers all keys") {
    val n = 1000000
    var statements = 0
    var keysSeen = 0L
    var maxBinds = 0
    val total = JdbcSink.foreachKeyChunk("db", "t", Seq("id"),
      Iterator.tabulate(n)(i => Seq(i.asInstanceOf[Any])), chunk = 20000) {
      (sql, binds) =>
        statements += 1
        keysSeen += binds.size
        maxBinds = math.max(maxBinds, binds.size)
        assert(sql.startsWith("alter table db.t delete where id in ("))
    }
    assert(total === n.toLong)
    assert(keysSeen === n.toLong)
    assert(statements === 50)
    assert(maxBinds === 20000)
  }

  test("foreachKeyChunk flushes a ragged tail and composite PKs bind in order") {
    val keys = Seq(Seq[Any](1, "a"), Seq[Any](2, "b"), Seq[Any](3, "c"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Any])]
    val total = JdbcSink.foreachKeyChunk("db", "t", Seq("x", "y"),
      keys.iterator, chunk = 2) { (sql, binds) => seen += ((sql, binds)) }
    assert(total === 3L)
    assert(seen.map(_._2) === Seq(Seq(1, "a", 2, "b"), Seq(3, "c")))
    assert(seen.head._1 ===
      "alter table db.t delete where (x=? and y=?) or (x=? and y=?)")
    assert(seen(1)._1 === "alter table db.t delete where (x=? and y=?)")
  }

  test("a 1e6-key batch streams off executors without a driver collect") {
    // The DataFrame path: toLocalIterator pulls one partition at a time,
    // so this holds ≤ (one partition + one chunk) on the driver. A full
    // collect of the same frame would be ~1e6 Rows; the chunk recorder
    // proves no statement ever saw more than the chunk.
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val keys = spark.range(1000000).select($"id").repartition(16)
    var statements = 0
    var maxBinds = 0
    var keysSeen = 0L
    val total = JdbcSink.foreachKeyChunk("db", "events", Seq("id"),
      keys.toLocalIterator().asScala.map(_.toSeq), chunk = 50000) {
      (_, binds) =>
        statements += 1
        maxBinds = math.max(maxBinds, binds.size)
        keysSeen += binds.size
    }
    assert(total === 1000000L)
    assert(keysSeen === 1000000L)
    assert(statements === 20)
    assert(maxBinds === 50000)
  }

  test("foreachKeyChunk deletes a toLocalIterator key stream in chunks on Derby") {
    val dbDir = java.nio.file.Files.createTempDirectory("jdbc-sink-spec")
    val t = JdbcTarget(s"jdbc:derby:$dbDir/db;create=true", "", "",
      db = "APP", batchSize = 100)
    // Derby speaks standard DELETE, not ClickHouse ALTER DELETE — drive
    // the same chunk core with a Derby-dialect executor to prove the
    // connection-sharing path end-to-end against a real database.
    import spark.implicits._
    JdbcSink.withConnection(t) { c =>
      c.createStatement().execute("CREATE TABLE APP.TGT (ID INT PRIMARY KEY)")
      val ins = c.prepareStatement("INSERT INTO APP.TGT VALUES (?)")
      (0 until 1000).foreach { i => ins.setInt(1, i); ins.addBatch() }
      ins.executeBatch()
      val touched = spark.range(0, 900).select($"id".cast("int"))
      import scala.jdk.CollectionConverters._
      val deleted = JdbcSink.foreachKeyChunk("APP", "TGT", Seq("ID"),
        touched.toLocalIterator().asScala.map(_.toSeq), chunk = 100) {
        (_, binds) =>
          val holes = binds.map(_ => "?").mkString("(", ",", ")")
          val ps = c.prepareStatement(s"DELETE FROM APP.TGT WHERE ID IN $holes")
          try {
            binds.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
            ps.execute(); ()
          } finally ps.close()
      }
      assert(deleted === 900L)
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM APP.TGT")
      rs.next()
      assert(rs.getInt(1) === 100)
    }
  }
}
