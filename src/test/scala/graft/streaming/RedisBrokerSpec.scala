package graft.streaming

import graft.SparkSpec
import graft.model.Engine
import graft.run.{Consume, TableSync}
import graft.sink.ParquetStateStore
import graft.sources.FakeRedisServer
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** The Redis-Streams transport end-to-end over a real socket: wire JSON
  * XADDed through [[RedisBroker.send]], XREAD-polled into staging files,
  * streamed by EventSource.files through the Consume apply loop into
  * engine state — the reference's redis broker leg
  * (synch/broker/redis.py) with its commit/resume and MAXLEN contracts.
  */
class RedisBrokerSpec extends SparkSpec {

  private val valueSchema = StructType(Seq(
    StructField("id", LongType), StructField("amount", DoubleType)))

  private def ev(table: String, action: String, id: Long, amount: Double,
                 ts: Long): String = {
    val seq = if (action == "delete") 1 else 2
    s"""{"schema":"db","table":"$table","action":"$action","values":"{\\"id\\":$id,\\"amount\\":$amount}","event_unixtime":$ts,"action_seq":$seq}"""
  }

  test("XADD -> XREAD poll -> staged files -> consume loop -> resolved state") {
    val server = new FakeRedisServer
    try {
      val root = Files.createTempDirectory("redis-broker").toString
      val staging = s"$root/staging"
      val broker = new RedisBroker("127.0.0.1", server.port, "mysql_db")

      broker.send("db", ev("mt", "insert", 1, 10.0, 100))
      broker.send("db", ev("mt", "insert", 2, 20.0, 110))
      broker.send("db", ev("mt", "update", 1, 11.0, 200))
      broker.send("db", ev("mt", "delete", 2, 20.0, 300))
      assert(broker.length("db") == 4)

      assert(broker.drainToStaging("db", staging) == 4)
      // committed high-water mark persisted broker-side (reference commit)
      assert(broker.lastCommittedId("db") == "0-4")
      // a fresh poll from the committed id stages nothing
      assert(broker.pollToStaging("db", staging) == 0)

      val tables = Seq(
        TableSync("db", "mt", valueSchema, Seq("id"), Engine.MergeTree))
      val q = Consume.start(spark, EventSource.files(spark, staging),
        tables, s"$root/state", s"$root/ckpt",
        triggerInterval = "250 milliseconds")
      q.processAllAvailable(); q.stop()

      val st = Consume.currentState(tables.head,
        new ParquetStateStore(spark, s"$root/state/db/mt")).get
        .select("id", "amount").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(st == Set((1L, 11.0)))
      broker.close()
    } finally server.close()
  }

  test("resume: a NEW broker instance continues from the committed id") {
    val server = new FakeRedisServer
    try {
      val root = Files.createTempDirectory("redis-resume").toString
      val staging = s"$root/staging"
      val b1 = new RedisBroker("127.0.0.1", server.port, "a")
      b1.send("db", ev("t", "insert", 1, 1.0, 100))
      b1.send("db", ev("t", "insert", 2, 2.0, 110))
      assert(b1.drainToStaging("db", staging) == 2)
      b1.close()

      val b2 = new RedisBroker("127.0.0.1", server.port, "a")
      b2.send("db", ev("t", "insert", 3, 3.0, 120))
      // only the post-commit entry is staged — no re-delivery of 1..2
      assert(b2.pollToStaging("db", staging) == 1)
      assert(b2.lastCommittedId("db") == "0-3")
      val staged = Files.list(Paths.get(staging)).toArray.map(_.toString)
        .filter(_.endsWith(".txt")).sorted
      assert(staged.length == 2)
      // id-range-derived names: a crashed re-poll would overwrite, not dup
      // zero-padded id ranges: lexicographic name order = poll order
      // (the consume loop's cross-file DDL tiebreak sorts on the name)
      def pad(ms: Long, sq: Long) = f"$ms%020d-$sq%020d"
      assert(staged.exists(_.endsWith(s"db-${pad(0, 1)}-${pad(0, 2)}.txt")) &&
             staged.exists(_.endsWith(s"db-${pad(0, 3)}-${pad(0, 3)}.txt")))
      b2.close()
    } finally server.close()
  }

  test("staged files get strictly increasing mtimes in poll order") {
    // the file source orders files by millisecond mtime, ties in listing
    // order: polls within one millisecond must not share an mtime
    val server = new FakeRedisServer
    try {
      val staging = Files.createTempDirectory("redis-mtime").toString + "/s"
      val broker = new RedisBroker("127.0.0.1", server.port, "m")
      val n = 200
      for (i <- 1 to n) broker.send("db", ev("t", "insert", i.toLong, i.toDouble, 100L + i))
      assert(broker.drainToStaging("db", staging, count = 1) == n)
      val staged = Files.list(Paths.get(staging)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".txt")).sortBy(_.getFileName.toString)
      assert(staged.length == n)
      val mtimes = staged.map(Files.getLastModifiedTime(_).toMillis).toSeq
      val unordered = mtimes.zip(mtimes.tail).filter { case (a, b) => a >= b }
      assert(unordered.isEmpty, s"consecutive files with non-increasing mtimes: ${unordered.take(5)}")
      broker.close()
    } finally server.close()
  }

  test("Produce.toRedis XADDs each micro-batch in (event_unixtime, action_seq) " +
    "order through one serial connection") {
    val server = new FakeRedisServer
    try {
      val root = Files.createTempDirectory("redis-produce").toString
      val rawDir = s"$root/raw"; Files.createDirectories(Paths.get(rawDir))
      // deliberately out of time order in the file: the producer must
      // restore binlog order before XADD (stream order IS apply order)
      val lines = Seq(
        ev("t", "update", 1, 11.0, 300),
        ev("t", "insert", 1, 10.0, 100),
        ev("t", "insert", 2, 20.0, 200))
      Files.write(Paths.get(rawDir, "raw.json"), lines.mkString("\n").getBytes)

      val q = graft.run.Produce.toRedis(EventSource.files(spark, rawDir),
        () => new RedisBroker("127.0.0.1", server.port, "mysql_db"),
        s"$root/ckpt", triggerInterval = "200 milliseconds")
      q.processAllAvailable(); q.stop()

      // read the stream back raw and check XADD order = time order
      val client = new graft.sources.RespClient("127.0.0.1", server.port)
      try {
        val reply = client.command("XREAD", "COUNT", "100", "STREAMS",
          "synch:mysql_db:db", "0").asInstanceOf[Seq[Seq[Any]]]
        val entries = reply.head(1).asInstanceOf[Seq[Seq[Any]]]
        val times = entries.map(_(1).asInstanceOf[Seq[String]])
          .map(f => f.grouped(2).collectFirst { case Seq("msg", v) => v }.get)
          .map(v => "\"event_unixtime\":(\\d+)".r.findFirstMatchIn(v).get.group(1).toLong)
        assert(times == Seq(100L, 200L, 300L))
      } finally client.close()
    } finally server.close()
  }

  test("sendBatch pipelines XADDs: order preserved across schemas, one " +
    "round-trip per chunk") {
    val server = new FakeRedisServer
    try {
      val broker = new RedisBroker("127.0.0.1", server.port, "p")
      broker.sendBatch((1 to 100).map(i =>
        (if (i % 2 == 0) "even" else "odd") -> s"""{"i":$i}"""))
      assert(broker.length("even") == 50 && broker.length("odd") == 50)
      val root = Files.createTempDirectory("redis-pipe").toString
      assert(broker.drainToStaging("odd", s"$root/s") == 50)
      val staged = Files.list(Paths.get(s"$root/s")).toArray.map(_.toString)
        .filter(_.endsWith(".txt"))
      val is = staged.sorted.flatMap(f =>
        new String(Files.readAllBytes(Paths.get(f))).linesIterator)
        .map(l => "\"i\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toInt).toSeq
      assert(is == (1 to 100 by 2), "per-stream order must be send order")
      broker.close()
    } finally server.close()
  }

  test("multi-alias consume: two sources' streams drain into one consume loop") {
    // regression: the CLI's redis leg polled only the FIRST source's
    // alias, so a multi-source config bootstrapped every table and then
    // silently starved all but one source forever. The fix drains each
    // alias into its own staging subdir (staged names are schema+id
    // derived and two aliases can share a schema name) read via a glob.
    val server = new FakeRedisServer
    try {
      val root = Files.createTempDirectory("redis-multi").toString
      val staging = s"$root/staging"
      val b1 = new RedisBroker("127.0.0.1", server.port, "a1")
      val b2 = new RedisBroker("127.0.0.1", server.port, "a2")
      // SAME schema name under both aliases — the staged-file collision case
      b1.send("db", ev("t1", "insert", 1, 10.0, 100))
      b2.send("db", ev("t2", "insert", 2, 20.0, 100))
      assert(b1.drainToStaging("db", s"$staging/a1") == 1)
      assert(b2.drainToStaging("db", s"$staging/a2") == 1)

      val tables = Seq(
        TableSync("db", "t1", valueSchema, Seq("id"), Engine.ReplacingMergeTree),
        TableSync("db", "t2", valueSchema, Seq("id"), Engine.ReplacingMergeTree))
      val q = Consume.start(spark, EventSource.files(spark, s"$staging/*"),
        tables, s"$root/state", s"$root/ckpt",
        triggerInterval = "250 milliseconds")
      q.processAllAvailable(); q.stop()

      // BOTH sources' tables received their events
      for ((t, id, amt) <- Seq(("t1", 1L, 10.0), ("t2", 2L, 20.0))) {
        val st = Consume.currentState(
          tables.find(_.table == t).get,
          new ParquetStateStore(spark, s"$root/state/db/$t")).get
          .select("id", "amount").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSet
        assert(st == Set((id, amt)), s"table $t")
      }
      b1.close(); b2.close()
    } finally server.close()
  }

  test("sendBatchAt: a crash-replayed batch re-sends the same ids and dedupes exactly") {
    // the idempotent produce leg: explicit <batchId>-<seq> entry ids make
    // Redis itself reject the already-delivered prefix, so a stop()-
    // interrupted batch replay cannot double-produce (a Collapsing-family
    // consumer would otherwise keep a net +2 row no delete cancels)
    val server = new FakeRedisServer
    try {
      val broker = new RedisBroker("127.0.0.1", server.port, "p")
      val full = Seq(("db", "7-1", """{"i":1}"""),
        ("db", "7-2", """{"i":2}"""), ("db", "7-3", """{"i":3}"""))
      broker.sendBatchAt(full.take(2)) // crash after a partial pipeline
      broker.sendBatchAt(full)         // restart replays the WHOLE batch
      assert(broker.length("db") == 3, "replayed prefix must dedupe")
      broker.sendBatchAt(full)         // full second replay adds nothing
      assert(broker.length("db") == 3)
      broker.sendBatchAt(Seq(("db", "8-1", """{"i":4}"""))) // next batch
      assert(broker.length("db") == 4)

      // the foreign-top guard that keeps the replay-swallow honest: a
      // stream whose top is beyond the batch being produced (foreign
      // auto ids, reset remnants) must throw, not be silently absorbed
      broker.guardForeignTop("db", batchId = 8L) // replay of 8: fine
      broker.guardForeignTop("db", batchId = 9L) // next batch: fine
      val reset = intercept[IllegalStateException] {
        broker.guardForeignTop("db", batchId = 3L) // top is 8-1
      }
      assert(reset.getMessage.contains("ahead of produce batch"))
      broker.guardForeignTop("fresh-stream", 0L) // empty stream: fine
      // the produce commit hash: the replay/reset discriminator
      assert(broker.producedBatch("db") == -1L)
      broker.commitProduced("db", 8L, applied = true, digest = 0xabcL)
      assert(broker.producedBatch("db") == 8L)
      assert(broker.producedDigest("db").contains((8L, 0xabcL)))
      broker.commitProducedAll(Seq("db", "db2"), 9L, Set("db", "db2"),
        Map("db" -> -1L)) // multi-pair HSET; digest only for db
      assert(broker.producedBatch("db") == 9L && broker.producedBatch("db2") == 9L)
      // unsigned hex round-trip for a negative digest; db2 keeps its
      // absent record (never written blank)
      assert(broker.producedDigest("db").contains((9L, -1L)))
      assert(broker.producedDigest("db2").isEmpty)
      // a foreign top entry WITHOUT a msg field still yields its id —
      // treating it as an empty stream would disable the guard entirely
      val raw = new graft.sources.RespClient("127.0.0.1", server.port)
      try raw.command("XADD", "synch:p:foreign", "999-1", "payload", "x")
      finally raw.close()
      assert(broker.lastEntry("foreign").map(_._1).contains("999-1"))
      val foreign = intercept[IllegalStateException] {
        broker.guardForeignTop("foreign", batchId = 5L)
      }
      assert(foreign.getMessage.contains("ahead of produce batch"))
      broker.close()
    } finally server.close()
  }

  test("toRedis refuses a reset checkpoint that restarts on the stream's top batch id") {
    // the equal-batch-id hole: first run produces batch 0, the checkpoint
    // is wiped, a fresh run restarts at batch 0 with DIFFERENT data — the
    // replay swallow would silently drop it all; the content check at the
    // stream's top seq must fail the batch instead
    val server = new FakeRedisServer
    try {
      val root = Files.createTempDirectory("redis-reset").toString
      def runProduce(rawDir: String, ckpt: String): Unit = {
        val q = graft.run.Produce.toRedis(EventSource.files(spark, rawDir),
          () => new RedisBroker("127.0.0.1", server.port, "rst"),
          ckpt, triggerInterval = "200 milliseconds")
        try { q.processAllAvailable() } finally q.stop()
      }
      val raw1 = s"$root/raw1"; Files.createDirectories(Paths.get(raw1))
      Files.write(Paths.get(raw1, "a.json"),
        ev("t", "insert", 1, 10.0, 100).getBytes)
      runProduce(raw1, s"$root/ckpt1")
      val broker = new RedisBroker("127.0.0.1", server.port, "rst")
      assert(broker.length("db") == 1)

      // fresh checkpoint (the reset), different raw data, same batch id 0
      val raw2 = s"$root/raw2"; Files.createDirectories(Paths.get(raw2))
      Files.write(Paths.get(raw2, "b.json"),
        ev("t", "insert", 99, 77.0, 500).getBytes)
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        runProduce(raw2, s"$root/ckpt2")
      }
      assert(err.getMessage.contains("refusing to silently drop") ||
        Option(err.getCause).exists(_.getMessage.contains("refusing to silently drop")))
      assert(broker.length("db") == 1, "nothing from the reset run may land")
      broker.close()
    } finally server.close()
  }

  test("MAXLEN caps the stream; count-limited polls page through it") {
    val server = new FakeRedisServer
    try {
      val root = Files.createTempDirectory("redis-maxlen").toString
      val broker = new RedisBroker("127.0.0.1", server.port, "b",
        queueMaxLen = 5)
      for (i <- 1 to 8)
        broker.send("db", ev("t", "insert", i.toLong, i.toDouble, 100L + i))
      // queue trimmed to the newest 5 (reference queue_max_len)
      assert(broker.length("db") == 5)
      // page in micro-batches of 2: 5 entries -> 2 + 2 + 1
      val staged = Seq(
        broker.pollToStaging("db", s"$root/s", count = 2),
        broker.pollToStaging("db", s"$root/s", count = 2),
        broker.pollToStaging("db", s"$root/s", count = 2),
        broker.pollToStaging("db", s"$root/s", count = 2))
      assert(staged == Seq(2, 2, 1, 0))
      broker.close()
    } finally server.close()
  }

  test("race: drainToStaging concurrent with a pipelining producer stages every event exactly once, in order") {
    // VERDICT r11 #6: the rehearsal ran drain concurrently with a query
    // but no spec raced a draining consumer against an XADD-ing producer
    // on the SAME stream. Producer: 4,000 events in pipelined chunks
    // (sendBatch, auto ids) on its own connection; consumer: drain loop
    // with small polls (so polls land mid-chunk and chunks land
    // mid-drain); commits (HSET last_msg_id) interleave with XADDs in
    // the server. Invariant: the staged files, in name order, hold
    // exactly the produced payloads, in order, once each.
    val server = new FakeRedisServer
    try {
      val root = Files.createTempDirectory("redis-race").toString
      val staging = s"$root/s"
      val n = 4000
      val payloads = (1 to n).map(i => s"""{"n":$i}""")
      @volatile var producerDone = false
      @volatile var failure: Option[Throwable] = None
      val producer = new Thread(() => {
        val b = new RedisBroker("127.0.0.1", server.port, "b")
        try payloads.grouped(97).foreach { chunk =>
          b.sendBatch(chunk.map(m => ("db", m)))
        } catch { case t: Throwable => failure = Some(t) }
        finally { producerDone = true; b.close() }
      }, "race-producer")
      val staged = new java.util.concurrent.atomic.AtomicLong
      val consumer = new Thread(() => {
        val b = new RedisBroker("127.0.0.1", server.port, "b")
        try {
          var quiet = false
          while (!quiet && failure.isEmpty) {
            val got = b.drainToStaging("db", staging, count = 64)
            staged.addAndGet(got)
            if (got == 0) { if (producerDone) quiet = true else Thread.sleep(1) }
          }
        } catch { case t: Throwable => failure = Some(t) }
        finally b.close()
      }, "race-consumer")
      producer.start(); consumer.start()
      producer.join(60000); consumer.join(60000)   // liveness guard
      assert(!producer.isAlive && !consumer.isAlive, "race threads wedged")
      failure.foreach(throw _)
      assert(staged.get == n, s"staged ${staged.get} of $n")
      // file-name order is chronological (zero-padded ids); concatenated
      // lines must be the payload sequence exactly once each, in order
      val lines = java.nio.file.Files.list(Paths.get(staging)).toArray
        .map(_.toString).sorted
        .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
      assert(lines.toSeq == payloads, {
        val firstDiff = lines.toSeq.zip(payloads).indexWhere { case (a, b) => a != b }
        s"staged stream diverges (len ${lines.length} vs $n, first diff at $firstDiff)"
      })
    } finally server.close()
  }

  test("race: MAXLEN trim during drain never duplicates or reorders; gaps only move forward") {
    // same race under a small cap and a deliberately slow consumer:
    // entries trimmed before a poll reads them are GONE (the documented
    // at-most-cap contract, RUNBOOK broker table) — but the staged
    // output must still be duplicate-free, strictly ordered, and a
    // subsequence of what was produced, with the stream fully drained
    // at the end.
    val server = new FakeRedisServer
    try {
      val root = Files.createTempDirectory("redis-race-trim").toString
      val staging = s"$root/s"
      val n = 1500
      val payloads = (1 to n).map(i => s"""{"n":$i}""")
      @volatile var producerDone = false
      @volatile var failure: Option[Throwable] = None
      val producer = new Thread(() => {
        val b = new RedisBroker("127.0.0.1", server.port, "b", queueMaxLen = 40)
        try payloads.grouped(111).foreach { chunk =>
          b.sendBatch(chunk.map(m => ("db", m)))
        } catch { case t: Throwable => failure = Some(t) }
        finally { producerDone = true; b.close() }
      }, "trim-producer")
      val consumer = new Thread(() => {
        val b = new RedisBroker("127.0.0.1", server.port, "b", queueMaxLen = 40)
        try {
          var quiet = false
          while (!quiet && failure.isEmpty) {
            val got = b.pollToStaging("db", staging, count = 16)
            if (got == 0) { if (producerDone) quiet = true else Thread.sleep(1) }
            else Thread.sleep(1) // deliberately slower than the producer
          }
        } catch { case t: Throwable => failure = Some(t) }
        finally b.close()
      }, "trim-consumer")
      producer.start(); consumer.start()
      producer.join(60000); consumer.join(60000)
      assert(!producer.isAlive && !consumer.isAlive, "race threads wedged")
      failure.foreach(throw _)
      val lines = java.nio.file.Files.list(Paths.get(staging)).toArray
        .map(_.toString).sorted
        .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
      val nums = lines.map(l => l.stripPrefix("""{"n":""").stripSuffix("}").toInt)
      assert(nums.distinct.length == nums.length, "duplicate staged events")
      assert(nums.sameElements(nums.sorted), "staged events out of order")
      assert(nums.toSet.subsetOf((1 to n).toSet))
      // the drain kept up with at least the surviving tail: the last
      // produced event is always staged, and the stream is fully consumed
      assert(nums.lastOption.contains(n))
      val b = new RedisBroker("127.0.0.1", server.port, "b", queueMaxLen = 40)
      try assert(b.pollToStaging("db", staging, count = 16) == 0)
      finally b.close()
    } finally server.close()
  }

  test("legacy-overlap guard fails CLOSED on an unlistable staging dir and on unparseable legacy names") {
    // fa1c37b review pins: (1) a listing failure must refuse (the
    // refusal precedes the tmp write and the commit, so the poller's
    // retry loop is safe) — never stage unguarded; (2) a legacy-shaped
    // file whose id components overflow a Long gets its own corrupt-
    // filename refusal, not a bogus overlap diagnosis.
    val server = new FakeRedisServer
    try {
      val broker = new RedisBroker("127.0.0.1", server.port, "b")
      try {
        // a regular FILE as the staging path: listFiles() returns null
        val asFile = Files.createTempFile("redis-notadir", ".txt").toString
        val e1 = intercept[IllegalStateException] {
          broker.refuseLegacyOverlap("db", asFile, (7L, 1L), (7L, 3L))
        }
        assert(e1.getMessage.contains("cannot list staging dir"), e1.getMessage)

        val staging = Files.createTempDirectory("redis-corrupt").toString
        // 23-digit component: legacy-shaped (not all 20-digit) but not a
        // real Redis id; even though its parseable ids are disjoint from
        // the polled range, the refusal must name the corrupt file
        Files.write(Paths.get(staging, "db-99999999999999999999999-1-1-9.txt"),
          "junk\n".getBytes("UTF-8"))
        val e2 = intercept[IllegalStateException] {
          broker.refuseLegacyOverlap("db", staging, (7L, 1L), (7L, 3L))
        }
        assert(e2.getMessage.contains("UNPARSEABLE"), e2.getMessage)
        assert(e2.getMessage.contains("db-99999999999999999999999-1-1-9.txt"), e2.getMessage)

        // ADVICE r12: the corrupt-name refusal is scoped to the schema
        // being staged — a junk file for ANOTHER schema is inert here
        // (it names no real range, so it cannot double-ingest THIS
        // schema) and must not halt the whole transport; it still
        // refuses loudly the moment its own schema is polled (above).
        broker.refuseLegacyOverlap("other", staging, (7L, 1L), (7L, 3L))
      } finally broker.close()
    } finally server.close()
  }

  test("pinned residual: trimPlausible accepts an at-cap stream that never trimmed") {
    // ADVICE r11: length >= recordedCap proves a trim was REACHABLE,
    // not that one occurred — real Redis trims `MAXLEN ~` lazily, so a
    // never-trimmed stream can sit at (or above) the cap, and a
    // tampered (XDEL'd) batch head on such a stream would be tolerated
    // as a trim. No Redis signal separates the two (trimPlausible
    // scaladoc); this pins the boundary so a future tightening is a
    // visible diff here. The fake trims exactly, so "at cap, zero
    // trims" is the closest reachable shape.
    val server = new FakeRedisServer
    try {
      val broker = new RedisBroker("127.0.0.1", server.port, "b",
        queueMaxLen = 5)
      for (i <- 1 to 5)
        broker.send("db", ev("t", "insert", i.toLong, i.toDouble, 100L + i))
      assert(broker.length("db") == 5)     // exactly at cap, nothing trimmed
      assert(broker.trimPlausible("db"))   // ...yet a trim is presumed reachable
      broker.close()
    } finally server.close()
  }

  test("staging refuses a LEGACY-named file overlapping the polled id range (never deletes)") {
    // ADVICE r11: a poll that crashed under the pre-padding naming
    // re-stages under the padded name while the legacy file still holds
    // the overlap — double ingest. pollToStaging now detects and throws;
    // the legacy file must survive (the offset log may reference it).
    val server = new FakeRedisServer
    try {
      val root = Files.createTempDirectory("redis-legacy").toString
      val staging = s"$root/s"
      Files.createDirectories(Paths.get(staging))
      val broker = new RedisBroker("127.0.0.1", server.port, "b")
      val raw = new graft.sources.RespClient("127.0.0.1", server.port)
      try {
        for (i <- 1 to 3)
          raw.command("XADD", "synch:b:db", s"7-$i", "msg", s"""{"n":$i}""")
      } finally raw.close()
      // the crashed pre-upgrade poll staged [7-1 .. 7-3] unpadded
      val legacy = Paths.get(staging, "db-7-1-7-3.txt")
      Files.write(legacy, "stale\n".getBytes("UTF-8"))
      val e = intercept[IllegalStateException] {
        broker.pollToStaging("db", staging)
      }
      assert(e.getMessage.contains("LEGACY-named"), e.getMessage)
      assert(Files.exists(legacy), "the legacy file must never be deleted")
      // the scan runs on EVERY poll (deliberately uncached — see the
      // refuseLegacyOverlap comment), so the SAME broker instance
      // recovers as soon as the operator clears the legacy file, and a
      // non-overlapping legacy file does not block later ranges
      Files.delete(legacy)
      Files.write(Paths.get(staging, "db-1-1-1-9.txt"), "old\n".getBytes("UTF-8"))
      try assert(broker.pollToStaging("db", staging) == 3)
      finally broker.close()
    } finally server.close()
  }
}
