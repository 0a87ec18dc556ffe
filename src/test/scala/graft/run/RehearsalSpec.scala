package graft.run

import graft.SparkSpec
import graft.sink.ParquetStateStore
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

class RehearsalSpec extends SparkSpec {

  test("an in-process run parks on schedule, replays its crash window and converges exactly") {
    val work = Files.createTempDirectory("rehearsal").toString
    // 32 batches: DDL every 4th file, 8 slots — ADD, DROP, ADD, park, twice
    val (fields, failures) = Rehearsal.soak(spark.newSession(), sf, work, batches = 32)
    val f = fields.toMap
    // the page-supply bracket judges the host, not the code under test
    assert(failures.filterNot(_.startsWith("mem canary")).isEmpty, failures)
    assert(f("ddl_files") == "8")
    assert(f("expected_parks") == "2")
    assert(f("dl_ddl_statements") == f("expected_parks"))
    assert(f("crash_replayed_batch") == "true", fields)
    // the replayed batch is a DML file, not one DDL line
    assert(f("replayed_rows").toLong > 1, fields)
  }

  test("the DDL interval is 250 at the default size and leaves a small run four slots") {
    assert(Rehearsal.ddlEvery(5000) == 250)
    assert(Rehearsal.ddlEvery(32) == 4)
    assert(Rehearsal.MinBatches / Rehearsal.ddlEvery(Rehearsal.MinBatches) >= 4)
  }

  test("kill targets strictly increase inside [1, batches), reproduce per seed, and refuse small sizes") {
    for ((batches, kills) <- Seq((300, 3), (5000, 20), (128, 3), (64, 1), (1000, 30))) {
      val ts = Rehearsal.killTargets(batches, kills)
      assert(ts.length == kills)
      assert(ts.zip(ts.tail).forall { case (a, b) => a < b }, ts)
      assert(ts.forall(t => t >= 1 && t < batches), ts)
      assert(Rehearsal.killTargets(batches, kills) == ts)
    }
    assert(Rehearsal.killTargets(5000, 20, seed = 1L) != Rehearsal.killTargets(5000, 20, seed = 2L))
    val refused = intercept[IllegalArgumentException](Rehearsal.killTargets(127, 3))
    assert(refused.getMessage.contains("batches >= 128"), refused.getMessage)
    intercept[IllegalArgumentException](Rehearsal.killTargets(300, 0))
  }

  test("a child's output reaches its log and yields its batch ids and last trigger time") {
    val log = Files.createTempFile("worker", ".log")
    Files.write(log, "an earlier child's line\n".getBytes(UTF_8))
    val lines = Seq("""{"crashsoak_progress":3,"trigger_ms":410}""", "noise",
      """{"crashsoak_progress":5,"trigger_ms":380}""", """{"crashsoak_progress":4,"trigger_ms":390}""")
    val out = new Rehearsal.ChildOutput(
      new java.io.ByteArrayInputStream(lines.mkString("", "\n", "\n").getBytes(UTF_8)), log.toFile)
    out.join()
    assert(out.max == 5L && out.lastTriggerMs == 390L)
    assert(Files.readAllLines(log).asScala == "an earlier child's line" +: lines)
    val silent = new Rehearsal.ChildOutput(new java.io.ByteArrayInputStream(Array.emptyByteArray), log.toFile)
    silent.join()
    assert(silent.max == -1L)
  }

  test("a killed worker's phase is read off its checkpoint and stores") {
    import spark.implicits._
    val work = Files.createTempDirectory("killphase")
    val tables = Rehearsal.tableSyncs(new StructType())
    def touch(rel: String): Unit = {
      val f = work.resolve(rel); Files.createDirectories(f.getParent); Files.createFile(f)
    }
    def store(t: Int) = new ParquetStateStore(spark, work.resolve(s"state/db/${tables(t).table}").toString)
    def phase(stale: Set[String] = Set.empty) = Rehearsal.killPhase(spark, work.toString, tables, stale)
    Seq("ckpt/offsets/0", "ckpt/offsets/1", "ckpt/offsets/.1.crc", "ckpt/commits/0",
      "ckpt/commits/1").foreach(touch)
    assert(phase() == "between_batches")
    touch("ckpt/offsets/2")
    tables.indices.foreach(t => store(t).append(Seq(1L).toDF("id"), 1))
    assert(phase() == "before_apply")
    // a v=2 the log does not name: the apply of batch 2 began
    Seq(2L).toDF("id").write.parquet(work.resolve(s"state/db/${tables(0).table}/v=2").toString)
    assert(phase() == "apply")
    // ...unless it was already there when the worker started
    assert(phase(Rehearsal.unnamedDirs(spark, work.toString, tables)) == "before_apply")
    tables.indices.foreach(t => store(t).append(Seq(2L).toDF("id"), 2))
    assert(phase() == "after_apply")
    // a compaction folds batch 2: its entry still holds it
    store(1).compact(Seq(2L).toDF("id"))
    assert(phase() == "after_apply")
    // a compaction directory no entry names: a compaction was in flight
    Seq(2L).toDF("id").write.parquet(
      work.resolve(s"state/db/${tables(0).table}/${ParquetStateStore.CompactPrefix}2-x").toString)
    assert(phase() == "compaction")
    assert(phase(Rehearsal.unnamedDirs(spark, work.toString, tables)) == "after_apply")
  }

  test("a child JVM keeps the parent's flags but its initial heap, recordings and agents") {
    val parent = Seq("-Xmx2g", "-Xms2g", "--add-opens", "java.base/java.lang=ALL-UNNAMED",
      "-XX:StartFlightRecording=filename=/tmp/r.jfr", "-XX:FlightRecorderOptions=stackdepth=128",
      "-agentlib:jdwp=transport=dt_socket,address=5005", "-javaagent:a.jar", "-Dx=1")
    assert(Rehearsal.childJvmFlags(parent) ==
      Seq("-Xmx2g", "--add-opens", "java.base/java.lang=ALL-UNNAMED", "-Dx=1"))
  }
}
