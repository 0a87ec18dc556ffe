package graft.sink

import graft.SparkSpec
import graft.model.Engine
import graft.run.{Consume, FullEtl, TableSync}
import graft.streaming.EventSource
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Shell
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

/** `Tables.session` resolves `file:` to [[NoForkLocalFileSystem]] and
  * [[NoForkLocalFs]]: the store, the snapshot ETL and the consume loop's
  * checkpoint start no process through Hadoop's `Shell`, and every
  * overridden call does what the stock local filesystem does. */
class NoForkLocalFsSpec extends SparkSpec {

  private val fileUri = new URI("file:///")

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def initialized[F <: FileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(fileUri, conf); fs
  }

  /** A fresh, uncached instance of the class Hadoop resolves `file:` to
    * without the session's keys (on Spark's classpath, Hive's
    * `ProxyLocalFileSystem`). */
  private def stockLocal(conf: Configuration): LocalFileSystem = {
    val cls = FileSystem.getFileSystemClass("file", new Configuration(false))
    initialized(cls.getDeclaredConstructor().newInstance().asInstanceOf[LocalFileSystem], conf)
  }

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  /** Every path under `root`, relative, with its `rwx` string. */
  private def modes(root: JPath): Seq[(String, String)] =
    Using.resource(Files.walk(root))(_.iterator.asScala.toList).filter(_ != root)
      .map(p => root.relativize(p).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
      .sorted

  /** The processes `body` started through Hadoop's `Shell`, each as its
    * command and the first frame outside `Shell`, from a JVM-wide JFR
    * recording of `jdk.ProcessStart`, so task threads count too. */
  private def shellForks(body: => Unit): Seq[String] = {
    val _ = Shell.WINDOWS // Shell's initializer probes for setsid with a process of its own
    val dump = Files.createTempFile("forks", ".jfr")
    val rec = new Recording
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
    } finally rec.close()
    RecordingFile.readAllEvents(dump).asScala.toSeq.flatMap { e =>
      val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
      val inShell = frames.lastIndexWhere(_.startsWith("org.apache.hadoop.util.Shell"))
      if (inShell < 0) None
      else Some(s"${e.getString("command")} <- ${frames.lift(inShell + 1).getOrElse("?")}")
    }
  }

  private val valueSchema = StructType(Seq(
    StructField("id", LongType), StructField("amount", DoubleType)))

  private def ev(action: String, id: Long, amount: Double, ts: Long): String =
    s"""{"schema":"db","table":"t","action":"$action","values":"{\\"id\\":$id,\\"amount\\":$amount}","event_unixtime":$ts,"action_seq":2}"""

  test("the session resolves file: to the no-fork classes wherever Hadoop looks it up") {
    for (conf <- Seq(hadoopConf, spark.sparkContext.hadoopConfiguration)) {
      assert(FileSystem.get(fileUri, conf).getClass == classOf[NoForkLocalFileSystem])
      assert(FileSystem.getLocal(conf).getClass == classOf[NoForkLocalFileSystem])
      assert(new Path("/tmp").getFileSystem(conf).getClass == classOf[NoForkLocalFileSystem])
      assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass == classOf[NoForkLocalFs])
    }
    assert(FileSystem.getLocal(hadoopConf).getRawFileSystem.getClass == classOf[NoForkRawLocalFileSystem])
  }

  test("the store, a snapshot write and two checkpointed micro-batches fork nothing through Shell") {
    // the detector sees a fork when there is one: a stock setPermission forks chmod
    val stock = initialized(new RawLocalFileSystem, hadoopConf)
    val probe = Files.createTempFile("probe", ".txt")
    val control = shellForks(stock.setPermission(new Path(probe.toUri), perm("640")))
    assert(control.exists(_.contains("chmod")), control)

    val root = tmp("noforks")
    val tables = Seq(TableSync("db", "t", valueSchema, Seq("id"), Engine.ReplacingMergeTree))
    val events = root.resolve("events"); Files.createDirectories(events)
    Files.write(events.resolve("b0.json"),
      Seq(ev("insert", 1, 10.0, 100), ev("insert", 2, 20.0, 110)).mkString("\n").getBytes(UTF_8))
    Files.write(events.resolve("b1.json"), ev("update", 1, 11.0, 200).getBytes(UTF_8))
    import spark.implicits._
    val forks = shellForks {
      val store = new ParquetStateStore(spark, s"$root/store")
      store.append(Seq(1L, 2L).toDF("id"), 0)
      store.append(Seq(3L).toDF("id"), 1)
      store.compact(store.readLog().get)

      val snap = FullEtl.read(spark, FullEtl.ParquetSource(s"$sf/orders.parquet"))
      Consume.applyBatch(TableSync("db", "orders", snap.schema, Seq("o_orderkey"), Engine.CollapsingMergeTree),
        new ParquetStateStore(spark, s"$root/etl"), Consume.snapshotAsChangelog(snap), -1L)

      val q = Consume.start(spark, EventSource.files(spark, events.toString, maxFilesPerTrigger = 1),
        tables, s"$root/state", s"$root/ckpt", triggerInterval = "100 milliseconds")
      try q.processAllAvailable() finally q.stop()
      assert(q.lastProgress.batchId >= 1, "expected two micro-batches")
    }
    assert(forks.isEmpty, forks.mkString("; "))

    val state = Consume.currentState(tables.head, new ParquetStateStore(spark, s"$root/state/db/t")).get
      .select("id", "amount").as[(Long, Double)].collect().toSet
    assert(state == Set((1L, 11.0), (2L, 20.0)))
  }

  test("files and directories get the modes a stock local FS gives them under the same umask") {
    def layout(fs: FileSystem): Seq[(String, String)] = {
      val root = tmp("modes")
      val r = new Path(root.toUri)
      fs.mkdirs(new Path(r, "a/b"))
      fs.mkdirs(new Path(r, "p"), perm("750"))
      fs.create(new Path(r, "a/f")).close()
      fs.create(new Path(r, "g"), perm("600"), true, 4096, 1.toShort, 1L << 20, null).close()
      for (i <- 0 to 8) {
        val f = new Path(r, s"bit$i")
        fs.create(f).close()
        fs.setPermission(f, new FsPermission((1 << i).toShort))
      }
      fs.setPermission(new Path(r, "a/b"), perm("711"))
      modes(root)
    }
    for (umask <- Seq("022", "027", "077")) withClue(s"umask $umask: ") {
      val conf = hadoopConf
      conf.set("fs.permissions.umask-mode", umask)
      val ours = layout(initialized(new NoForkLocalFileSystem, conf))
      assert(ours.exists(_._1.endsWith(".f.crc")), ours)
      assert(ours == layout(stockLocal(conf)))
    }
  }

  test("rename answers as the default file: class onto a file, a directory and a missing path") {
    def outcomes(fs: FileSystem): Seq[(Boolean, Seq[(String, String)])] = {
      val root = tmp("renames")
      val r = new Path(root.toUri)
      def file(name: String, body: String): Path = {
        val p = new Path(r, name)
        Using.resource(fs.create(p))(_.write(body.getBytes(UTF_8))); p
      }
      def contents: Seq[(String, String)] =
        Using.resource(Files.walk(root))(_.iterator.asScala.toList).filter(Files.isRegularFile(_))
          .map(p => root.relativize(p).toString -> new String(Files.readAllBytes(p), UTF_8)).sorted
      fs.mkdirs(new Path(r, "d"))
      Seq(file("a", "A") -> file("b", "B"), file("c", "C") -> new Path(r, "d"),
          file("e", "E") -> new Path(r, "missing"), new Path(r, "d") -> new Path(r, "d2"))
        .map { case (src, dst) => (fs.rename(src, dst), contents) }
    }
    val ours = outcomes(FileSystem.get(fileUri, hadoopConf))
    assert(!ours.head._1, "rename onto an existing file must refuse")
    assert(ours == outcomes(stockLocal(hadoopConf)))
  }

  test("a sticky-bit setPermission takes effect") {
    val dir = tmp("sticky")
    FileSystem.get(fileUri, hadoopConf).setPermission(new Path(dir.toUri), perm("1777"))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) == Integer.parseInt("1777", 8))
  }

  test("getFileLinkStatus matches stock for files, directories and links, qualified or not") {
    val root = tmp("links")
    val file = Files.write(root.resolve("f"), "x".getBytes(UTF_8))
    val dir = Files.createDirectory(root.resolve("d"))
    val link = Files.createSymbolicLink(root.resolve("l"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dl"), root.resolve("gone"))
    val ours = initialized(new NoForkRawLocalFileSystem, hadoopConf)
    val stock = initialized(new RawLocalFileSystem, hadoopConf)
    val session = FileSystem.get(fileUri, hadoopConf)
    def view(s: FileStatus) =
      (s.getPath, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.getLen, s.getModificationTime)
    def outcome(fs: FileSystem, p: Path) = Try(view(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    for (p <- Seq(file, dir, link, dangling, root.resolve("missing"));
         q <- Seq(new Path(p.toString), new Path(p.toUri))) withClue(s"$q: ") {
      assert(outcome(ours, q) == outcome(stock, q))
      assert(outcome(session, q) == outcome(stock, q))
    }
    // the cases are meaningful: an unqualified link is reported as one
    assert(stock.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(stock.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
  }

  test("the checkpoint file manager's createAtomic round-trips with and without overwrite, as on stock LocalFs") {
    def roundTrip(conf: Configuration): Seq[String] = {
      val dir = new Path(tmp("ckptfm").toUri)
      val fm = CheckpointFileManager.create(dir, conf)
      assert(fm.isInstanceOf[FileContextBasedCheckpointFileManager])
      val f = new Path(dir, "0")
      def write(s: String, overwrite: Boolean): Unit = {
        val out = fm.createAtomic(f, overwrite)
        out.write(s.getBytes(UTF_8)); out.close()
      }
      def read(): String = Using.resource(fm.open(f))(in => new String(in.readAllBytes, UTF_8))
      write("first", overwrite = false)
      val first = read()
      val refused = Try(write("second", overwrite = false)).failed.toOption.map(_.getClass.getSimpleName)
      val kept = read()
      write("third", overwrite = true)
      val left = fm.list(dir).map(_.getPath.getName.replaceAll("[0-9a-f-]{36}", "<uuid>")).sorted
      Seq(first, refused.toString, kept, read()) ++ left
    }
    val ours = roundTrip(hadoopConf)
    assert(ours.take(4) == Seq("first", "Some(FileAlreadyExistsException)", "first", "third"))
    val stockConf = hadoopConf
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    assert(FileContext.getFileContext(stockConf).getDefaultFileSystem.getClass.getName ==
      "org.apache.hadoop.fs.local.LocalFs")
    assert(roundTrip(stockConf) == ours)
  }
}
