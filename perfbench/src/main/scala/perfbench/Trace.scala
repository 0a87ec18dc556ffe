package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Epoch milliseconds with sub-millisecond resolution: one wall-clock
  * anchor plus monotonic deltas, so the benchmark's own spans and Spark's
  * listener timestamps (epoch ms) share one time axis. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

final case class Span(id: Long, name: String, parent: Long, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span buffer, written out once when the benchmark ends. A
  * disabled tracer records nothing; the body still runs. */
final class Tracer(val enabled: Boolean) {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def add(name: String, parent: Long, startMs: Double, endMs: Double): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      buf.add(Span(id, name, parent, startMs, endMs))
      id
    }

  /** Run `body` inside a span; the body receives the span's id so nested
    * spans can name their parent. */
  def span[A](name: String, parent: Long = 0L)(body: Long => A): A =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.nowMs
      try body(id)
      finally buf.add(Span(id, name, parent, t0, Clock.nowMs))
    }

  def spans: Seq[Span] = buf.asScala.toSeq.sortBy(_.startMs)

  /** Self-time accounting over the span trees rooted at `roots`: a span's
    * self time is its duration minus the part its children cover. Returns
    * the sum of the self times of every span below the roots (the layers)
    * over the roots' wall time. 1 means the layers account for the wall
    * time exactly; less leaves time unattributed; more double-counts. */
  def layerCoverage(roots: Seq[Span]): Double = {
    val byParent = spans.groupBy(_.parent)
    def kids(s: Span) = byParent.getOrElse(s.id, Nil)
    def subtree(s: Span): Double =
      s.ms - Intervals.unionMs(kids(s).map(k => (k.startMs, k.endMs)), s.startMs, s.endMs) +
        kids(s).map(subtree).sum
    val wall = roots.map(_.ms).sum
    if (wall <= 0) 1.0 else roots.flatMap(kids).map(subtree).sum / wall
  }


  def flush(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s => Stats.jsonObj(Seq(
      "id" -> s.id.toString, "name" -> Stats.jsonStr(s.name),
      "parent" -> s.parent.toString, "start_ms" -> Stats.jsonNum(s.startMs),
      "end_ms" -> Stats.jsonNum(s.endMs))))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** One Spark job as the listener saw it. `tag` is the layer the job was
  * submitted from: "stream" for jobs carrying a streaming query id, else
  * the `perfbench.layer` local property of the submitting thread. */
final case class JobRec(id: Int, startMs: Double, var endMs: Double, tag: String) {
  def ms: Double = endMs - startMs
}

final case class TaskAgg(var tasks: Int = 0, var runMs: Double = 0, var cpuMs: Double = 0,
                         var shuffleRead: Long = 0, var shuffleWrite: Long = 0,
                         var spill: Long = 0, var peakMem: Long = 0,
                         var recordsOut: Long = 0, var bytesOut: Long = 0) {
  def +=(o: TaskAgg): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuMs += o.cpuMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; peakMem = math.max(peakMem, o.peakMem)
    recordsOut += o.recordsOut; bytesOut += o.bytesOut
  }
}

/** A finished SQL action: its planning phases and, for file writes, the
  * output path (which names the store and version written). */
final case class ActionRec(durationMs: Double, phases: Seq[(String, Double, Double)],
                           outputPath: Option[String]) {
  def startMs: Double = if (phases.isEmpty) Double.NaN else phases.map(_._2).min
}

/** Spark's public listener interfaces, registered by the benchmark:
  * SparkListener (jobs, stages, task metrics), QueryExecutionListener
  * (planning phases and output of every action) and
  * StreamingQueryListener (per-trigger `durationMs`). */
final class Recorder extends SparkListener {
  private val lock = new Object
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val stageTasks = scala.collection.mutable.HashMap.empty[Int, Int]
  private val perJob = scala.collection.mutable.HashMap.empty[Int, TaskAgg]
  private val actions = new ConcurrentLinkedQueue[ActionRec]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tag =
      if (props.exists(_.getProperty("sql.streaming.queryId") != null)) "stream"
      else props.flatMap(p => Option(p.getProperty("perfbench.layer"))).getOrElse("other")
    lock.synchronized {
      jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN, tag)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    lock.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized(stageTasks(e.stageInfo.stageId) = e.stageInfo.numTasks)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    val a = TaskAgg(1, m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
      m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten)
    lock.synchronized(stageJob.get(e.stageId).foreach(j => perJob.getOrElseUpdate(j, TaskAgg()) += a))
  }

  val qel: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) =>
        (n, p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      val out = (Seq(qe.logical, qe.analyzed) ++ Option(qe.commandExecuted).toSeq)
        .flatMap(_.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString })
        .headOption
      actions.add(ActionRec(durationNs / 1e6, phases, out))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qel)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qel)
    spark.streams.removeListener(streamListener)
  }

  /** Finished jobs with their task totals, in start order. */
  def jobRecs: Seq[(JobRec, TaskAgg)] = lock.synchronized {
    jobs.values.filter(!_.endMs.isNaN).toSeq
      .map(j => (j.copy(), perJob.get(j.id).map(_.copy()).getOrElse(TaskAgg())))
  }

  /** Stage task counts of the given jobs' completed stages. */
  def stageSizes(jobIds: Set[Int]): Seq[Int] = lock.synchronized {
    stageTasks.toSeq.filter { case (s, _) => stageJob.get(s).exists(jobIds) }.map(_._2)
  }

  def actionRecs: Seq[ActionRec] = actions.asScala.toSeq
  def progressRecs: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}

object Intervals {
  /** Merge overlapping intervals (concurrent jobs become one busy span). */
  def merge(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double = Double.NegativeInfinity,
              hi: Double = Double.PositiveInfinity): Double =
    merge(iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }).map { case (a, b) => b - a }.sum
}

/** Engine counters over a window, shared by every layer (the `spark`
  * layer of the metric map). */
object SparkCounters {
  private def gcMs(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  final class Window(cores: Int) {
    private val t0 = Clock.nowMs
    private val gc0 = gcMs()

    def metrics(rec: Recorder): Seq[(String, Double, String)] = {
      val t1 = Clock.nowMs
      val gc = gcMs() - gc0
      val agg = TaskAgg()
      rec.jobRecs.filter(_._1.startMs >= t0).foreach(j => agg += j._2)
      Seq(
        ("spark.executor_run_ms", agg.runMs, "ms"),
        ("spark.executor_cpu_ms", agg.cpuMs, "ms"),
        ("spark.cpu_util", agg.cpuMs / ((t1 - t0) * cores), "ratio"),
        ("spark.gc_ms", gc, "ms"),
        ("spark.shuffle_write_bytes", agg.shuffleWrite.toDouble, "bytes"),
        ("spark.shuffle_read_bytes", agg.shuffleRead.toDouble, "bytes"),
        ("spark.spill_bytes", agg.spill.toDouble, "bytes"),
        ("spark.peak_exec_mem_bytes", agg.peakMem.toDouble, "bytes"))
    }
  }
}

object Trace {
  /** How far the layers' self times may miss the wall time they split. */
  val SelfTimeSlack = 0.10

  def checkCoverage(coverage: Double, what: String, rep: Report): Unit = {
    rep.layer("trace.selftime_coverage", coverage, "ratio")
    rep.check("trace_selftime_adds_up",
      if (math.abs(coverage - 1) <= SelfTimeSlack) Nil
      else Seq(f"layer self times cover $coverage%.3f of $what wall time (slack $SelfTimeSlack)"))
  }
}
