package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Optimization-round measurement aid (guide §1/§7): run ONE declared
  * query with the Bench session shape and print a per-job / per-stage
  * breakdown — wall clock, summed task time, shuffle read/write bytes,
  * input bytes, task count — from a SparkListener (the sandbox has no
  * Spark UI). One untimed warmup pass absorbs codegen, mirroring Bench,
  * so the profiled pass is the steady-state cost.
  *
  * Usage: Profile <sfDir> <query> [passes=1]
  */
object Profile {
  final case class StageRow(stageId: Int, name: String, tasks: Int,
                            var taskTimeMs: Long, var shufReadMb: Double,
                            var shufWriteMb: Double, var inputMb: Double,
                            var wallMs: Long)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query> [passes]")
    val (sfDir, qname) = (args(0), args(1))
    val passes = args.drop(2).headOption.map(_.toInt).getOrElse(1)
    val spark = Tables.session()
    val fn = SparkEntry.queries(qname)

    val jobs = mutable.LinkedHashMap.empty[Int, (String, Long, Long)] // id -> (desc, t0, t1)
    val stages = mutable.LinkedHashMap.empty[Int, StageRow]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.synchronized { jobs(e.jobId) = (desc, e.time, 0L) }
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) {
        jobs.synchronized {
          jobs.get(e.jobId).foreach { case (d, t0, _) => jobs(e.jobId) = (d, t0, e.time) }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages(si.stageId) = StageRow(si.stageId, si.name, si.numTasks,
            m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.bytesRead / 1e6,
            (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(-1L))
        }
      }
    })

    // warmup (codegen + broadcast + parquet footers), untimed
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    for (p <- 1 to passes) {
      jobs.clear(); stages.clear(); stageToJob.clear()
      recording = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      recording = false
      // listener bus is async — give the tail events a moment to land
      Thread.sleep(300)
      println(f"== pass $p: $qname wall $wall%.3f s, ${jobs.size} jobs, ${stages.size} stages ==")
      jobs.toSeq.sortBy(_._1).foreach { case (jid, (desc, s0, s1)) =>
        val sids = stageToJob.filter(_._2 == jid).keys.toSeq.sorted
        val jw = if (s1 > 0) (s1 - s0) / 1e3 else -1.0
        println(f"  job $jid%3d wall $jw%7.3f s  stages=${sids.mkString(",")}  $desc")
        sids.flatMap(stages.get).foreach { r =>
          println(f"    stage ${r.stageId}%4d tasks=${r.tasks}%4d wall=${r.wallMs / 1e3}%7.3f s taskTime=${r.taskTimeMs / 1e3}%8.3f s in=${r.inputMb}%8.1f MB sr=${r.shufReadMb}%8.2f MB sw=${r.shufWriteMb}%8.2f MB  ${r.name.take(80)}")
        }
      }
    }
    spark.stop()
  }
}
