package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Optimization-round measurement aid: dump `.explain("formatted")` for
  * each declared query to `<outDir>/<query>.txt` so plan-shape claims
  * (Exchange count, join strategy, PushedFilters/ReadSchema) are
  * reviewable without running Spark. Session configs mirror Bench so the
  * dumped plan is the benched plan (AQE initial plan; the runtime plan
  * may coalesce/convert further — noted in OPTIMIZATION_r16.md where it
  * matters).
  *
  * Usage: PlanDump <sfDir> <outDir> [q1,q2,...]
  *
  * r17: `GRAFT_PLAN_EXECUTED=1` additionally EXECUTES each query (noop
  * sink) with a QueryExecutionListener attached and appends every
  * executed plan to the dump — the only plan evidence that exists for
  * the eager checkpoint-choreographed operators (their returned frame
  * explains as `Scan ExistingRDD`; the data-moving plans run inside
  * construction as localCheckpoint jobs).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <outDir> [q1,q2,...]")
    val Array(sfDir, outDir) = args.take(2)
    val only = graft.queries.QuerySpec.subset(args.drop(2).headOption,
      SparkEntry.queries.keySet, "unknown queries")
    val spark = Tables.session()
    Files.createDirectories(Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val executedMode = sys.env.get("GRAFT_PLAN_EXECUTED").exists(_ == "1")
    names.foreach { name =>
      try {
        val captured = java.util.Collections.synchronizedList(
          new java.util.ArrayList[String]())
        val listener = new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(f: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              d: Long): Unit = captured.add(qe.executedPlan.toString)
          override def onFailure(f: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              e: Exception): Unit = ()
        }
        if (executedMode) spark.listenerManager.register(listener)
        val txt = try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val txt0 = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          if (!executedMode) txt0
          else {
            df.write.format("noop").mode("overwrite").save()
            // the listener bus is async — wait for the plan list to settle
            var last = -1; var stable = 0
            val deadline = System.nanoTime() + 10_000_000_000L
            while (stable < 3 && System.nanoTime() < deadline) {
              Thread.sleep(100)
              val n = captured.size()
              if (n == last) stable += 1 else { stable = 0; last = n }
            }
            import scala.jdk.CollectionConverters._
            txt0 + captured.asScala.zipWithIndex.map { case (p, i) =>
              s"\n\n== Executed plan ${i + 1}/${captured.size} ==\n$p"
            }.mkString
          }
        } finally if (executedMode) spark.listenerManager.unregister(listener)
        Files.write(Paths.get(outDir, s"$name.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
