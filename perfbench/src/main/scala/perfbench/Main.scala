package perfbench

import java.nio.file.{Path, Paths}

/** Run settings. `smoke` is the tiny-scale mode (sf0.001-sized inputs, one
  * set-up, every suite query) that the smoke test drives. */
final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean, smoke: Boolean,
                      work: Path, cores: Int = 4) {
  val setups: Int = if (smoke) 1 else 3
  // cdc snapshots relative to sf0.01: orders 15 000, lineitem ~60 000, customer 1 500
  val cdcScale: Double = if (smoke) 0.1 else 1.0
  val trickleRate: Int = 250
  val warmupMs: Int = if (smoke) 1000 else 6000
  val maxLatenessMs: Int = 1000
  val backlogFileEvents: Int = if (smoke) 2000 else 20000
  val backlogFiles: Int = if (smoke) 3 else math.max(3, seconds)
  // DataGen multiplier relative to sf0.1: 0.01 is sf0.001
  val suiteMult: Double = 0.01
  // the first query of each operator family (15); smoke runs all 130
  val suiteStride: Int = if (smoke) 1 else Int.MaxValue
  val suitePasses: Int = if (smoke) 1 else 3
}

object Conf {
  val Workloads = Seq("cdc_trickle", "cdc_backlog", "query_suite")
}

/** Entry point of the benchmark JVM. Prints one `PERFBENCH_REPORT` JSON
  * line; `run.py` adds the DuckDB oracle check and prints the result. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("smoke", "0") == "1", Paths.get(kv("work")))
    require(Conf.Workloads.contains(conf.workload), s"unknown workload ${conf.workload}")

    val spark = graft.Tables.session(s"local[${conf.cores}]", conf.cores)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val rep = new Report(conf.workload)
    val tracer = new Tracer(conf.trace)
    try {
      // the suite registers its listeners between an untraced and a traced
      // pass; the replication workloads trace the whole run, and run.py sets
      // their overhead against this checkout's untraced runs
      val rec = if (conf.trace) Some(new Recorder) else None
      if (conf.workload != "query_suite") rec.foreach(_.register(spark))
      conf.workload match {
        case "cdc_trickle" => Cdc.trickle(spark, conf, tracer, rec, rep)
        case "cdc_backlog" => Cdc.backlog(spark, conf, tracer, rec, rep)
        case "query_suite" => Suite.run(spark, conf, tracer, rec, rep)
      }
      rec.foreach { r =>
        r.unregister(spark)
        tracer.flush(conf.work.resolveSibling(s"spans-${conf.workload}.jsonl"))
        rep.layer("trace.spans", tracer.spans.size.toDouble, "count")
      }
      rep.e2e("peak_rss_mb") = (Stats.peakRssMb(), "MB")
      rep.named("peak_rss_mb") = rep.e2e("peak_rss_mb")
      rep.named("peak_heap_mb") = (Stats.peakHeapMb(), "MB")
      rep.named("fail_ratio") = (rep.failed.toDouble / math.max(1L, rep.attempted), "ratio")
      println("PERFBENCH_REPORT " + rep.toJson)
    } finally spark.stop()
  }
}
