package perfbench

import graft.{Bench, DataGen, SparkEntry}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.SessionDrain
import org.apache.spark.sql.types._
import scala.collection.mutable

/** The operator suite: `Bench.headline` queries built by
  * `SparkEntry.queries` over `DataGen` tables and run through the noop
  * sink, the way the program's own bench runs them. */
object Suite {

  val families: Seq[String] = Seq("q", "cdc", "engine", "dedup", "ann", "text", "corpus", "graph",
    "sketch", "session", "event", "embed", "multimodal", "join", "envelope")

  /** Operator family of a query, from its name. `cdc` holds the
    * snapshot/transform/apply operators (s3_, t*_, a*_). */
  def family(name: String): String = {
    val prefix = name.takeWhile(_ != '_')
    if (name.matches("q\\d+_.*")) "q"
    else if (name.matches("(s|t|a)\\d_.*")) "cdc"
    else if (name == "split_assign" || name == "sample_stratified") "corpus"
    else if (families.contains(prefix)) prefix
    else if (name.contains("join")) "join"
    else "other"
  }

  /** Every `stride`-th query of each family, in headline order (the first
    * of each family always included), so every family stays measured. */
  def subset(stride: Int): Seq[String] = {
    val idx = Bench.headline.groupBy(family).values
      .flatMap(qs => qs.zipWithIndex.collect { case (q, i) if i % stride == 0 => q }).toSet
    Bench.headline.filter(idx)
  }

  /** DataGen's ten tables. DataGen copies region and nation from a source
    * directory; the benchmark writes those two fixed TPC-H dimension
    * tables itself so it needs no external data. */
  def generate(spark: SparkSession, dir: Path, mult: Double): Unit = {
    Cdc.rmrf(dir)
    val src = dir.resolve("dims")
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    spark.createDataFrame(java.util.Arrays.asList(
      regions.zipWithIndex.map { case (n, i) => org.apache.spark.sql.Row(i, n) }: _*),
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))))
      .coalesce(1).write.parquet(s"$src/region.parquet")
    spark.createDataFrame(java.util.Arrays.asList(
      (0 until 25).map(i => org.apache.spark.sql.Row(i, s"NATION_$i", i % 5)): _*),
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))))
      .coalesce(1).write.parquet(s"$src/nation.parquet")
    DataGen.gen(spark, dir.resolve("data").toString, mult, src.toString)
  }

  final case class QueryRun(name: String, startMs: Double, constructEndMs: Double, endMs: Double, ok: Boolean) {
    def ms: Double = endMs - startMs
  }

  def run(spark: SparkSession, conf: Conf, tracer: Tracer, rec: Option[Recorder], rep: Report): Unit = {
    spark.sparkContext.setLocalProperty("perfbench.layer", "suite")
    val root = conf.work.resolve("suite")
    val setupMs = (1 to conf.setups).map(_ => Stats.timed(generate(spark, root, conf.suiteMult))._2)
    System.err.println(s"[perfbench] suite set-ups took ${setupMs.map(_.round).mkString(", ")} ms")
    val tWarm = System.nanoTime()
    rep.e2e("setup_s") = (Stats.median(setupMs) / 1000, "s")
    rep.named("setup_s") = rep.e2e("setup_s")
    val data = root.resolve("data").toString
    val names = if (conf.suiteStride <= 1) Bench.headline else subset(conf.suiteStride)
    rep.named("queries") = (names.size.toDouble, "count")

    // untimed warm pass: compiles each query's code, and its outputs are
    // the ones the DuckDB oracle check compares (outside the timed passes)
    val out = root.resolve("outputs")
    val warmFailed = names.filterNot { n =>
      try {
        SparkEntry.queries(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $n failed in the warm pass: ${e.getMessage}"); false }
    }
    rep.check("warm_pass_runs", warmFailed.map(n => s"$n threw"))
    System.err.println(f"[perfbench] warm pass took ${Stats.msSince(tWarm)}%.0f ms")
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"), Stats.jsonObj(
      names.filterNot(warmFailed.contains).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> Stats.jsonStr(_)))))
    rep.named("oracle_outputs") = (names.size - warmFailed.size.toDouble, "count")

    def pass(): Seq[QueryRun] = names.map { n =>
      SessionDrain.drain(spark.sparkContext)
      val t0 = Clock.nowMs
      var tc = t0
      val ok = try {
        val df = SparkEntry.queries(n)(spark, data)
        tc = Clock.nowMs
        df.write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}"); false }
      QueryRun(n, t0, tc, Clock.nowMs, ok)
    }

    // at least `suitePasses` timed passes, and more while another one is
    // expected to end within `--seconds`; the printed percentiles pool
    // every query's time from every pass (passes x queries samples)
    val tTimed = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Seq[QueryRun]]
    while (passes.size < conf.suitePasses ||
      Stats.msSince(tTimed) * (passes.size + 1) / passes.size <= conf.seconds * 1000.0)
      passes += pass()
    val timed = passes.flatten.toSeq
    names.foreach(n => System.err.println(
      f"[perfbench] $n ${timed.filter(_.name == n).map(_.ms.round).mkString(", ")} ms"))
    val failed = timed.filterNot(_.ok)
    rep.attempted += timed.size
    rep.failed += failed.size
    rep.check("timed_passes_run", failed.map(q => s"${q.name} threw"))
    val ms = timed.map(_.ms)
    val tailQ = Stats.supportedTail(ms.size, Seq(0.9, 0.75))
    rep.named("passes") = (passes.size.toDouble, "count")
    rep.named("suite_s") = (ms.sum / 1000 / passes.size, "s")
    rep.named("query_p50_ms") = (Stats.median(ms), "ms")
    rep.named("query_p90_ms") = (Stats.pct(ms, 0.9), "ms")
    if (tailQ != 0.9) {
      rep.named(f"query_p${tailQ * 100}%.0f_ms") = (Stats.pct(ms, tailQ), "ms")
      rep.notes += f"query tail reported at p${tailQ * 100}%.0f: ${ms.size} timed queries leave fewer than ten beyond p90"
    }
    rep.named("construct_p50_ms") = (Stats.median(timed.map(q => q.constructEndMs - q.startMs)), "ms")
    // the gated figures take each query's fastest timed pass, as graft.Bench
    // does, so a burst of host contention during one pass does not count
    val best = names.flatMap(n => timed.filter(q => q.name == n && q.ok).map(_.ms).minOption)
    rep.named("best_p50_ms") = (Stats.median(best), "ms")
    rep.named("best_pass_s") = (best.sum / 1000, "s")
    rep.e2e("p50_ms") = rep.named("best_p50_ms")
    rep.e2e("rate_per_s") = (best.size / (best.sum / 1000), "1/s")

    rec.foreach { r =>
      r.register(spark)
      val window = new SparkCounters.Window(conf.cores)
      val traced = pass()
      rep.attempted += traced.size
      rep.failed += traced.count(!_.ok)
      rep.check("traced_pass_runs", traced.filterNot(_.ok).map(q => s"${q.name} threw"))
      Thread.sleep(1000) // let the listener bus deliver the last events
      layers(r, traced, tracer, rep)
      window.metrics(r).foreach { case (n, v, u) => rep.layer(n, v, u) }
      // against the last untraced pass, the nearest in JIT warmth
      rep.layer("trace.overhead_ratio", traced.map(_.ms).sum / passes.last.map(_.ms).sum - 1, "ratio")
    }
  }

  /** The suite's layer split. Per query: construction (its own span, with
    * the jobs it started), then the action: planning phases, time inside
    * jobs, and the rest (driver-side gaps). Totals over one pass. The
    * spans go to the trace: query, construct and execute, with planning
    * phases and busy job intervals (concurrent jobs merged) below them. */
  def layers(r: Recorder, qs: Seq[QueryRun], tracer: Tracer, rep: Report): Unit = {
    val jobs = r.jobRecs
    val phases = r.actionRecs.flatMap(_.phases).map(p => (p._2, p._3))
    def jobsIn(a: Double, b: Double) = jobs.filter { case (j, _) => j.startMs >= a - 1 && j.startMs <= b + 1 }
    val per = qs.map { q =>
      val root = tracer.add(s"suite.query.${q.name}", 0L, q.startMs, q.endMs)
      val cons = tracer.add("suite.construct", root, q.startMs, q.constructEndMs)
      val exec = tracer.add("suite.execute", root, q.constructEndMs, q.endMs)
      val cJobs = jobsIn(q.startMs, q.constructEndMs)
      val xJobs = jobsIn(q.constructEndMs, q.endMs)
      Intervals.merge(cJobs.map(j => (j._1.startMs, j._1.endMs)))
        .foreach { case (a, b) => tracer.add("spark.jobs", cons, a, b) }
      val plans = phases.filter(p => p._1 >= q.constructEndMs - 1 && p._2 <= q.endMs + 1)
      plans.foreach { case (a, b) => tracer.add("suite.plan", exec, a, b) }
      val busy = Intervals.merge(xJobs.map(j => (j._1.startMs, j._1.endMs)))
      busy.foreach { case (a, b) => tracer.add("spark.jobs", exec, a, b) }
      val planMs = Intervals.unionMs(plans, q.constructEndMs, q.endMs)
      val jobMs = Intervals.unionMs(busy, q.constructEndMs, q.endMs)
      val both = Intervals.unionMs(plans ++ busy, q.constructEndMs, q.endMs)
      (q, cJobs.size, planMs, jobMs, (q.endMs - q.constructEndMs) - both, cJobs ++ xJobs, root)
    }
    rep.layer("suite.construct_ms", qs.map(q => q.constructEndMs - q.startMs).sum, "ms")
    rep.layer("suite.construct_jobs", per.map(_._2).sum.toDouble, "count")
    rep.layer("suite.plan_ms", per.map(_._3).sum, "ms")
    rep.layer("suite.job_active_ms", per.map(_._4).sum, "ms")
    rep.layer("suite.driver_gap_ms", per.map(_._5).sum, "ms")
    val allJobs = per.flatMap(_._6)
    rep.layer("suite.jobs", allJobs.size.toDouble, "count")
    rep.layer("suite.tasks", allJobs.map(_._2.tasks).sum.toDouble, "count")
    val stages = r.stageSizes(allJobs.map(_._1.id).toSet)
    rep.layer("suite.single_task_stage_frac",
      if (stages.isEmpty) 0.0 else stages.count(_ == 1).toDouble / stages.size, "ratio")
    families.foreach { f =>
      rep.layer(s"suite.family_ms.$f", qs.filter(q => family(q.name) == f).map(_.ms).sum, "ms")
    }
    val roots = per.map(_._7).toSet
    Trace.checkCoverage(tracer.layerCoverage(tracer.spans.filter(s => roots(s.id))), "query", rep)
  }
}
