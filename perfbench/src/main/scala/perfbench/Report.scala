package perfbench

import scala.collection.mutable

/** What one workload run produced: the workload's own metrics
  * (`named`), the benchmark's end-to-end metrics (`e2e`, the
  * names BENCHMARK.json lists, reported by every workload), the per-layer
  * metrics of a traced run (`layers`), and the correctness ledger. */
final class Report(val workload: String) {
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** Record a correctness check; a failing check is one failed operation. */
  def check(name: String, errs: Seq[String]): Unit = {
    checks += name
    if (errs.nonEmpty) {
      failures ++= errs.take(5).map(e => s"$name: $e")
      attempted += 1
      failed += 1
    }
  }

  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = (if (value.isNaN) 0.0 else value, unit)

  private def metricsJson(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    Stats.jsonObj(m.toSeq.map { case (k, (v, u)) =>
      k -> Stats.jsonObj(Seq("value" -> Stats.jsonNum(v), "unit" -> Stats.jsonStr(u)))
    })

  def toJson: String = Stats.jsonObj(Seq(
    "workload" -> Stats.jsonStr(workload),
    "correct" -> failures.isEmpty.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "checks" -> Stats.jsonArr(checks.toSeq.map(Stats.jsonStr)),
    "failures" -> Stats.jsonArr(failures.toSeq.map(Stats.jsonStr)),
    "notes" -> Stats.jsonArr(notes.toSeq.map(Stats.jsonStr)),
    "named" -> metricsJson(named),
    "e2e" -> metricsJson(e2e),
    "layers" -> metricsJson(layers)))
}
