package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    SettleGuard.install()
    // optional 3rd arg: comma-separated query subset for local iteration
    // (the driver always runs the full set)
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [q1,q2,...]")
    val Array(sfDir, outDir) = args.take(2)
    val only = graft.queries.QuerySpec.subset(args.drop(2).headOption,
      SparkEntry.queries.keySet, "unknown queries")
    val spark = Tables.session()
    new java.io.File(outDir).mkdirs()
    var ok = 0
    val failedNames = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        ok += 1
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failedNames += name
        // a PREVIOUS run's parquet for this query must not survive: the
        // driver's DuckDB compare would validate the stale (passing)
        // result and the regression would be invisible
        val staleDir = Paths.get(outDir, name)
        if (Files.exists(staleDir)) {
          Files.walk(staleDir).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.delete(p))
        }
      }
    }
    // Funnel-distinguishing fixture (r16, VERDICT r15 #5a): the driver
    // data saturates every user at stage 3, so the funnel invariant
    // could not distinguish greedy-order semantics on FINAL values.
    // Dump the deterministic fixture AND the engine's funnel over it;
    // invariants.py verifies the pair definitionally. Not oracle-gated
    // (the oracle views are the sf tables); skipped on subset runs.
    // r17 (VERDICT r16 #8): the dumps live in a SIBLING directory
    // (`${outDir}_fixtures`), not inside outDir — the driver's DuckDB
    // compare enumerates outDir's children and was flagging both
    // fixtures as `no_oracle` every round. invariants.py derives the
    // same sibling path (with a fallback to the old in-dir location for
    // pre-r17 dumps).
    if (only.isEmpty) try {
      val fxDir = s"${outDir.stripSuffix("/")}_fixtures"
      val fx = DataGen.funnelFixtureEvents(spark)
      fx.coalesce(1).write.mode("overwrite")
        .parquet(s"$fxDir/funnel_fixture_events")
      graft.ops.SessionOps.funnelStages(fx, Seq("view", "click", "purchase"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$fxDir/session_funnel_fixture")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] funnel fixture failed: ${e.getMessage}")
      failedNames += "funnel_fixture"
    }
    // one grep-able summary (the verify recipe greps "failed:"; a count
    // line catches the silent-shrink case where a query vanished from
    // the map entirely and nothing individual ever failed)
    System.err.println(s"[verify] summary: $ok ok, ${failedNames.size} failed" +
      (if (failedNames.nonEmpty) s": ${failedNames.mkString(", ")}" else ""))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // subset runs (local iteration) write a MATCHING oracle subset, so
    // check.py doesn't fail every un-run query as "no spark output";
    // the driver always runs the full set and gets the full map
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
