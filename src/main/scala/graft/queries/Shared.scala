package graft.queries

import graft.Tables
import graft.ops.{Changelog, DedupOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers more than one query family uses. This object never refers to
  * `SparkEntry`: the family objects initialise while `SparkEntry` is
  * still initialising its specs, so an eager oracle string reading a
  * `SparkEntry` field would read `null`. */
private[queries] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  def changelog(s: SparkSession, dir: String): DataFrame =
    Changelog.fromEvents(t(s, dir, "events"))

  /** The oracle-side changelog CTE head (DuckDB twin of [[changelog]]). */
  val CL: String = "WITH " + Changelog.sqlCte

  /** Shared edge list for the duplicate-graph family (components /
    * keep_one / degree / pagerank): LSH band-bucket CANDIDATE pairs only.
    * The oracle's `minhashPairsCte` never Jaccard-verifies — it emits
    * distinct same-bucket pairs — so running the graph queries through
    * `minhashLsh(threshold = 0.0)` paid the full shingle-intersection
    * verify chain (two exploded-shingle joins, ~600M rows at sf10) for a
    * filter that passes everything at threshold 0. The one observable
    * difference is shingle-less (<3-token) documents: the verify chain's
    * inner sizes-join dropped them, and the oracle's NULL minhash bucket
    * never equi-joins — so candidates are pre-filtered to shingle-bearing
    * docs with a scan-stage predicate (no shuffle). Pair set is
    * byte-identical; the dead verify is gone. sf10: components 19.7→6.7s,
    * pagerank 23.9→8.8s, keep_one 23.6→6.9s, degree 11.0→3.4s.
    */
  def graphPairs(docs: DataFrame): DataFrame = {
    import graft.functions.CrossHash.tokens
    // "has a 3-gram" ⇔ "has ≥3 tokens": the token-count test is the same
    // predicate without materializing the gram array a second time in the
    // scan (minhashCandidates builds it again for the signature anyway)
    DedupOps.minhashCandidates(
      docs.filter(size(tokens(col("text"))) >= 3), maxBucket = 64)
      .select(col("id1"), col("id2"))
  }

  /** Shared decimal cast: exact money arithmetic in both engines. */
  def dec2(c: Column): Column = c.cast("decimal(12,2)")

  // Parquet ms-timestamps arrive as TIMESTAMP_NTZ; in a UTC session the
  // LTZ reinterpretation is exactly DuckDB's naive epoch_us.
  val tsUs: Column => Column = c => unix_micros(c.cast("timestamp_ltz"))
}
