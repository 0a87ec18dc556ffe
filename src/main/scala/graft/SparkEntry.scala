package graft

import graft.ops._
import graft.sink.{SinkKeys, SinkStrategy}
import graft.sources.CdcEnvelopes
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY.md §2 (or a
  * north-star extension) exercised over the parquet test tables; the
  * matching [[oracleSql]] is the ANSI-SQL twin the driver runs in DuckDB.
  * Column names and types are aligned pair-by-pair; all floating-point
  * outputs are either exact (integer/decimal arithmetic, identical fold
  * order) or rounded after deterministic computation.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  private def changelog(s: SparkSession, dir: String): DataFrame =
    Changelog.fromEvents(t(s, dir, "events"))

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
  private def graphPairs(docs: DataFrame): DataFrame = {
    import graft.functions.CrossHash.tokens
    // "has a 3-gram" ⇔ "has ≥3 tokens": the token-count test is the same
    // predicate without materializing the gram array a second time in the
    // scan (minhashCandidates builds it again for the signature anyway)
    DedupOps.minhashCandidates(
      docs.filter(size(tokens(col("text"))) >= 3), maxBucket = 64)
      .select(col("id1"), col("id2"))
  }

  /** Fresh store under ./target for the compaction-invariant queries —
    * scratch stays inside the repo tree and each invocation is isolated.
    * The base dir is wiped once per JVM so repeated bench/verify runs
    * don't accumulate unbounded parquet scratch across sessions. */
  private lazy val tmpStoreBase: java.nio.file.Path = {
    val base = java.nio.file.Paths.get("target", "tmp-stores")
    if (java.nio.file.Files.exists(base)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    java.nio.file.Files.createDirectories(base)
  }
  private def tmpStore(s: SparkSession): graft.sink.ParquetStateStore =
    new graft.sink.ParquetStateStore(
      s, java.nio.file.Files.createTempDirectory(tmpStoreBase, "store").toString)

  /** Shared decimal casts: exact money arithmetic in both engines. */
  private def dec2(c: Column): Column = c.cast("decimal(12,2)")
  private def dec4(c: Column): Column = c.cast("decimal(4,2)")

  /** Exact integer money grid (r16, guide §2.3 "narrower types"): a 2 dp
    * money column as LONG hundredths — the same HALF_UP 2 dp rounding as
    * [[dec2]] (so the value set is identical), but downstream arithmetic
    * is primitive long multiply/add instead of BigDecimal (a decimal
    * product/sum whose precision exceeds 18 leaves Spark's compact-long
    * representation and allocates per row; measured 1.4–1.9× on the q1/q3
    * shapes). Sums of these products go through
    * [[graft.functions.SumExactLong]] (long hot word + decimal overflow
    * word — exact at any row count), and the final `/10^k → DOUBLE` is
    * the same exact rational as the decimal form's `CAST(SUM AS DOUBLE)`,
    * so the DuckDB oracle (unchanged) hash-gates the equivalence. */
  private def e2(c: Column): Column = (dec2(c) * 100).cast("long")

  /** `CAST(Σ/10^k AS DOUBLE)` tail shared by the e2-grid aggregates: the
    * decimal(38,x) quotient is exact (all inputs have ≤ 6 dp), so the
    * double is the correctly-rounded value of the exact sum. */
  private def sumE(c: Column, div: Int): Column =
    (graft.functions.SumExactLong.sumExact(c) / div).cast("double")

  // Parquet ms-timestamps arrive as TIMESTAMP_NTZ; in a UTC session the
  // LTZ reinterpretation is exactly DuckDB's naive epoch_us.
  private val tsUs: Column => Column = c => unix_micros(c.cast("timestamp_ltz"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_region_revenue")(spark, "/root/testdata/sf0.001")

  // =====================================================================
  // Queries
  // =====================================================================
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- core analytics (declarative plans; Catalyst does pushdown,
    //     partial agg, broadcast-join selection) --------------------------
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        // r16: all four sums on the exact integer grid (see e2/sumE) —
        // per-row BigDecimal multiplies/adds become long ops; the oracle
        // stays the DECIMAL form and hash-gates the equality
        .agg(
          sumE(e2(col("l_quantity")), 100).as("sum_qty"),
          sumE(e2(col("l_extendedprice")), 100).as("sum_base_price"),
          sumE(e2(col("l_extendedprice")) * (lit(100L) - e2(col("l_discount"))),
            10000).as("sum_disc_price"),
          sumE(e2(col("l_extendedprice")) * (lit(100L) - e2(col("l_discount")))
            * (lit(100L) + e2(col("l_tax"))), 1000000).as("sum_charge"),
          count(lit(1)).as("count_order"))
    }),

    "q3_top_orders" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      o.join(li, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        // r16: revenue on the exact integer grid (e2/sumE) — the decimal
        // product (precision 22) was a per-row BigDecimal allocation
        .agg(
          sumE(e2(col("l_extendedprice")) * (lit(100L) - e2(col("l_discount"))),
            10000).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    "q5_region_revenue" -> ((s, dir) => {
      // Aggregate BELOW the customer join: revenue partial-aggregated by
      // o_custkey collapses the fact-join output to one row per customer
      // before the dimension chain. Past the broadcast threshold (sf10:
      // customer is 1.5M rows) the naive join order re-shuffles the full
      // 60M-row fact output on custkey; this shape's second exchange
      // carries (custkey, decimal, long) only. Exact: decimal sums of
      // partial decimal sums, so the oracle is byte-identical. Catalyst
      // does partial agg WITHIN an aggregate, but never pushes an
      // aggregate through a join — this is the one reordering it can't
      // derive. sf10: 21.4 -> ~7 s.
      val perCust = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        // r16: the fact-side partial revenue on the exact integer grid
        // (e2 + SumExactLong) — this is the per-row hot loop over the
        // whole fact join; the outer re-sum is over one row per customer,
        // where a plain decimal(38,0) sum is exact and cheap
        .agg(
          graft.functions.SumExactLong.sumExact(
            e2(col("l_extendedprice")) * (lit(100L) - e2(col("l_discount"))))
            .as("_rev"),
          count(lit(1)).as("_n"))
      t(s, dir, "region")
        .join(t(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
        .join(t(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
        .join(perCust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg((sum(col("_rev")) / 10000).cast("double").as("revenue"),
          sum(col("_n")).as("n_items"))
    }),

    "q2_part_supplier" -> ((s, dir) => {
      // covers the part/supplier dimensions: revenue by brand × supplier nation
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("p_partkey") === col("l_partkey"))
        .join(t(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(t(s, dir, "nation"), col("n_nationkey") === col("s_nationkey"))
        .groupBy(col("p_brand"), col("n_name"))
        // r16: revenue on the exact integer grid (e2/sumE)
        .agg(sumE(e2(col("l_extendedprice")), 100).as("revenue"),
          count(lit(1)).as("n_items"),
          max(col("p_retailprice")).as("max_retail"))
    }),

    "q4_exists_orders" -> ((s, dir) => {
      // EXISTS → left-semi join; counts per priority
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      o.join(li, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    "q6_forecast_revenue" -> ((s, dir) =>
      // TPC-H q6 shape: pure scan + pushed filters + ungrouped agg — the
      // no-join baseline every scan optimization shows up in
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp_ntz") &&
          // r16: the 2 dp rounding of e2 and dec4 is identical HALF_UP,
          // so the integer-grid between is the same predicate set
          e2(col("l_discount")).between(lit(3L), lit(7L)) &&
          col("l_quantity") < 24)
        .agg(coalesce(
          sumE(e2(col("l_extendedprice")) * e2(col("l_discount")), 10000),
          lit(0.0d)).as("revenue"),
          count(lit(1)).as("n_items"))),

    "q7_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice"))).over(w).cast("double").as("running_total"))
    }),

    "q8_rollup_revenue" -> ((s, dir) => {
      t(s, dir, "region")
        .join(t(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
        .join(t(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
        .rollup(col("r_name"), col("n_name"))
        // r16: revenue on the exact integer grid (e2/sumE)
        .agg(sumE(e2(col("o_totalprice")), 100).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    "q9_distinct_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))),

    "q10_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
    }),

    "q11_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 2)
        .select(col("o_orderpriority"), col("rank").cast("int").as("rank"),
          col("o_orderkey"), col("o_totalprice"))
    }),

    "q12_correlated_avg" -> ((s, dir) => {
      // TPC-H q17 shape — correlated scalar subquery (rows below 1/5 of
      // their part's average quantity), declared in the decorrelated
      // aggregate-join form Catalyst's subquery rewrite produces. The
      // avg comparison is multiplied through (5·qty·cnt < sum) so the
      // whole predicate stays in exact DECIMAL arithmetic — no division,
      // no float-order dependence on either engine.
      // r16: the same multiplied-through predicate on the exact integer
      // grid — 5·qty_e2·cnt stays a long (qty_e2 ≤ 5·10^3, so overflow
      // needs 3.7·10^14 rows per part); the long < decimal(38,0) compare
      // promotes exactly
      val li = t(s, dir, "lineitem")
      val pa = li.groupBy(col("l_partkey").as("_pk"))
        .agg(graft.functions.SumExactLong.sumExact(e2(col("l_quantity")))
          .as("_sum_qty"), count(lit(1)).as("_cnt"))
      li.join(pa, col("l_partkey") === col("_pk"))
        .filter(e2(col("l_quantity")) * lit(5L) * col("_cnt") < col("_sum_qty"))
        .agg(count(lit(1)).as("n_small"),
          coalesce(sumE(e2(col("l_extendedprice")), 100), lit(0.0d))
            .as("small_revenue"))
    }),

    "q13_disjunctive" -> ((s, dir) => {
      // TPC-H q19 shape — OR-of-ANDs across both join sides: Catalyst
      // extracts the common l/p-side conjuncts for pushdown below the
      // join while the residual disjunction stays on the join output
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(p, col("p_partkey") === col("l_partkey") && (
          (col("p_brand") === "Brand#4" &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#19" &&
            col("l_quantity").between(20, 30))))
        .agg(count(lit(1)).as("n_items"),
          // r16: revenue on the exact integer grid (e2/sumE)
          coalesce(sumE(e2(col("l_extendedprice")) *
            (lit(100L) - e2(col("l_discount"))), 10000),
            lit(0.0d)).as("revenue"))
    }),

    "q20_above_avg" -> ((s, dir) => {
      // uncorrelated scalar subquery: orders above the global mean price.
      // The comparison is multiplied through (price·n > total) so it
      // stays exact DECIMAL — no float mean on either engine
      // r16: sums on the exact integer grid; the per-row gate keeps one
      // decimal multiply (price_e2·n can graze 2^63 at extreme scale, so
      // the compare promotes through decimal(20,0) — exact either way)
      val o = t(s, dir, "orders")
      val g = o.agg(graft.functions.SumExactLong.sumExact(e2(col("o_totalprice")))
        .as("_sum"), count(lit(1)).as("_n"))
      o.crossJoin(broadcast(g))
        .filter(e2(col("o_totalprice")).cast("decimal(20,0)") * col("_n") > col("_sum"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_above"),
          sumE(e2(col("o_totalprice")), 100).as("above_revenue"))
    }),

    "q18_large_orders" -> ((s, dir) => {
      // TPC-H q18 shape: HAVING-filtered aggregate drives a join back to
      // the detail tables — the aggregate side is tiny after the filter,
      // so it broadcasts into the fact join
      // r16: quantity sum on the exact integer grid; the HAVING gate and
      // the output divide back exactly
      val li = t(s, dir, "lineitem")
      val big = li.groupBy(col("l_orderkey").as("_ok"))
        .agg(graft.functions.SumExactLong.sumExact(e2(col("l_quantity"))).as("_qty"))
        .filter(col("_qty") > lit(15000L))
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(big, col("_ok") === col("o_orderkey"))
        .select(col("c_name"), col("o_orderkey"),
          tsUs(col("o_orderdate")).as("o_orderdate_us"),
          col("o_totalprice"), (col("_qty") / 100).cast("double").as("total_qty"))
    }),

    "q19_anti_join" -> ((s, dir) =>
      // NOT EXISTS → left-anti: customers with no urgent order (the
      // filter pushes below the anti-join's build side)
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))),

    "q21_waiting_supplier" -> ((s, dir) => {
      // TPC-H q21 shape (suppliers who kept multi-supplier orders
      // waiting), reformulated: the classic triple lineitem self-join
      // (EXISTS other-supplier / NOT EXISTS other-late-supplier) becomes
      // ONE shuffle of lineitem by orderkey + two cheap aggregates over
      // it — per (order, supplier) lateness, then per order
      // supplier/late counts; the per-order table re-joins on the same
      // key so no second lineitem exchange. "Late" = shipped >120 days
      // after o_orderdate (this schema has no commit/receipt dates).
      val oF = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = t(s, dir, "lineitem")
        .join(oF, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 120 DAYS"))
            .cast("int").as("_late"))
      // per-order counts come from a WINDOW over the per-(order,supplier)
      // aggregate, not a second aggregate + self-join: a DataFrame reused
      // on both sides of a join is planned as two full lineitem scans +
      // two wide exchanges (Catalyst does not dedup common subplans) —
      // the window form scans lineitem ONCE
      val wOrder = Window.partitionBy(col("l_orderkey"))
      li.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("_late")).as("_s_late"))
        .withColumn("_n_supp", count(lit(1)).over(wOrder))
        .withColumn("_n_late", sum(col("_s_late")).over(wOrder))
        .filter(col("_s_late") === 1 && col("_n_supp") > 1 && col("_n_late") === 1)
        .join(t(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(10)
    }),

    "q22_idle_customers" -> ((s, dir) => {
      // TPC-H q22 shape: scalar-subquery gate (above-average balance,
      // multiplied through to exact DECIMAL — no float mean) + anti-join
      // (no order since 2001) + per-nation rollup. The gate aggregate is
      // one row → broadcast; recent orders are a date-pruned scan on the
      // anti-join build side.
      // r16: sums on the exact integer grid (same compare treatment as
      // q20 — the gate multiply promotes through decimal(20,0))
      val c = t(s, dir, "customer")
      val g = c.filter(col("c_acctbal") > 0)
        .agg(graft.functions.SumExactLong.sumExact(e2(col("c_acctbal")))
          .as("_s"), count(lit(1)).as("_n"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2001-01-01 00:00:00").cast("timestamp_ntz"))
      c.crossJoin(broadcast(g))
        .filter(e2(col("c_acctbal")).cast("decimal(20,0)") * col("_n") > col("_s"))
        .join(recent, col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          sumE(e2(col("c_acctbal")), 100).as("total_bal"))
    }),

    "q16_window_funcs" -> ((s, dir) => {
      // the full ranking-window family over one customer partition: a
      // single exchange on o_custkey feeds both sort orders (time for
      // lag/lead/seq, price for rank/ntile/distribution)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wPrice = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        row_number().over(w).cast("int").as("seq"),
        rank().over(wPrice).cast("int").as("price_rank"),
        round(percent_rank().over(wPrice), 6).as("price_prank"),
        ntile(4).over(wPrice).cast("int").as("price_quartile"),
        round(cume_dist().over(wPrice), 6).as("price_cume"))
    }),

    "q17_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
    }),

    "q14_pivot" -> ((s, dir) => {
      // relational PIVOT: revenue matrix status × priority. Explicit value
      // list keeps the plan a single pass (no distinct-values pre-job);
      // conditional partial aggregates combine map-side like any groupBy.
      val prios = Seq("1-URGENT" -> "p1_urgent", "2-HIGH" -> "p2_high",
        "3-MEDIUM" -> "p3_medium", "4-NOT SPECIFIED" -> "p4_not_specified",
        "5-LOW" -> "p5_low")
      val piv = t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", prios.map(_._1))
        // r16: revenue on the exact integer grid (e2/sumE)
        .agg(sumE(e2(col("o_totalprice")), 100))
      prios.foldLeft(piv) { case (d, (v, n)) => d.withColumnRenamed(v, n) }
    }),

    "q15_cube" -> ((s, dir) =>
      // CUBE grouping sets: all four (status, priority) marginals in one
      // pass — Expand replicates each row per grouping set before ONE
      // partial aggregate, so the shuffle stays a single keyed exchange
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        // r16: revenue on the exact integer grid (e2/sumE)
        .agg(count(lit(1)).as("n_orders"),
          sumE(e2(col("o_totalprice")), 100).as("revenue"))),

    // --- CDC operator surface (SURVEY.md §2, ✦ operators) ---------------
    // S3/T1: full-snapshot scan + computed sign column
    "s3_snapshot_sign" -> ((s, dir) => {
      CdcOps.withSnapshotSign(t(s, dir, "orders"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), tsUs(col("o_orderdate")).as("o_orderdate_us"),
          col("o_orderpriority"), col("sign"))
    }),

    // T2: schema/table filter (pushed down)
    "t2_filter_tables" -> ((s, dir) => {
      CdcOps.filterTables(changelog(s, dir), tables = Seq("t0", "t1"),
          schemaCol = "tbl", tableCol = "tbl")
        .select(col("event_id"), col("tbl"), col("action"), col("pk"),
          col("value"), tsUs(col("ts")).as("ts_us"))
    }),

    // T3: DML-kind filter
    "t3_filter_dml" -> ((s, dir) => {
      CdcOps.filterDml(changelog(s, dir),
          skipDeleteTables = Set("t1"), skipUpdateTables = Set("t2"),
          tableCol = "tbl")
        .select(col("event_id"), col("tbl"), col("action"), col("pk"),
          col("value"), tsUs(col("ts")).as("ts_us"))
    }),

    // T4: update → delete+insert decomposition
    "t4_split_updates" -> ((s, dir) => {
      CdcOps.splitUpdates(changelog(s, dir))
        .select(col("event_id"), col("tbl"), col("action"),
          col("action_seq"), col("pk"), col("value"),
          tsUs(col("ts")).as("ts_us"))
    }),

    // S1/S2 envelope adapters: batch-shape gate for the wal2json
    // normalizer — the changelog is serialized into deterministic
    // wal2json v1 documents (integer cents so the payload round-trips
    // without float-format concerns; decimal/string typing is covered by
    // CdcEnvelopesSpec goldens), then normalized back to canonical
    // ChangeEvent rows. The oracle constructs the expected canonical
    // batch directly, so explode arity, half ordering, oldkeys-vs-new
    // image selection and seq stamping are all hash-checked.
    "envelope_wal2json" -> ((s, dir) => {
      // r16: the document is assembled with concat of casts instead of
      // format_string — java.util.Formatter parses the pattern per row,
      // and the swap is byte-identical (%s = string identity, %d =
      // Long.toString; measured equal on the full changelog, construct
      // 0.64 → 0.39 s, whole query 1.89 → 1.28 s at sf0.1)
      // r17 note (round-16 advisor): the equivalence is data-dependent —
      // concat NULLs the whole document where format_string rendered a
      // null operand as the text "null". Every operand here (tbl, pk,
      // value, ts) is non-null by construction of Changelog.fromEvents
      // over the non-null events fixture, and the oracle hash-gates
      // exactly that; a future nullable changelog column must wrap its
      // operand in coalesce(cast, lit("null")) to keep the old rendering.
      val cents = round(col("value") * 100).cast("long").cast("string")
      val pk = col("pk").cast("string")
      val env = changelog(s, dir).select(col("ts"),
        when(col("action") === "insert", concat(
          lit("""{"change":[{"kind":"insert","schema":"public","table":""""),
          col("tbl"),
          lit("""","columnnames":["pk","value_cents"],"columnvalues":["""),
          pk, lit(","), cents, lit("]}]}")))
        .when(col("action") === "update", concat(
          lit("""{"change":[{"kind":"update","schema":"public","table":""""),
          col("tbl"),
          lit("""","columnnames":["pk","value_cents"],"columnvalues":["""),
          pk, lit(","), cents,
          lit("""],"oldkeys":{"keynames":["pk"],"keyvalues":["""),
          pk, lit("]}}]}")))
        .otherwise(concat(
          lit("""{"change":[{"kind":"delete","schema":"public","table":""""),
          col("tbl"),
          lit("""","oldkeys":{"keynames":["pk","value_cents"],"keyvalues":["""),
          pk, lit(","), cents, lit("]}}]}"))).as("json"))
      CdcEnvelopes.wal2json(env, eventUnixtime = unix_micros(col("ts")))
    }),

    // Debezium envelope → canonical batch, same gate shape: op c/u/d
    // mapping, before/after image selection, ts_ms µs promotion.
    "envelope_debezium" -> ((s, dir) => {
      // r16: concat of casts instead of format_string — same
      // byte-identical swap (and measurement) as envelope_wal2json
      val img = concat(lit("""{"pk":"""), col("pk").cast("string"),
        lit(""","value_cents":"""),
        round(col("value") * 100).cast("long").cast("string"), lit("}"))
      val env = changelog(s, dir).select(concat(
        lit("""{"payload":{"before":"""),
        when(col("action") === "insert", lit("null")).otherwise(img),
        lit(""","after":"""),
        when(col("action") === "delete", lit("null")).otherwise(img),
        lit(""","source":{"db":"cdc","table":""""), col("tbl"),
        lit(""""},"op":""""),
        when(col("action") === "insert", lit("c"))
          .when(col("action") === "update", lit("u")).otherwise(lit("d")),
        lit("""","ts_ms":"""), unix_millis(col("ts")).cast("string"),
        lit("}}")).as("json"))
      CdcEnvelopes.debezium(env)
    }),

    // A1: micro-batch trigger modeling (count cap per table)
    "a1_microbatch" -> ((s, dir) => {
      CdcOps.microBatchId(changelog(s, dir), insertNum = 500,
          partitionCols = Seq("tbl"), orderCols = Seq("ts", "event_id"))
        .groupBy(col("tbl"), col("batch_id"))
        .agg(count(lit(1)).as("n_events"),
          min(tsUs(col("ts"))).as("min_ts_us"),
          max(tsUs(col("ts"))).as("max_ts_us"))
    }),

    // A2: per-PK last-write-wins dedup
    "a2_dedup_pk" -> ((s, dir) => {
      CdcOps.dedupByPk(changelog(s, dir), pkCols = Seq("pk"),
          orderCols = Seq("ts", "event_id"),
          extraPartition = Seq("tbl", "action"))
        .select(col("tbl"), col("action"), col("pk"), col("value"),
          tsUs(col("ts")).as("ts_us"), col("event_id"))
    }),

    // A2 (skew path): salted two-phase dedup — same semantics as a2_dedup_pk
    "a2_dedup_pk_salted" -> ((s, dir) => {
      CdcOps.dedupByPkSalted(changelog(s, dir), pkCols = Seq("pk"),
          orderCols = Seq("ts", "event_id"),
          extraPartition = Seq("tbl", "action"))
        .select(col("tbl"), col("action"), col("pk"), col("value"),
          tsUs(col("ts")).as("ts_us"), col("event_id"))
    }),

    // A3: collapsing sign assignment
    "a3_sign_collapse" -> ((s, dir) => {
      CdcOps.withCollapsingSign(changelog(s, dir))
        .select(col("event_id"), col("tbl"), col("action"), col("pk"),
          col("value"), tsUs(col("ts")).as("ts_us"), col("sign"))
    }),

    // A4: apply ordering — deletes before inserts, time-sorted
    "a4_apply_order" -> ((s, dir) => {
      // distributed rank: identical apply_rank to the window form, but
      // bucket-parallel instead of one task per table (see
      // CdcOps.applyOrderDistributed; CdcOpsSpec pins the equivalence)
      CdcOps.applyOrderDistributed(CdcOps.splitUpdates(changelog(s, dir)),
          partitionCols = Seq("tbl"), seqCol = "action_seq",
          orderCols = Seq("ts", "event_id"))
        .select(col("event_id"), col("tbl"), col("action"),
          col("action_seq"), col("pk"), tsUs(col("ts")).as("ts_us"),
          col("apply_rank"))
    }),

    // T6: bytes/JSON normalization — binary column decoded to UTF-8,
    // nested struct re-serialized as a JSON string
    "t6_normalize" -> ((s, dir) => {
      val base = changelog(s, dir).select(col("event_id"),
        col("tbl").cast("binary").as("tbl_bin"),
        struct(col("pk"), col("tbl")).as("nested"))
      CdcOps.normalizeValues(base)
        .select(col("event_id"), col("tbl_bin").as("tbl_str"),
          col("nested").as("nested_json"))
    }),

    // T7: skip_decimal compat — decimals rendered as exact strings
    "t7_decimal_stringify" -> ((s, dir) => {
      CdcOps.stringifyDecimals(
          t(s, dir, "orders").select(col("o_orderkey"),
            dec2(col("o_totalprice")).as("price_dec")))
        .select(col("o_orderkey"), col("price_dec").as("price_str"))
    }),

    // A5: count verification across all tables
    "a5_count_check" -> ((s, dir) => {
      Tables.names.map { name =>
        t(s, dir, name).agg(count(lit(1)).as("n_rows"))
          .select(lit(name).as("tbl"), col("n_rows"))
      }.reduce(_.unionByName(_))
    }),

    // K5/§7.3: MergeTree eager apply (reference merge_tree.py:60-85 flush:
    // delete-by-touched-PK, then insert survivors) — the whole changelog
    // applied as one batch over empty state must equal the last-state view.
    "engine_mergetree" -> ((s, dir) => {
      val log = changelog(s, dir)
      val empty = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], log.schema)
      SinkStrategy.mergeTreeApply(empty, log,
          SinkKeys(Seq("tbl", "pk"), versionCol = "ts", tieBreakers = Seq("event_id")))
        .select(col("tbl"), col("pk"), col("event_id"), col("action"),
          col("value"), tsUs(col("ts")).as("ts_us"))
    }),

    // K5/§7.3: ReplacingMergeTree read-time resolution
    "engine_replacing" -> ((s, dir) => {
      SinkStrategy.replacingResolve(changelog(s, dir),
          SinkKeys(Seq("tbl", "pk"), versionCol = "ts", tieBreakers = Seq("event_id")))
        .select(col("tbl"), col("pk"), col("event_id"), col("action"),
          col("value"), tsUs(col("ts")).as("ts_us"))
    }),

    // K5/§7.3: CollapsingMergeTree read-time resolution
    "engine_collapsing" -> ((s, dir) => {
      val signed = CdcOps.withCollapsingSign(changelog(s, dir))
      SinkStrategy.collapsingResolve(signed,
          SinkKeys(Seq("tbl", "pk"), versionCol = "ts", tieBreakers = Seq("event_id")))
        .select(col("tbl"), col("pk"), col("event_id"), col("action"),
          col("value"), tsUs(col("ts")).as("ts_us"), col("sign"))
    }),

    // K5/§7.3: VersionedCollapsingMergeTree read-time resolution
    "engine_versioned_collapsing" -> ((s, dir) => {
      val signed = CdcOps.withCollapsingSign(changelog(s, dir))
      SinkStrategy.versionedCollapsingResolve(signed,
          SinkKeys(Seq("tbl", "pk"), versionCol = "ts", tieBreakers = Seq("event_id")))
        .select(col("tbl"), col("pk"), col("event_id"), col("action"),
          col("value"), tsUs(col("ts")).as("ts_us"), col("sign"))
    }),

    // Compaction invariant (the OPTIMIZE/background-merge analogue): the
    // changelog is appended as micro-batches into a real ParquetStateStore,
    // the log is folded to its resolved state via store.compact, and the
    // compacted store is resolved again. The oracle is the UNcompacted
    // resolve — resolve(compact(log)) == resolve(log) IS the claim.
    "engine_replacing_compact" -> ((s, dir) => {
      val keys = SinkKeys(Seq("tbl", "pk"), versionCol = "ts", tieBreakers = Seq("event_id"))
      val store = tmpStore(s)
      val log = changelog(s, dir)
      for (b <- 0L until 3L)
        store.append(log.filter(pmod(col("event_id"), lit(3)) === b), b)
      store.compact(SinkStrategy.replacingResolve(store.readLog().get, keys))
      SinkStrategy.replacingResolve(store.readLog().get, keys)
        .select(col("tbl"), col("pk"), col("event_id"), col("action"),
          col("value"), tsUs(col("ts")).as("ts_us"))
    }),

    // Same invariant for the versioned-collapsing engine: compaction
    // rewrites the resolved rows with sign=+1 (the alive row must be
    // cancellable by exactly one future -1, matching ClickHouse merges).
    "engine_versioned_collapsing_compact" -> ((s, dir) => {
      val keys = SinkKeys(Seq("tbl", "pk"), versionCol = "ts", tieBreakers = Seq("event_id"))
      val store = tmpStore(s)
      val signed = CdcOps.withCollapsingSign(changelog(s, dir))
      for (b <- 0L until 3L)
        store.append(signed.filter(pmod(col("event_id"), lit(3)) === b), b)
      store.compact(SinkStrategy.versionedCollapsingResolve(store.readLog().get, keys)
        .withColumn("sign", lit(1).cast(signed.schema("sign").dataType)))
      SinkStrategy.versionedCollapsingResolve(store.readLog().get, keys)
        .select(col("tbl"), col("pk"), col("event_id"), col("action"),
          col("value"), tsUs(col("ts")).as("ts_us"), col("sign"))
    }),

    // --- training-data pipeline extensions (SURVEY.md §7.5) -------------
    "dedup_exact" -> ((s, dir) =>
      DedupOps.exact(t(s, dir, "documents"))),

    // same contract as dedup_exact; the shuffle key is a 256-bit digest
    // instead of the document body (the 100 TB form)
    "dedup_exact_digest" -> ((s, dir) =>
      DedupOps.exactByDigest(t(s, dir, "documents"))),

    // span-level exact-dup work-list: every 8-token window repeated
    // across >= 2 distinct documents (the substring-dedup signal)
    "dedup_substring_spans" -> ((s, dir) =>
      DedupOps.duplicatedSpans(t(s, dir, "documents"), k = 8)),

    // the apply side: cut every repeated span occurrence except the
    // globally-first one and rebuild the document
    "dedup_span_removal" -> ((s, dir) =>
      DedupOps.removeDuplicatedSpans(t(s, dir, "documents"), k = 8)),

    // paragraph-level pass: the synthetic corpus has no newlines, so the
    // fixture splits on " the " (a frequent vocab word) — the operator is
    // separator-parameterized and the oracle mirrors the same separator
    "dedup_paragraph" -> ((s, dir) =>
      DedupOps.paragraphDedup(t(s, dir, "documents"), sep = " the ")),

    // URL-level dedup: raw URLs are synthesized deterministically from
    // doc_id in BOTH engines — scheme-case, www, :443, trailing-slash,
    // utm/fragment variants over a deliberately small (scheme, path, query)
    // space — then collapsed through TextOps.canonicalizeUrl, so many raw
    // forms genuinely merge per canonical key
    "dedup_url_canonical" -> ((s, dir) => {
      val raw = concat(
        element_at(
          typedLit(Seq("https://", "HTTP://", "https://WWW.", "http://www.")),
          (pmod(col("doc_id"), lit(4)) + 1).cast("int")),
        lit("Example.COM"),
        when(pmod(col("doc_id"), lit(5)) === 0, ":443").otherwise(""),
        lit("/p"), pmod(col("doc_id"), lit(5)).cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0, "/").otherwise(""),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(5)).cast("string")))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            concat(lit("?id="), pmod(col("doc_id"), lit(5)).cast("string"),
              lit("&utm_campaign=x")))
          .otherwise(""),
        when(pmod(col("doc_id"), lit(7)) === 0, "#sec").otherwise(""))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("_raw"))
        .withColumn("url", TextOps.canonicalizeUrl(col("_raw")))
        .groupBy(col("url"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
          countDistinct(col("_raw")).as("n_raw_forms"))
    }),

    "dedup_minhash_sig" -> ((s, dir) =>
      DedupOps.minhashBandRows(t(s, dir, "documents"))),

    // maxBucket=64 drops giant-cluster band buckets from candidate
    // generation (those are exact-dup families for exactByDigest, not
    // near-dups) and is mirrored in the oracle — uncapped, the sf1
    // scale rehearsal measured this query 13x for 10x data (in-bucket
    // candidates grow quadratically with bucket size); capped it is
    // the O(n·cap) plan that survives 100 TB
    "dedup_minhash_pairs" -> ((s, dir) =>
      DedupOps.minhashLsh(t(s, dir, "documents"), threshold = 0.0,
        maxBucket = 64)),

    // same LSH blocking as dedup_minhash_pairs, but verified by bounded
    // Levenshtein over 200-char prefixes (the record-linkage verifier)
    "dedup_edit_verify" -> ((s, dir) =>
      DedupOps.editVerifiedPairs(t(s, dir, "documents"), maxDist = 60,
        maxBucket = 64)),

    // maxDf caps hot-shingle blocking (the scale guard); 1000 is above any
    // df in the sf0.01 oracle fixture, so the gated result is exact.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      DedupOps.ngramJaccard(t(s, dir, "documents"), threshold = 0.5, n = 1,
        maxDf = 1000)),

    // containment (asymmetric overlap): same df-capped blocking as the
    // jaccard form; catches excerpt/subset pairs jaccard misses
    "dedup_containment" -> ((s, dir) =>
      DedupOps.containmentPairs(t(s, dir, "documents"), threshold = 0.8,
        n = 1, maxDf = 1000)),

    "dedup_simhash" -> ((s, dir) =>
      DedupOps.simhashSignatures(t(s, dir, "documents"))),

    "dedup_simhash_pairs" -> ((s, dir) =>
      DedupOps.simhashPairs(t(s, dir, "documents"), maxHamming = 3, bands = 4)),

    // maxPrev=64: label is fixed-cardinality, so in-block all-pairs is
    // quadratic (sf10 measured 13.5x for 10x data — embeddings grow 4x
    // per 10x, i.e. ~quadratic in vectors); the sorted-neighborhood rank
    // window bounds it at O(n·64), mirrored in the oracle
    "dedup_embedding" -> ((s, dir) =>
      DedupOps.embeddingNearDup(t(s, dir, "embeddings"), threshold = 0.35,
        maxPrev = 64)),

    "ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.bruteForceTopK(emb.filter(col("vec_id") < 8), emb, k = 10)
    }),

    "ann_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.lshTopK(emb.filter(col("vec_id") < 8), emb, k = 10,
        planes = 4, dims = 64)
    }),

    // k-NN label propagation: majority label of the 10 nearest neighbors
    "embed_knn_classify" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.knnClassify(emb.filter(col("vec_id") < 8), emb, k = 10)
        // the op keeps the label's source type; the oracle pins INT here
        .withColumn("pred_label", col("pred_label").cast("int"))
    }),

    // IVF scale path, fixed-centroid form: the quantizer is a deterministic
    // LCG (train-once-offline pattern), so the whole pipeline — assignment,
    // probe selection, top-k — is cross-engine reproducible and oracle-gated.
    // The float k-means variant (ivfTopK) stays float-order-dependent and is
    // invariant-tested in ExtOpsSpec; its TRAINED path is gated below via
    // the integer-grid form.
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfTopKFixed(emb.filter(col("vec_id") < 8), emb, k = 10,
        nlist = 8, nprobe = 2)
    }),

    // IVF with AUTO-derived sizing (nlist ∝ √N, nprobe = nlist/4 — the
    // SCALE.md rule as the executable default): gated at TWO corpus
    // sizes (full table, and the even-id half) so the derived
    // (nlist, nprobe) pair is itself part of the oracle gate — the SQL
    // re-derives it from count(*) and must land on the same centroids
    "ann_ivf_auto_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfTopKAuto(emb.filter(col("vec_id") < 8), emb, k = 10)
    }),
    "ann_ivf_auto_topk_half" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 2 === 0)
      SimilarityOps.ivfTopKAuto(corpus.filter(col("vec_id") < 8), corpus, k = 10)
    }),

    // IVF with a TRAINED quantizer, oracle-gated: Lloyd k-means in exact
    // integer arithmetic (quantization-grid codes, floor-div means,
    // lowest-id seeds, cid tiebreaks) — order-independent, so the oracle
    // replays both training iterations by unrolling them in SQL
    "ann_ivf_trained_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfTopKTrainedInt(emb.filter(col("vec_id") < 8), emb,
        k = 10, nlist = 4, nprobe = 2, iters = 2, scale = 512)
    }),

    // residual IVF-PQ with BOTH quantizers trained (integer Lloyd coarse
    // + per-subspace residual codebooks), oracle-gated end-to-end: the
    // coarse training, residual book training, encoding, probe and ADC
    // ranking are all exact integer arithmetic, so the oracle unrolls
    // the whole build in SQL (subspaces as data — one assign/update CTE
    // pair per Lloyd round covers all 8 books)
    "ann_ivfpq_trained_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfPqTopKTrainedInt(emb.filter(col("vec_id") < 8), emb,
        k = 10, nlist = 4, nprobe = 2, m = 8, ncode = 16, iters = 2,
        scale = 512)
    }),

    // same sorted-neighborhood bound as dedup_embedding: 16 fixed LSH
    // buckets collapse tight clusters whole, so in-bucket pairs were
    // quadratic in vectors (sf10: 14.3x for 10x data) — capped at O(n·64)
    "dedup_embedding_lsh" -> ((s, dir) =>
      DedupOps.embeddingNearDupLsh(t(s, dir, "embeddings"), threshold = 0.3,
        maxPrev = 64)),

    // SemDeDup: cluster-blocked semantic dedup — keep the first example
    // of each in-cluster near-duplicate family (fixed LCG quantizer).
    // maxPrev=64 bounds the in-cell pair check the same way: tight
    // clusters collapse into one LCG cell at any nlist, so the exact
    // in-cell check is quadratic in vectors (sf10: 12.5x for 10x data)
    "dedup_semantic" -> ((s, dir) =>
      DedupOps.semDedup(t(s, dir, "embeddings"), threshold = 0.3,
        nlist = 8, dims = 64, maxPrev = 64)),

    "text_tfidf" -> ((s, dir) =>
      TextOps.tfidfTopTerms(t(s, dir, "documents"), k = 5)),

    "text_langid" -> ((s, dir) =>
      TextOps.languageId(t(s, dir, "documents"))),

    "text_quality" -> ((s, dir) =>
      TextOps.qualityScore(t(s, dir, "documents"))),

    "text_tokens" -> ((s, dir) =>
      TextOps.tokenCounts(t(s, dir, "documents"))),

    "text_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(t(s, dir, "documents"))),

    // winnowing (MOSS) local fingerprints for passage-overlap detection
    "text_winnow" -> ((s, dir) =>
      TextOps.winnowFingerprints(t(s, dir, "documents"))),

    // passage-duplication pairs: docs sharing >=2 winnow fingerprints,
    // df-capped inverted-index blocking (never all-pairs)
    "dedup_winnow_pairs" -> ((s, dir) =>
      TextOps.winnowPairs(t(s, dir, "documents"), minShared = 2, maxDf = 64)),

    // URL/email token detection (quality & PII-ish filtering)
    "text_webmarks" -> ((s, dir) =>
      TextOps.webMarks(t(s, dir, "documents"))),

    // corpus-relative rare-token (OOV-rate) stats; the corpus is its own
    // lexicon. 10% threshold brackets the fixture df distribution (one
    // token at 5% df, the rest >= 75%) so the rule actually fires
    // corpus-unigram LM score (CCNet perplexity proxy); the hot/tail
    // frequency split keeps the token join skew-free at corpus scale
    "text_unigram_lp" -> ((s, dir) =>
      TextOps.unigramLogProb(t(s, dir, "documents"))),

    "text_oov" -> ((s, dir) =>
      TextOps.oovStats(t(s, dir, "documents"), maxDfFraction = 0.1)),

    // context-aware LM score: mean -ln P(w2|w1) under the corpus bigram
    // model (word-order fluency, not just word choice)
    "text_bigram_lp" -> ((s, dir) =>
      TextOps.bigramLogProb(t(s, dir, "documents"))),

    // codepoint entropy + digit/upper fractions (encoding-level quality)
    "text_entropy" -> ((s, dir) =>
      TextOps.charStats(t(s, dir, "documents"))),

    // CCNet endgame: per-language quality tertiles by corpus-LM score,
    // rank-based (no engine-dependent float thresholds)
    "corpus_ccnet_buckets" -> ((s, dir) =>
      TextOps.ccnetBuckets(t(s, dir, "documents"))),

    // deterministic content-stable train/val/test assignment
    "split_assign" -> ((s, dir) =>
      CorpusOps.splitAssign(t(s, dir, "documents"))),

    // corpus-level boilerplate detection (fraction of shared n-grams)
    "text_boilerplate" -> ((s, dir) =>
      CorpusOps.duplicatedNgramFraction(t(s, dir, "documents"))),

    // vocabulary head by document frequency (tokenizer/stopword prep)
    "corpus_vocab" -> ((s, dir) =>
      CorpusOps.vocabulary(t(s, dir, "documents"), k = 20)),

    // deterministic domain-mixture resampling (downweight src0, thin src1)
    "corpus_mixture" -> ((s, dir) =>
      CorpusOps.mixtureSample(t(s, dir, "documents"),
        rates = Map("src0" -> 0.5, "src1" -> 0.25))),

    // length-weighted sampling: keep probability scales with n_chars
    // (exact integer Bernoulli — the weighted complement of mixture)
    "corpus_sample_weighted" -> ((s, dir) =>
      CorpusOps.weightedSample(t(s, dir, "documents"), "n_chars")),

    // fastText-style hashing-trick quality classifier (linear skeleton)
    "text_classifier" -> ((s, dir) =>
      TextOps.classifierScore(t(s, dir, "documents"))),

    // BPE tokenizer prep: top adjacent-pair counts (first merge statistic)
    "corpus_bpe_pairs" -> ((s, dir) =>
      CorpusOps.bpePairCandidates(t(s, dir, "documents"), k = 20)),

    // full 100-merge BPE learn with exact greedy-equivalent merge
    // batching — the bench entry that makes the learn-loop job count
    // visible (VERDICT r5 #5). Oracle-gated since r7: the batched learn
    // is checked merge-for-merge against an unrolled 100-step pure-greedy
    // DuckDB chain (OracleSql.bpeLearnUnrolled) — greedy equivalence of
    // the interference-bound batching is now cross-engine evidence, not
    // just the BpeLearnSpec differential fuzz
    "corpus_bpe_learn100" -> ((s, dir) => {
      val merges = CorpusOps.bpeLearn(t(s, dir, "documents"),
        nMerges = 100, batch = 32)
      import s.implicits._
      merges.zipWithIndex.map { case ((a, b, n), i) => (i, a, b, n) }
        .toDF("merge_idx", "left_sym", "right_sym", "n_pairs")
    }),

    // per-label embedding centroids (nearest-centroid / drift monitoring)
    "embed_centroids" -> ((s, dir) =>
      SimilarityOps.labelCentroids(t(s, dir, "embeddings"))),

    // random-projection embedding compression (JL sketch, 64 -> 8 dims);
    // exploded to rows for the oracle hash gate (array cells don't hash)
    "embed_project" -> ((s, dir) =>
      SimilarityOps.projectEmbeddings(t(s, dir, "embeddings"), k = 8, dims = 64)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("plane", "pv")))),

    // scalar int8 quantization (per-vector min/max codes — the 4x storage
    // compression step before IVF/PQ; exact floor semantics cross-engine)
    "embed_quantize" -> ((s, dir) =>
      SimilarityOps.quantizeEmbeddings(t(s, dir, "embeddings"))),

    // product-quantization ANN: corpus scanned as 8x4-bit codes with a
    // per-query ADC lookup table (the memory-compression search tier;
    // fixed LCG codebooks — cross-engine reproducible)
    "ann_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.pqTopK(emb.filter(col("vec_id") < 8), emb, k = 10)
    }),

    // IVF-PQ composition: nprobe inverted lists prune the scan, ADC
    // codes rank inside the probed lists (sublinear AND compressed —
    // the faiss-default shape)
    "ann_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfPqTopK(emb.filter(col("vec_id") < 8), emb, k = 10)
    }),

    "session_stats" -> ((s, dir) =>
      SessionOps.sessionStats(t(s, dir, "events"))),

    // ordered funnel (view → click → purchase), greedy first-match:
    // one keyed shuffle + a per-user sorted fold, no per-step self-join
    "session_funnel" -> ((s, dir) =>
      SessionOps.funnelStages(t(s, dir, "events"),
        steps = Seq("view", "click", "purchase"))),

    // retention triangle over epoch days; shuffles carry (user, day) only
    "session_retention" -> ((s, dir) =>
      SessionOps.cohortRetention(t(s, dir, "events"))),

    // overlapping 10-min/5-min windows, map-side window expansion — the
    // batch twin of the streaming sliding aggregation
    "event_rate_sliding" -> ((s, dir) =>
      SessionOps.slidingRates(t(s, dir, "events"))),

    // hourly windows deviating >2 sigma from their type's mean — the
    // z-test multiplied through to exact integer arithmetic
    "event_rate_anomaly" -> ((s, dir) =>
      SessionOps.rateAnomalies(t(s, dir, "events"))),

    // top-20 observed session paths (funnel discovery complement)
    "session_paths" -> ((s, dir) =>
      SessionOps.topPaths(t(s, dir, "events"))),

    // schema-declared JSON property extraction + per-type rollup
    "event_props_json" -> ((s, dir) =>
      SessionOps.propsStats(t(s, dir, "events"))),

    // constant-state quantile estimates: 64-bucket token-length histogram
    // per language, p50/p95 as covering-bucket upper edges (all-integer)
    "sketch_hist_quantiles" -> ((s, dir) => {
      import graft.functions.CrossHash.{tokens => tok}
      // null-text docs are excluded ON THE TEXT COLUMN (not on n_tok):
      // under legacy sizeOfNull, size(null) is -1 rather than null, and
      // an n_tok-based exclusion would silently diverge from the oracle
      // on a legacy-compat session
      val withLen = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"), size(tok(col("text"))).cast("long").as("n_tok"))
      SketchOps.histogramQuantiles(withLen, "n_tok", Seq("lang"),
        maxValue = 128L, nBuckets = 64)
    }),

    // count-min frequency estimates for the heaviest users — all-integer
    // sketch, estimate >= exact by construction (one-sided CM guarantee)
    "sketch_cm_counts" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id").asc).limit(10)
      SketchOps.countMin(ev, "user_id", top.select(col("user_id")))
        .join(top, "user_id")
    }),

    // portable-hash HyperLogLog (64 registers) vs the exact count —
    // a verifiable sketch: every register reproduces in the oracle
    "sketch_hll_users" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      SketchOps.hllDistinct(ev, "user_id", Seq("event_type"))
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact")), "event_type")
    }),

    // duplicate-cluster resolution: pair list → connected components
    // (transitive closure of "A≈B"); every doc gets its cluster's min id
    "dedup_components" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      GraphOps.components(docs, graphPairs(docs))
    }),

    // dedup endgame: one surviving doc per duplicate cluster + cluster size
    "dedup_keep_one" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      GraphOps.keepOne(docs, graphPairs(docs))
    }),

    // near-dup graph health: documents per neighbor-degree (0 included)
    "dedup_graph_degree" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      GraphOps.degreeHistogram(docs, graphPairs(docs))
    }),

    // backward as-of join (events ← most recent order at-or-before ts):
    // union-merge plan, one exchange, no row amplification
    "asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      JoinOps.asofJoin(ev, t(s, dir, "orders"),
          leftKey = "user_id", rightKey = "o_custkey",
          leftTs = "ts", rightTs = "o_orderdate",
          payloadCols = Seq("o_orderkey", "o_totalprice", "o_orderdate"),
          tieBreak = "o_orderkey")
        .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("ts_us"),
          col("o_orderkey"), col("o_totalprice"),
          tsUs(col("o_orderdate")).as("o_orderdate_us"))
    }),

    // bounded-lookback as-of (pandas merge_asof tolerance): matches
    // farther back than the bound drop. 7.5e14 µs splits the fixture's
    // event→order gaps (7.1e14..8.5e14 — events are decades after the
    // TPC-H order dates) so both arms are exercised.
    "asof_join_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      JoinOps.asofJoin(ev, t(s, dir, "orders"),
          leftKey = "user_id", rightKey = "o_custkey",
          leftTs = "ts", rightTs = "o_orderdate",
          payloadCols = Seq("o_orderkey", "o_totalprice", "o_orderdate"),
          tieBreak = "o_orderkey", tolerance = Some(750000000000000L))
        .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("ts_us"),
          col("o_orderkey"), col("o_totalprice"),
          tsUs(col("o_orderdate")).as("o_orderdate_us"))
    }),

    // forward as-of: each order's FIRST event at-or-after its date (same
    // union-merge plan scanning time descending; this orientation is the
    // nonempty one on the fixture — orders predate every event)
    "asof_join_forward" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      JoinOps.asofJoin(o, t(s, dir, "events"),
          leftKey = "o_custkey", rightKey = "user_id",
          leftTs = "o_orderdate", rightTs = "ts",
          payloadCols = Seq("event_id", "ts"),
          tieBreak = "event_id", direction = "forward")
        .select(col("o_orderkey"), col("o_custkey"),
          tsUs(col("o_orderdate")).as("o_orderdate_us"),
          col("event_id"), tsUs(col("ts")).as("event_ts_us"))
    }),

    // nearest as-of: each event's closest same-user purchase by absolute
    // gap (both scan directions live inside the events time range;
    // backward preferred on exact ties)
    "asof_join_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_event_id"))
      JoinOps.asofJoin(
          ev.select(col("event_id"), col("user_id"), col("ts")), purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTs = "ts", rightTs = "p_ts",
          payloadCols = Seq("p_event_id", "p_ts"),
          tieBreak = "p_event_id", direction = "nearest")
        .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("ts_us"),
          col("p_event_id"), tsUs(col("p_ts")).as("p_ts_us"))
    }),

    // deterministic hash-ordered stratified sample (k docs per language)
    "sample_stratified" -> ((s, dir) =>
      CorpusOps.stratifiedSample(t(s, dir, "documents"), k = 20)),

    // exact per-language token-length quantiles (corpus sizing)
    "corpus_quantiles" -> ((s, dir) =>
      CorpusOps.lengthQuantiles(t(s, dir, "documents"))),

    // Gopher/C4-style within-document repetition metrics
    "text_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(t(s, dir, "documents"))),

    // Eval set = every 17th document — the "benchmark" whose 5-grams must
    // not leak into training data. Hits are dominated by the eval docs
    // themselves plus their near-copies; bystander overlap at n=5 is rare.
    "text_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.decontaminate(docs, docs.filter(col("doc_id") % 17 === 0),
        n = 5, minHits = 1)
    }),

    // The synthetic corpus carries no real PII, so the fixture plants a
    // deterministic email / IP / account-number per document (built from
    // doc_id identically here and in the oracle SQL) before redacting.
    "text_pii" -> ((s, dir) =>
      TextOps.piiRedact(t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
          lit("@mail.example.com via 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 acct "), (lit(10000000L) + col("doc_id") * 7).cast("string"))
          .as("text")))),

    // C4/Gopher-style keep/drop decision layer; thresholds bracket the
    // fixture corpus distribution (n_tokens 10..99, avg_len 3.7..5.3,
    // distinct_ratio 0.28..1.0) so every rule fires on a real subset.
    "corpus_filter" -> ((s, dir) =>
      TextOps.corpusFilter(t(s, dir, "documents"),
        minTokens = 25L, maxTokens = 90L, minAvgLen = 4.0, maxAvgLen = 5.0,
        minDistinctRatio = 0.35, minStopRatio = 0.01, maxWebMarks = 0L)),

    // Cross-corpus near-dup: the batch (every 3rd doc) is screened against
    // the ingested corpus (80% of docs) — LSH candidates across sides
    // only, exact Jaccard verification; overlap docs surface as
    // jaccard=1.0 self-matches. maxBucket=64 drops giant corpus band
    // buckets (exact-dup families — [[DedupOps.incremental]]'s job), the
    // same cap dedup_minhash_pairs carries: uncapped, the sf10 rehearsal
    // measured this query 38x for 10x data (corpus dup families grow
    // linearly, so batch-side hits against them grow super-linearly).
    "dedup_incremental_near" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.incrementalNearLsh(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 10 < 8), threshold = 0.0,
        maxBucket = 64)
    }),

    // Recurring-crawl dedup: 80% of docs (doc_id % 10 < 8) are the
    // already-ingested corpus; the new batch (every 3rd doc, overlapping
    // the corpus) is deduped internally and anti-joined against the
    // corpus digests — survivors are batch docs the corpus never saw
    // (doc_id % 30 ∈ {9, 18}; scale-proportional at every sf).
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.incremental(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 10 < 8))
    }),

    // same contract through the Bloom prescreen (definite-new digests skip
    // the anti-join; might-contain hits verify exactly) — row-identical
    "dedup_incremental_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.incrementalBloom(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 10 < 8), expectedItems = 100000L)
    }),

    // bucketed point-in-interval range join (attribution: events inside a
    // 2h window after a same-user purchase) — equi-join on (key, bucket),
    // never a nested-loop
    "range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val pts = ev.select(col("event_id"), col("event_type"), col("user_id"),
        tsUs(col("ts")).as("ts_us"))
      val iv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          tsUs(col("ts")).as("start_us"),
          (tsUs(col("ts")) + lit(7200000000L)).as("end_us"))
      JoinOps.rangeJoin(pts, iv, "ts_us", "start_us", "end_us",
          bucket = 3600000000L, leftKey = Some("user_id"),
          rightKey = Some("p_user"))
        .filter(col("event_id") =!= col("purchase_id"))
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("ts_us"), col("purchase_id"), col("start_us"))
    }),

    // interval-interval overlap (view windows x purchase windows, same
    // user) — bucket-blocked with a responsibility bucket, no dedup pass
    "interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          tsUs(col("ts")).as("v_start_us"),
          (tsUs(col("ts")) + lit(1800000000L)).as("v_end_us"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          tsUs(col("ts")).as("p_start_us"),
          (tsUs(col("ts")) + lit(7200000000L)).as("p_end_us"))
      JoinOps.intervalJoin(views, buys,
          "v_start_us", "v_end_us", "p_start_us", "p_end_us",
          bucket = 3600000000L, leftKey = Some("user_id"),
          rightKey = Some("p_user"))
        .select(col("view_id"), col("user_id"), col("v_start_us"),
          col("purchase_id"), col("p_start_us"))
    }),

    // deterministic concat-and-chunk sequence packing (2048-token windows)
    "corpus_pack" -> ((s, dir) =>
      CorpusOps.packSequences(t(s, dir, "documents"), capacity = 2048)),

    // quality-first selection under a 6000-token budget; score = avg word
    // length (exact int division to double — engine-identical). The Spark
    // side runs the distributed prefix-sum (64 score buckets); the oracle
    // runs the naive global-window cumsum — checking the equivalence
    "corpus_budget_select" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .withColumn("score", col("n_chars").cast("double") / col("n_tokens"))
      CorpusOps.selectByBudget(d, budget = 6000L, nBuckets = 64)
        .withColumn("score", round(col("score"), 6))
    }),

    // Morton-key multi-dimension layout (chars x tokens); bit-exact narrow
    // pass — at write time the key range-partitions the corpus files
    "corpus_zorder" -> ((s, dir) =>
      CorpusOps.zorderLayout(t(s, dir, "documents"))),

    "multimodal_meta" -> ((s, dir) =>
      // the real mapPartitions decode path (per-partition codec init);
      // blobMetaSql is its pure-SQL twin (parity-tested in ExtOpsSpec)
      MultimodalOps.decodeMeta(
        MultimodalOps.withBlob(t(s, dir, "documents")),
        new MultimodalOps.StubDecoder)),

    // the SAME decode path with a REAL pure-JVM codec: well-formed
    // BMP/WAV files are synthesized per doc, HeaderDecoder parses their
    // headers back, and the oracle recomputes every field from the id —
    // construct→parse must round-trip exactly (the codec-seam proof)
    "multimodal_meta_codec" -> ((s, dir) =>
      MultimodalOps.decodeMeta(
        MultimodalOps.synthesizeMediaBlobs(t(s, dir, "documents")),
        new MultimodalOps.HeaderDecoder)),

    // frame sampling: every 256-byte window as a "frame" (video-frame
    // extraction plumbing); bytes projected to string for the hash gate
    // (fixture text is ASCII, so byte and char windows coincide)
    "multimodal_frames" -> ((s, dir) =>
      MultimodalOps.sampleFrames(
        MultimodalOps.withBlob(t(s, dir, "documents")), stride = 1)
        .select(col("doc_id"), col("frame_idx"),
          col("frame_bytes").cast("string").as("frame_text"))),

    // resize/decimation plumbing: every 4th byte survives (ASCII fixture
    // -> byte picks equal char picks, so the oracle mirrors on substr)
    "multimodal_resize" -> ((s, dir) =>
      MultimodalOps.resizeBlobs(
        MultimodalOps.withBlob(t(s, dir, "documents")), factor = 4)
        .select(col("doc_id"), col("orig_len"),
          col("resized").cast("string").as("resized_text"),
          col("resized_len"))),

    // feature extraction (the embed step): real mapPartitions plumbing
    // with the deterministic stub encoder; exploded for the hash gate.
    // Accumulators stay integer-valued (< 2^24) so the float fold is
    // exact; only the final normalize rounds, identically on both sides
    "multimodal_features" -> ((s, dir) =>
      MultimodalOps.extractFeatures(
        MultimodalOps.withBlob(t(s, dir, "documents")), dim = 16)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "fv")))
        .select(col("vec_id"), col("dim").cast("int").as("dim"),
          col("fv").cast("double").as("fv"))),

    // LM context-window segmentation: overlapping 40-token chunks on a
    // 30-token stride; map-only (tokenize → stride grid → slice), no
    // shuffle at any corpus size
    "corpus_chunk" -> ((s, dir) =>
      TextOps.chunkTokens(t(s, dir, "documents"), window = 40, stride = 30)),

    // keyword search: BM25 over a fixed query bag — per-term tf is a
    // map-side array filter (no token explode), corpus stats are one
    // broadcast 1-row aggregate
    "text_bm25" -> ((s, dir) =>
      TextOps.bm25(t(s, dir, "documents"),
        terms = Seq("customer", "vector", "slow"))),

    // exact heavy hitters via count-min prescreen: the probe filter runs
    // map-side against the broadcast d×w sketch (no false negatives —
    // count-min only overestimates), so the exact-count shuffle carries
    // candidate tokens only, never the full vocabulary
    "sketch_heavy_hitters" -> ((s, dir) => {
      import graft.functions.CrossHash.{tokens => tok}
      SketchOps.heavyHitters(
        t(s, dir, "documents").select(explode(tok(lower(col("text")))).as("tok")),
        "tok", threshold = 900L)
    }),

    // first-/last-touch conversion attribution: both window passes share
    // ONE user-keyed exchange; the rollup is channels×channels tiny
    "session_attribution" -> ((s, dir) =>
      SessionOps.attribution(t(s, dir, "events"))),

    // fixed-point integer PageRank (5 steps) over the near-dup graph —
    // hub-copy centrality; identical LSH pair front-end to
    // dedup_components, iters×O(|edges|) keyed exchanges
    "graph_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      GraphOps.pageRank(docs, graphPairs(docs), iters = 5)
    })
  )

  // =====================================================================
  // Oracle SQL (DuckDB dialect, same parquet tables registered as views)
  // =====================================================================
  private val CL = "WITH " + Changelog.sqlCte

  /** Oracle for the auto-sized IVF menu entry: re-derives (nlist, nprobe)
    * from count(*) with the same anchored √N rule as
    * [[graft.ops.SimilarityOps.ivfAutoParams]] (round half-up on a double
    * sqrt — identical IEEE arithmetic on both engines), then runs the
    * fixed-LCG IVF pipeline under those sizes. DuckDB's `range` refuses
    * subquery bounds, so centroid ids come from a 4096-wide superset
    * filtered by the derived nlist (the rule reaches 4096 only past
    * N ≈ 5×10¹⁰ — far beyond any oracle-checked table). */
  private def ivfAutoOracle(corpusWhere: String): String = {
    val cosAssign = OracleSql.cosine("e.embedding", "c.cvec")
    val cosPair = OracleSql.cosine("p.qv", "a.embedding")
    val nlistExpr = "CAST(LEAST(n, GREATEST(1, round(16 * sqrt(n / 8000.0)))) AS INT)"
    s"""WITH corpus AS (SELECT * FROM embeddings $corpusWhere),
       |params AS (
       |  SELECT $nlistExpr AS nlist, GREATEST(1, $nlistExpr // 4) AS nprobe
       |  FROM (SELECT count(*) AS n FROM corpus)),
       |cents AS (
       |  SELECT CAST(c AS INT) AS cid,
       |         list_transform(range(0, 64), d -> ${OracleSql.lcgUnit("c*64+d")}) AS cvec
       |  FROM range(0, 4096) t(c), params WHERE c < params.nlist),
       |asgn AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cosAssign DESC, c.cid ASC) AS rn
       |    FROM corpus e, cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qv, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cosAssign DESC, c.cid ASC) AS rn
       |    FROM (SELECT * FROM corpus WHERE vec_id < 8) e, cents c)
       |  WHERE rn <= (SELECT nprobe FROM params)),
       |j AS (SELECT p.query_id, a.vec_id AS neighbor_id, $cosPair AS cos
       |      FROM probes p JOIN asgn a ON p.cid = a.cid AND p.query_id <> a.vec_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
       |      FROM j)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
       |FROM r WHERE rank <= 10""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT o_orderkey,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM region
        | JOIN nation ON n_regionkey = r_regionkey
        | JOIN customer ON c_nationkey = n_nationkey
        | JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q2_part_supplier" ->
      """SELECT p_brand, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items,
        | MAX(p_retailprice) AS max_retail
        |FROM lineitem
        | JOIN part ON p_partkey = l_partkey
        | JOIN supplier ON s_suppkey = l_suppkey
        | JOIN nation ON n_nationkey = s_nationkey
        |GROUP BY p_brand, n_name""".stripMargin,

    "q4_exists_orders" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,

    "q7_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders""".stripMargin,

    "q8_rollup_revenue" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_orders
        |FROM region
        | JOIN nation ON n_regionkey = r_regionkey
        | JOIN customer ON c_nationkey = n_nationkey
        | JOIN orders ON o_custkey = c_custkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "q9_distinct_agg" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q10_except" ->
      """SELECT o_custkey FROM orders
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    "q11_topk_per_group" ->
      """SELECT o_orderpriority, CAST(rnk AS INT) AS rank, o_orderkey, o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_orderpriority
        |               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |      FROM orders)
        |WHERE rnk <= 2""".stripMargin,

    "q12_correlated_avg" ->
      """WITH pa AS (SELECT l_partkey AS _pk,
        |        SUM(CAST(l_quantity AS DECIMAL(12,2))) AS _sum_qty,
        |        COUNT(*) AS _cnt
        |      FROM lineitem GROUP BY 1)
        |SELECT COUNT(*) AS n_small,
        |       CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS small_revenue
        |FROM lineitem l JOIN pa ON l.l_partkey = pa._pk
        |WHERE CAST(l.l_quantity AS DECIMAL(12,2)) * 5 * pa._cnt < pa._sum_qty""".stripMargin,

    "q13_disjunctive" ->
      """SELECT COUNT(*) AS n_items,
        |       CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |         * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 0) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#4' AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#19' AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |         * CAST(l_discount AS DECIMAL(4,2))), 0) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND CAST(l_discount AS DECIMAL(4,2))
        |      BETWEEN CAST(0.03 AS DECIMAL(4,2)) AND CAST(0.07 AS DECIMAL(4,2))
        |  AND l_quantity < 24""".stripMargin,

    "q20_above_avg" ->
      """WITH g AS (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS s,
        |                  COUNT(*) AS n FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n_above,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS above_revenue
        |FROM orders, g
        |WHERE CAST(o_totalprice AS DECIMAL(12,2)) * g.n > g.s
        |GROUP BY o_orderstatus""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > CAST(150 AS DECIMAL(12,2)))
        |SELECT c.c_name, o.o_orderkey, epoch_us(o.o_orderdate) AS o_orderdate_us,
        |       o.o_totalprice, CAST(b.qty AS DOUBLE) AS total_qty
        |FROM orders o
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN big b ON b.l_orderkey = o.o_orderkey""".stripMargin,

    "q19_anti_join" ->
      """SELECT c_custkey, c_name, c_nationkey
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')""".stripMargin,

    // the oracle keeps the classic EXISTS / NOT-EXISTS formulation so the
    // Spark-side aggregate reformulation is checked against the textbook
    // semantics, not against itself
    "q21_waiting_supplier" ->
      """SELECT s.s_name, COUNT(*) AS numwait
        |FROM (SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        |      FROM lineitem l1
        |      JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |       AND o.o_orderstatus = 'F'
        |      WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 120 DAY
        |        AND EXISTS (SELECT 1 FROM lineitem l2
        |                    WHERE l2.l_orderkey = l1.l_orderkey
        |                      AND l2.l_suppkey <> l1.l_suppkey)
        |        AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                        WHERE l3.l_orderkey = l1.l_orderkey
        |                          AND l3.l_suppkey <> l1.l_suppkey
        |                          AND l3.l_shipdate > o.o_orderdate + INTERVAL 120 DAY)
        |     ) w
        |JOIN supplier s ON s.s_suppkey = w.l_suppkey
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 10""".stripMargin,

    "q22_idle_customers" ->
      """WITH g AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS s,
        |                  COUNT(*) AS n
        |           FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, COUNT(*) AS n_cust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer c, g
        |WHERE CAST(c_acctbal AS DECIMAL(12,2)) * g.n > g.s
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY c_nationkey""".stripMargin,

    "q16_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER wt AS prev_price,
        |  lead(o_totalprice, 1) OVER wt AS next_price,
        |  CAST(row_number() OVER wt AS INT) AS seq,
        |  CAST(rank() OVER wp AS INT) AS price_rank,
        |  round(percent_rank() OVER wp, 6) AS price_prank,
        |  CAST(ntile(4) OVER wp AS INT) AS price_quartile,
        |  round(cume_dist() OVER wp, 6) AS price_cume
        |FROM orders
        |WINDOW wt AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,

    "q17_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,

    "q14_pivot" -> {
      def cell(v: String, n: String) =
        s"""CAST(SUM(CASE WHEN o_orderpriority = '$v'
           |  THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS $n""".stripMargin
      s"""SELECT o_orderstatus,
         |  ${cell("1-URGENT", "p1_urgent")},
         |  ${cell("2-HIGH", "p2_high")},
         |  ${cell("3-MEDIUM", "p3_medium")},
         |  ${cell("4-NOT SPECIFIED", "p4_not_specified")},
         |  ${cell("5-LOW", "p5_low")}
         |FROM orders GROUP BY o_orderstatus""".stripMargin
    },

    "q15_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "s3_snapshot_sign" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        | epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority,
        | CAST(1 AS TINYINT) AS sign
        |FROM orders""".stripMargin,

    "t2_filter_tables" -> (CL +
      """
        |SELECT event_id, tbl, action, pk, value, epoch_us(ts) AS ts_us
        |FROM changelog WHERE tbl IN ('t0','t1')""".stripMargin),

    "t3_filter_dml" -> (CL +
      """
        |SELECT event_id, tbl, action, pk, value, epoch_us(ts) AS ts_us
        |FROM changelog
        |WHERE NOT (action = 'delete' AND tbl IN ('t1'))
        |  AND NOT (action = 'update' AND tbl IN ('t2'))""".stripMargin),

    "t4_split_updates" -> (CL +
      """
        |SELECT event_id, tbl, 'delete' AS action, CAST(1 AS INT) AS action_seq,
        |       pk, value, epoch_us(ts) AS ts_us
        |FROM changelog WHERE action IN ('update','delete')
        |UNION ALL
        |SELECT event_id, tbl, 'insert' AS action, CAST(2 AS INT) AS action_seq,
        |       pk, value, epoch_us(ts) AS ts_us
        |FROM changelog WHERE action IN ('update','insert')""".stripMargin),

    // expected canonical batch, built directly: insert halves carry the
    // full image; an update's delete half carries only the oldkeys image
    // {pk}; a delete carries its full oldkeys image
    "envelope_wal2json" -> (CL + """,
        |cents AS (
        |  SELECT tbl, action, pk, CAST(round(value * 100, 0) AS BIGINT) AS vc,
        |         epoch_us(ts) AS t
        |  FROM changelog)
        |SELECT 'public' AS "schema", tbl AS "table", 'insert' AS action,
        |       '{"pk":' || pk || ',"value_cents":' || vc || '}' AS "values",
        |       t AS event_unixtime, CAST(2 AS INT) AS action_seq
        |FROM cents WHERE action IN ('insert','update')
        |UNION ALL
        |SELECT 'public', tbl, 'delete',
        |       CASE WHEN action = 'update' THEN '{"pk":' || pk || '}'
        |            ELSE '{"pk":' || pk || ',"value_cents":' || vc || '}' END,
        |       t, CAST(1 AS INT)
        |FROM cents WHERE action IN ('update','delete')""".stripMargin),

    // debezium: both halves carry the full row image (variant object keys
    // sort alphabetically: pk < value_cents already); event_unixtime is
    // ts_ms promoted to µs, so µs precision truncates to ms
    "envelope_debezium" -> (CL + """,
        |cents AS (
        |  SELECT tbl, action, pk, CAST(round(value * 100, 0) AS BIGINT) AS vc,
        |         (epoch_us(ts) // 1000) * 1000 AS t
        |  FROM changelog)
        |SELECT 'cdc' AS "schema", tbl AS "table", 'insert' AS action,
        |       '{"pk":' || pk || ',"value_cents":' || vc || '}' AS "values",
        |       t AS event_unixtime, CAST(2 AS INT) AS action_seq
        |FROM cents WHERE action IN ('insert','update')
        |UNION ALL
        |SELECT 'cdc', tbl, 'delete',
        |       '{"pk":' || pk || ',"value_cents":' || vc || '}',
        |       t, CAST(1 AS INT)
        |FROM cents WHERE action IN ('update','delete')""".stripMargin),

    "a1_microbatch" -> (CL + """,
        |ranked AS (
        |  SELECT tbl, ts,
        |         row_number() OVER (PARTITION BY tbl ORDER BY ts, event_id) AS rn
        |  FROM changelog)
        |SELECT tbl, CAST((rn - 1) // 500 AS BIGINT) AS batch_id,
        |       COUNT(*) AS n_events,
        |       MIN(epoch_us(ts)) AS min_ts_us, MAX(epoch_us(ts)) AS max_ts_us
        |FROM ranked GROUP BY tbl, (rn - 1) // 500""".stripMargin),

    "a2_dedup_pk" -> (CL + """,
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY tbl, action, pk ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM changelog)
        |SELECT tbl, action, pk, value, epoch_us(ts) AS ts_us, event_id
        |FROM ranked WHERE rn = 1""".stripMargin),

    // same contract as a2_dedup_pk — the salted plan must not change results
    "a2_dedup_pk_salted" -> (CL + """,
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY tbl, action, pk ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM changelog)
        |SELECT tbl, action, pk, value, epoch_us(ts) AS ts_us, event_id
        |FROM ranked WHERE rn = 1""".stripMargin),

    "a3_sign_collapse" -> (CL +
      """
        |SELECT event_id, tbl, action, pk, value, epoch_us(ts) AS ts_us,
        |       CAST(CASE WHEN action = 'delete' THEN -1 ELSE 1 END AS TINYINT) AS sign
        |FROM changelog""".stripMargin),

    "a4_apply_order" -> (CL + """,
        |split AS (
        |  SELECT event_id, tbl, 'delete' AS action, CAST(1 AS INT) AS action_seq,
        |         pk, value, ts
        |  FROM changelog WHERE action IN ('update','delete')
        |  UNION ALL
        |  SELECT event_id, tbl, 'insert' AS action, CAST(2 AS INT) AS action_seq,
        |         pk, value, ts
        |  FROM changelog WHERE action IN ('update','insert'))
        |SELECT event_id, tbl, action, action_seq, pk, epoch_us(ts) AS ts_us,
        |       CAST(row_number() OVER (
        |         PARTITION BY tbl ORDER BY action_seq, ts, event_id) AS INT) AS apply_rank
        |FROM split""".stripMargin),

    "t6_normalize" -> (CL +
      """
        |SELECT event_id, tbl AS tbl_str,
        |       to_json(struct_pack(pk := pk, tbl := tbl)) AS nested_json
        |FROM changelog""".stripMargin),

    "t7_decimal_stringify" ->
      """SELECT o_orderkey,
        |       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str
        |FROM orders""".stripMargin,

    "a5_count_check" ->
      ("SELECT * FROM (" +
        Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
          .map(n => s"SELECT '$n' AS tbl, COUNT(*) AS n_rows FROM $n")
          .mkString(" UNION ALL ") + ")"),

    // eager MergeTree apply over the full changelog == last-state view
    "engine_mergetree" -> (CL + """,
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY tbl, pk ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM changelog)
        |SELECT tbl, pk, event_id, action, value, epoch_us(ts) AS ts_us
        |FROM ranked WHERE rn = 1 AND action <> 'delete'""".stripMargin),

    "engine_replacing" -> (CL + """,
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY tbl, pk ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM changelog)
        |SELECT tbl, pk, event_id, action, value, epoch_us(ts) AS ts_us
        |FROM ranked WHERE rn = 1 AND action <> 'delete'""".stripMargin),

    // compaction must be invisible to readers: the oracle is the plain
    // uncompacted resolve
    "engine_replacing_compact" -> (CL + """,
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY tbl, pk ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM changelog)
        |SELECT tbl, pk, event_id, action, value, epoch_us(ts) AS ts_us
        |FROM ranked WHERE rn = 1 AND action <> 'delete'""".stripMargin),

    // visible value = latest sign=+1 row; cancels vote in net only
    "engine_collapsing" -> (CL + """,
        |signed AS (
        |  SELECT *, CAST(CASE WHEN action = 'delete' THEN -1 ELSE 1 END AS TINYINT) AS sign
        |  FROM changelog),
        |net AS (SELECT tbl, pk, SUM(CAST(sign AS BIGINT)) AS net FROM signed GROUP BY tbl, pk),
        |latest AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY tbl, pk ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM signed WHERE sign > 0)
        |SELECT l.tbl, l.pk, l.event_id, l.action, l.value,
        |       epoch_us(l.ts) AS ts_us, l.sign
        |FROM latest l JOIN net n ON l.tbl = n.tbl AND l.pk = n.pk
        |WHERE l.rn = 1 AND n.net > 0""".stripMargin),

    "engine_versioned_collapsing" -> (CL + """,
        |signed AS (
        |  SELECT *, CAST(CASE WHEN action = 'delete' THEN -1 ELSE 1 END AS TINYINT) AS sign
        |  FROM changelog),
        |per_version AS (
        |  SELECT tbl, pk, ts, SUM(CAST(sign AS BIGINT)) AS net,
        |         max_by(struct_pack(event_id := event_id, action := action,
        |                            value := value, sign := sign), sign) AS r
        |  FROM signed GROUP BY tbl, pk, ts),
        |alive AS (
        |  SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY ts DESC) AS rn
        |  FROM per_version WHERE net > 0)
        |SELECT tbl, pk, r.event_id AS event_id, r.action AS action,
        |       r.value AS value, epoch_us(ts) AS ts_us, r.sign AS sign
        |FROM alive WHERE rn = 1""".stripMargin),

    // compaction invariant: same resolve as the uncompacted engine
    "engine_versioned_collapsing_compact" -> (CL + """,
        |signed AS (
        |  SELECT *, CAST(CASE WHEN action = 'delete' THEN -1 ELSE 1 END AS TINYINT) AS sign
        |  FROM changelog),
        |per_version AS (
        |  SELECT tbl, pk, ts, SUM(CAST(sign AS BIGINT)) AS net,
        |         max_by(struct_pack(event_id := event_id, action := action,
        |                            value := value, sign := sign), sign) AS r
        |  FROM signed GROUP BY tbl, pk, ts),
        |alive AS (
        |  SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY ts DESC) AS rn
        |  FROM per_version WHERE net > 0)
        |SELECT tbl, pk, r.event_id AS event_id, r.action AS action,
        |       r.value AS value, epoch_us(ts) AS ts_us, r.sign AS sign
        |FROM alive WHERE rn = 1""".stripMargin),

    // --- extensions ------------------------------------------------------
    "dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text",

    // the digest groups exactly the content groups (collision-free spec)
    "dedup_exact_digest" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text",

    // paragraph split mirrors Spark's literal " the " separator;
    // PARTITION BY the paragraph itself groups exactly the sha2-digest
    // classes the Spark side uses (collision-free spec); list indexes are
    // 1-based here vs posexplode's 0-based — only the ORDER matters
    "dedup_paragraph" ->
      """WITH p0 AS (SELECT doc_id,
        |              unnest(list_transform(string_split(text, ' the '),
        |                                    (x, i) -> {'idx': i, 'para': x})) AS u
        |            FROM documents),
        |p AS (SELECT doc_id, u.idx AS idx, u.para AS para FROM p0
        |      WHERE trim(u.para) <> ''),
        |k AS (SELECT doc_id, idx, para,
        |             (row_number() OVER (PARTITION BY para
        |                ORDER BY doc_id ASC, idx ASC)) = 1 AS keep
        |      FROM p)
        |SELECT doc_id, COUNT(*) AS n_paras,
        |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       COALESCE(string_agg(CASE WHEN keep THEN para END, ' the '
        |                           ORDER BY idx), '') AS text_kept
        |FROM k GROUP BY doc_id""".stripMargin,

    // same deterministic raw-URL synthesis, then the same RE2-compatible
    // canonicalization chain as TextOps.canonicalizeUrl (DuckDB needs the
    // explicit 'g' flag where Spark's regexp_replace is global by default)
    "dedup_url_canonical" ->
      """WITH r AS (SELECT doc_id,
        |    (CASE doc_id % 4 WHEN 0 THEN 'https://' WHEN 1 THEN 'HTTP://'
        |                     WHEN 2 THEN 'https://WWW.' ELSE 'http://www.' END)
        |    || 'Example.COM'
        |    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
        |    || '/p' || CAST(doc_id % 5 AS VARCHAR)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0
        |             THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
        |             WHEN doc_id % 3 = 1
        |             THEN '?id=' || CAST(doc_id % 5 AS VARCHAR) || '&utm_campaign=x'
        |             ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END) AS raw
        |  FROM documents),
        |c1 AS (SELECT doc_id, raw,
        |    lower(regexp_extract(raw, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))
        |      || regexp_replace(raw, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS u
        |  FROM r),
        |c2 AS (SELECT doc_id, raw,
        |    regexp_replace(u, '^([a-z][a-z0-9+.-]*://)www\.', '\1') AS u FROM c1),
        |c3 AS (SELECT doc_id, raw,
        |    regexp_replace(u, '^([a-z][a-z0-9+.-]*://[^/?#:]*):(?:80|443)([/?#]|$)',
        |                   '\1\2') AS u FROM c2),
        |c4 AS (SELECT doc_id, raw, regexp_replace(u, '#.*', '') AS u FROM c3),
        |c5 AS (SELECT doc_id, raw,
        |    regexp_replace(u, '(?i)([?&])(?:utm_[a-z0-9]*|gclid|fbclid)=[^&#]*',
        |                   '\1', 'g') AS u FROM c4),
        |c6 AS (SELECT doc_id, raw,
        |    regexp_replace(regexp_replace(regexp_replace(u, '\?&+', '?'),
        |                                  '&&+', '&', 'g'),
        |                   '[?&]+$', '') AS u FROM c5),
        |c7 AS (SELECT doc_id, raw, regexp_replace(u, '/+$', '') AS url FROM c6)
        |SELECT url, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc,
        |       COUNT(DISTINCT raw) AS n_raw_forms
        |FROM c7 GROUP BY url""".stripMargin,

    "dedup_substring_spans" ->
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |sp AS (SELECT doc_id, unnest(${OracleSql.shingles(8)}) AS span FROM toks)
         |SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
         |FROM sp GROUP BY span
         |HAVING COUNT(DISTINCT doc_id) >= 2""".stripMargin,

    "dedup_span_removal" -> {
      val gram = (0 until 8).map(o =>
        if (o == 0) "tk[CAST(i AS INT)]" else s"tk[CAST(i AS INT)+$o]")
        .mkString(" || ' ' || ")
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |occ AS (SELECT doc_id, CAST(i AS INT) - 1 AS pos, $gram AS span
         |        FROM toks, LATERAL unnest(range(1, greatest(len(tk)-7, 0)+1)) t(i)),
         |dup AS (SELECT span FROM occ GROUP BY span HAVING COUNT(*) >= 2),
         |ranked AS (SELECT o.doc_id, o.pos,
         |             row_number() OVER (PARTITION BY o.span
         |               ORDER BY o.doc_id ASC, o.pos ASC) AS rn
         |           FROM occ o JOIN dup USING (span)),
         |cuts AS (SELECT doc_id, list(pos) AS starts
         |         FROM ranked WHERE rn > 1 GROUP BY doc_id),
         |built AS (SELECT t.doc_id, t.tk,
         |            coalesce(c.starts, []) AS starts
         |          FROM toks t LEFT JOIN cuts c USING (doc_id)),
         |kept AS (SELECT doc_id, tk,
         |           list_filter(tk, (x, i) ->
         |             len(list_filter(starts,
         |               s -> i - 1 >= s AND i - 1 <= s + 7)) = 0) AS kp
         |         FROM built)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |       CAST(len(tk) - len(kp) AS BIGINT) AS n_removed,
         |       coalesce(array_to_string(kp, ' '), '') AS cleaned_text
         |FROM kept""".stripMargin
    },

    "dedup_minhash_sig" -> {
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh0 AS (SELECT doc_id, list_distinct(${OracleSql.shingles(3)}) AS sh FROM toks),
         |sigs AS (SELECT doc_id, sh, ${OracleSql.minhash(8)} AS mh FROM sh0),
         |withb AS (SELECT doc_id, ${OracleSql.bands(4, 2)} AS bl FROM sigs)
         |SELECT doc_id, CAST(t.b AS INT) AS band_idx, bl[CAST(t.b AS INT)+1] AS bucket
         |FROM withb, range(0,4) t(b)""".stripMargin
    },

    "dedup_minhash_pairs" -> {
      val li = "len(list_intersect(s1, s2))"
      val un = s"len(s1) + len(s2) - $li"
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh0 AS (SELECT doc_id, list_distinct(${OracleSql.shingles(3)}) AS sh FROM toks),
         |sigs AS (SELECT doc_id, sh, ${OracleSql.minhash(8)} AS mh FROM sh0),
         |expl AS (SELECT doc_id, CAST(t.b AS INT) AS band_idx, bl[CAST(t.b AS INT)+1] AS bucket
         |         FROM (SELECT doc_id, ${OracleSql.bands(4, 2)} AS bl FROM sigs), range(0,4) t(b)),
         |keep AS (SELECT band_idx, bucket FROM expl
         |         GROUP BY 1, 2 HAVING count(*) <= 64),
         |bexpl AS (SELECT expl.doc_id, expl.band_idx, expl.bucket
         |          FROM expl JOIN keep USING (band_idx, bucket)),
         |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |          FROM bexpl a JOIN bexpl b
         |            ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |j AS (SELECT p.id1, p.id2, x.sh AS s1, y.sh AS s2
         |      FROM pairs p JOIN sh0 x ON x.doc_id = p.id1 JOIN sh0 y ON y.doc_id = p.id2)
         |SELECT id1, id2, CAST($li AS INT) AS inter, CAST($un AS INT) AS uni,
         |       round(CAST($li AS DOUBLE) / ($un), 6) AS jaccard
         |FROM j WHERE $un > 0 AND CAST($li AS DOUBLE) / ($un) >= 0.0""".stripMargin
    },

    // identical candidate CTE chain to dedup_minhash_pairs; the verifier
    // is DuckDB's levenshtein over the same 200-char prefixes
    "dedup_edit_verify" ->
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh0 AS (SELECT doc_id, list_distinct(${OracleSql.shingles(3)}) AS sh FROM toks),
         |sigs AS (SELECT doc_id, sh, ${OracleSql.minhash(8)} AS mh FROM sh0),
         |expl AS (SELECT doc_id, CAST(t.b AS INT) AS band_idx, bl[CAST(t.b AS INT)+1] AS bucket
         |         FROM (SELECT doc_id, ${OracleSql.bands(4, 2)} AS bl FROM sigs), range(0,4) t(b)),
         |keep AS (SELECT band_idx, bucket FROM expl
         |         GROUP BY 1, 2 HAVING count(*) <= 64),
         |bexpl AS (SELECT expl.doc_id, expl.band_idx, expl.bucket
         |          FROM expl JOIN keep USING (band_idx, bucket)),
         |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |          FROM bexpl a JOIN bexpl b
         |            ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |j AS (SELECT p.id1, p.id2,
         |             CAST(levenshtein(substr(x.text, 1, 200),
         |                              substr(y.text, 1, 200)) AS BIGINT) AS edit_dist
         |      FROM pairs p JOIN documents x ON x.doc_id = p.id1
         |                   JOIN documents y ON y.doc_id = p.id2
         |      WHERE abs(length(substr(x.text, 1, 200))
         |                - length(substr(y.text, 1, 200))) <= 60)
         |SELECT id1, id2, edit_dist FROM j WHERE edit_dist <= 60""".stripMargin,

    "dedup_ngram_jaccard" -> {
      // mirrors the Spark op's maxDf=1000 blocking exactly: candidates
      // need a shared shingle with df <= 1000, then Jaccard is scored
      // over ALL shingles — so the oracle stays row-identical at every
      // scale factor, including where the cap actually bites
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh0 AS (SELECT doc_id, list_distinct(tk) AS sh FROM toks),
         |inv AS (SELECT doc_id, len(sh) AS l, unnest(sh) AS g FROM sh0),
         |keep AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= 1000),
         |binv AS (SELECT inv.doc_id, inv.g FROM inv JOIN keep USING (g)),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |         FROM binv a JOIN binv b ON a.g = b.g AND a.doc_id < b.doc_id),
         |pc AS (SELECT c.id1, c.id2, count(*) AS inter,
         |       any_value(a.l) AS l1, any_value(b.l) AS l2
         |       FROM cand c
         |       JOIN inv a ON a.doc_id = c.id1
         |       JOIN inv b ON b.doc_id = c.id2 AND b.g = a.g
         |       GROUP BY 1, 2)
         |SELECT id1, id2, CAST(inter AS INT) AS inter,
         |       CAST(l1 + l2 - inter AS INT) AS uni,
         |       round(CAST(inter AS DOUBLE) / (l1 + l2 - inter), 6) AS jaccard
         |FROM pc WHERE CAST(inter AS DOUBLE) / (l1 + l2 - inter) >= 0.5""".stripMargin
    },

    "dedup_containment" -> {
      // same df<=1000 blocking as dedup_ngram_jaccard; the score divides
      // by the smaller shingle-set size instead of the union
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh0 AS (SELECT doc_id, list_distinct(tk) AS sh FROM toks),
         |inv AS (SELECT doc_id, len(sh) AS l, unnest(sh) AS g FROM sh0),
         |keep AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= 1000),
         |binv AS (SELECT inv.doc_id, inv.g FROM inv JOIN keep USING (g)),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |         FROM binv a JOIN binv b ON a.g = b.g AND a.doc_id < b.doc_id),
         |pc AS (SELECT c.id1, c.id2, count(*) AS inter,
         |       any_value(a.l) AS l1, any_value(b.l) AS l2
         |       FROM cand c
         |       JOIN inv a ON a.doc_id = c.id1
         |       JOIN inv b ON b.doc_id = c.id2 AND b.g = a.g
         |       GROUP BY 1, 2)
         |SELECT id1, id2, CAST(inter AS INT) AS inter,
         |       CAST(least(l1, l2) AS INT) AS min_sz,
         |       round(CAST(inter AS DOUBLE) / least(l1, l2), 6) AS containment
         |FROM pc WHERE CAST(inter AS DOUBLE) / least(l1, l2) >= 0.8""".stripMargin
    },

    "dedup_simhash" -> {
      s"""WITH ${OracleSql.toksCte(lower = false)}
         |SELECT doc_id, ${OracleSql.simhash} AS simhash FROM toks""".stripMargin
    },

    "dedup_simhash_pairs" -> {
      val pow2 = graft.functions.CrossHash.POW2.mkString("[", ",", "]")
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh AS (SELECT doc_id, ${OracleSql.simhash} AS simhash FROM toks),
         |sl AS (SELECT doc_id, simhash, CAST(t.b AS INT) AS band_idx,
         |       CAST((simhash // ($pow2)[CAST(t.b AS INT)*8+1]) % 256 AS BIGINT) AS slice
         |       FROM sh, range(0,4) t(b)),
         |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         |          a.simhash AS h1, b.simhash AS h2
         |          FROM sl a JOIN sl b
         |            ON a.band_idx = b.band_idx AND a.slice = b.slice AND a.doc_id < b.doc_id)
         |SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
         |FROM pairs WHERE bit_count(xor(h1, h2)) <= 3""".stripMargin
    },

    // rank-window mirror: rn per label by (projection, id); a pair
    // qualifies when the ranks are within 64 — the sorted-neighborhood
    // bound the Spark side applies via its banded responsibility join
    "dedup_embedding" -> {
      val cos = OracleSql.cosine("a.embedding", "b.embedding")
      s"""WITH rk AS (
         |  SELECT vec_id, label, embedding,
         |         row_number() OVER (PARTITION BY label
         |           ORDER BY ${OracleSql.sortProj("embedding", 64)} ASC,
         |                    vec_id ASC) AS rn
         |  FROM embeddings)
         |SELECT least(a.vec_id, b.vec_id) AS id1,
         |       greatest(a.vec_id, b.vec_id) AS id2, round($cos, 6) AS cos
         |FROM rk a JOIN rk b
         |  ON a.label = b.label AND a.rn < b.rn AND a.rn >= b.rn - 64
         |WHERE $cos >= 0.35""".stripMargin
    },

    "ann_topk" -> {
      val cos = OracleSql.cosine("q.embedding", "c.embedding")
      s"""WITH j AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cos AS cos
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 8) q, embeddings c
         |  WHERE q.vec_id <> c.vec_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
         |      FROM j)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM r WHERE rank <= 10""".stripMargin
    },

    "embed_knn_classify" -> {
      val cos = OracleSql.cosine("q.embedding", "c.embedding")
      s"""WITH j AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS nid, c.label AS lbl, $cos AS cos
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 8) q, embeddings c
         |  WHERE q.vec_id <> c.vec_id),
         |r AS (SELECT query_id, nid, lbl,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nid ASC) AS rank
         |      FROM j),
         |v AS (SELECT query_id, lbl, count(*) AS votes
         |      FROM r WHERE rank <= 10 GROUP BY 1, 2),
         |p AS (SELECT query_id, lbl, votes,
         |      row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, lbl ASC) AS rn
         |      FROM v)
         |SELECT query_id, CAST(lbl AS INT) AS pred_label, votes
         |FROM p WHERE rn = 1""".stripMargin
    },

    "ann_lsh_topk" -> {
      val cos = OracleSql.cosine("q.embedding", "c.embedding")
      s"""WITH eb AS (SELECT vec_id, embedding,
         |            ${OracleSql.lshBucket("embedding", 4, 64)} AS bucket
         |            FROM embeddings),
         |j AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cos AS cos
         |      FROM (SELECT * FROM eb WHERE vec_id < 8) q
         |      JOIN eb c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
         |      FROM j)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM r WHERE rank <= 10""".stripMargin
    },

    "ann_ivf_topk" -> {
      val cosAssign = OracleSql.cosine("e.embedding", "c.cvec")
      val cosPair = OracleSql.cosine("p.qv", "a.embedding")
      s"""WITH cents AS (
         |  SELECT CAST(c AS INT) AS cid,
         |         list_transform(range(0, 64), d -> ${OracleSql.lcgUnit("c*64+d")}) AS cvec
         |  FROM range(0, 8) t(c)),
         |asgn AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY $cosAssign DESC, c.cid ASC) AS rn
         |    FROM embeddings e, cents c) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, embedding AS qv, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY $cosAssign DESC, c.cid ASC) AS rn
         |    FROM (SELECT * FROM embeddings WHERE vec_id < 8) e, cents c) WHERE rn <= 2),
         |j AS (SELECT p.query_id, a.vec_id AS neighbor_id, $cosPair AS cos
         |      FROM probes p JOIN asgn a ON p.cid = a.cid AND p.query_id <> a.vec_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
         |      FROM j)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM r WHERE rank <= 10""".stripMargin
    },

    "ann_ivf_auto_topk" -> ivfAutoOracle(""),
    "ann_ivf_auto_topk_half" -> ivfAutoOracle("WHERE vec_id % 2 = 0"),

    "ann_ivf_trained_topk" -> {
      // integer squared-L2 on the quantization grid (1-based list index)
      def d(a: String, b: String) =
        s"CAST(list_sum(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
      // nearest-centroid assignment of `src` rows against `cents`
      def asgn(src: String, cents: String) =
        s"""SELECT vec_id, cv, cid FROM (
           |    SELECT c.vec_id, c.cv, s.cid,
           |           row_number() OVER (PARTITION BY c.vec_id
           |             ORDER BY ${d("c.cv", "s.cv")} ASC, s.cid ASC) AS rn
           |    FROM $src c, $cents s) WHERE rn = 1""".stripMargin
      // exact-floor mean per (cid, dim); empty clusters keep prev centroid
      def step(asgnName: String, prev: String) =
        s"""SELECT p.cid, COALESCE(mm.cv, p.cv) AS cv
           |  FROM $prev p LEFT JOIN (
           |    SELECT cid, list((s - ((s % n) + n) % n) // n ORDER BY i) AS cv
           |    FROM (SELECT cid, i, sum(cv[i]) AS s, count(*) AS n
           |          FROM $asgnName, range(1, 65) t(i) GROUP BY cid, i)
           |    GROUP BY cid) mm USING (cid)""".stripMargin
      s"""WITH codes AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 512) AS BIGINT)) AS cv
         |  FROM embeddings),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, cv
         |  FROM (SELECT * FROM codes ORDER BY vec_id LIMIT 4)),
         |a0 AS (${asgn("codes", "seed")}),
         |c1 AS (${step("a0", "seed")}),
         |a1 AS (${asgn("codes", "c1")}),
         |c2 AS (${step("a1", "c1")}),
         |a2 AS (${asgn("codes", "c2")}),
         |lists AS (SELECT vec_id AS neighbor_id, cv AS nv, cid FROM a2),
         |probes AS (
         |  SELECT vec_id AS query_id, cv AS qv, cid FROM (
         |    SELECT c.vec_id, c.cv, s.cid,
         |           row_number() OVER (PARTITION BY c.vec_id
         |             ORDER BY ${d("c.cv", "s.cv")} ASC, s.cid ASC) AS rn
         |    FROM (SELECT * FROM codes WHERE vec_id < 8) c, c2 s) WHERE rn <= 2),
         |j AS (SELECT p.query_id, l.neighbor_id, ${d("p.qv", "l.nv")} AS dist
         |      FROM probes p JOIN lists l
         |        ON p.cid = l.cid AND p.query_id <> l.neighbor_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist FROM (
         |  SELECT query_id, neighbor_id, dist,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY dist ASC, neighbor_id ASC) AS rank
         |  FROM j) WHERE rank <= 10""".stripMargin
    },

    "ann_ivfpq_trained_topk" -> {
      // the full residual IVF-PQ build replayed in SQL: coarse integer
      // Lloyd (same CTEs as ann_ivf_trained_topk), integer residuals,
      // per-subspace book training with SUBSPACES AS DATA (s = 0..7
      // rides every row, so one assign/update pair per round trains all
      // 8 books), then probe + ADC ranking. All arithmetic is exact
      // integer; ties break (dist, cid) / (dist, code) like the engine.
      def d64(a: String, b: String) =
        s"CAST(list_sum(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
      def d8(a: String, b: String) =
        s"CAST(list_sum(list_transform(range(1, 9), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
      def asgn(src: String, cents: String) =
        s"""SELECT vec_id, cv, cid FROM (
           |    SELECT c.vec_id, c.cv, s.cid,
           |           row_number() OVER (PARTITION BY c.vec_id
           |             ORDER BY ${d64("c.cv", "s.cv")} ASC, s.cid ASC) AS rn
           |    FROM $src c, $cents s) WHERE rn = 1""".stripMargin
      def step(asgnName: String, prev: String) =
        s"""SELECT p.cid, COALESCE(mm.cv, p.cv) AS cv
           |  FROM $prev p LEFT JOIN (
           |    SELECT cid, list((s - ((s % n) + n) % n) // n ORDER BY i) AS cv
           |    FROM (SELECT cid, i, sum(cv[i]) AS s, count(*) AS n
           |          FROM $asgnName, range(1, 65) t(i) GROUP BY cid, i)
           |    GROUP BY cid) mm USING (cid)""".stripMargin
      // per-(vec, subspace) argmin code against books `bk`
      def passign(src: String, bk: String) =
        s"""SELECT vec_id, s, sv, code FROM (
           |    SELECT r.vec_id, r.s, r.sv, b.code,
           |           row_number() OVER (PARTITION BY r.vec_id, r.s
           |             ORDER BY ${d8("r.sv", "b.bv")} ASC, b.code ASC) AS rn
           |    FROM $src r JOIN $bk b ON b.s = r.s) WHERE rn = 1""".stripMargin
      // floor-div mean update per (s, code, d); empty codes keep bv
      def pstep(asgnName: String, prev: String) =
        s"""SELECT p.s, p.code, COALESCE(mm.bv, p.bv) AS bv
           |  FROM $prev p LEFT JOIN (
           |    SELECT s, code, list((sm - ((sm % n) + n) % n) // n ORDER BY d) AS bv
           |    FROM (SELECT s, code, d, sum(sv[d]) AS sm, count(*) AS n
           |          FROM $asgnName, range(1, 9) t(d) GROUP BY s, code, d)
           |    GROUP BY s, code) mm USING (s, code)""".stripMargin
      s"""WITH codes AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 512) AS BIGINT)) AS cv
         |  FROM embeddings),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, cv
         |  FROM (SELECT * FROM codes ORDER BY vec_id LIMIT 4)),
         |a0 AS (${asgn("codes", "seed")}),
         |c1 AS (${step("a0", "seed")}),
         |a1 AS (${asgn("codes", "c1")}),
         |c2 AS (${step("a1", "c1")}),
         |a2 AS (${asgn("codes", "c2")}),
         |res AS (
         |  SELECT a.vec_id, a.cid,
         |         list_transform(range(1, 65), i -> a.cv[i] - c.cv[i]) AS rv
         |  FROM a2 a JOIN c2 c USING (cid)),
         |rsl AS (
         |  SELECT vec_id, CAST(t.s AS INT) AS s,
         |         list_transform(range(1, 9), d -> rv[t.s * 8 + d]) AS sv
         |  FROM res, range(0, 8) t(s)),
         |b0 AS (
         |  SELECT CAST(t.s AS INT) AS s,
         |         CAST(row_number() OVER (PARTITION BY t.s ORDER BY vec_id) - 1 AS INT) AS code,
         |         list_transform(range(1, 9), d -> rv[t.s * 8 + d]) AS bv
         |  FROM (SELECT * FROM res ORDER BY vec_id LIMIT 16), range(0, 8) t(s)),
         |pa0 AS (${passign("rsl", "b0")}),
         |b1 AS (${pstep("pa0", "b0")}),
         |pa1 AS (${passign("rsl", "b1")}),
         |b2 AS (${pstep("pa1", "b1")}),
         |pa2 AS (${passign("rsl", "b2")}),
         |lists AS (
         |  SELECT p.vec_id AS neighbor_id, r.cid, p.s, p.code
         |  FROM pa2 p JOIN res r USING (vec_id)),
         |probes AS (
         |  SELECT vec_id AS query_id, cid FROM (
         |    SELECT c.vec_id, s.cid,
         |           row_number() OVER (PARTITION BY c.vec_id
         |             ORDER BY ${d64("c.cv", "s.cv")} ASC, s.cid ASC) AS rn
         |    FROM (SELECT * FROM codes WHERE vec_id < 8) c, c2 s) WHERE rn <= 2),
         |qrsl AS (
         |  SELECT p.query_id, p.cid, CAST(t.s AS INT) AS s,
         |         list_transform(range(1, 9), d -> q.cv[t.s * 8 + d] - cc.cv[t.s * 8 + d]) AS sv
         |  FROM probes p
         |  JOIN codes q ON q.vec_id = p.query_id
         |  JOIN c2 cc ON cc.cid = p.cid, range(0, 8) t(s)),
         |j AS (
         |  SELECT q.query_id, l.neighbor_id,
         |         CAST(sum(${d8("q.sv", "b.bv")}) AS BIGINT) AS adc
         |  FROM qrsl q
         |  JOIN lists l ON l.cid = q.cid AND l.s = q.s
         |              AND l.neighbor_id <> q.query_id
         |  JOIN b2 b ON b.s = l.s AND b.code = l.code
         |  GROUP BY q.query_id, l.neighbor_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, adc FROM (
         |  SELECT query_id, neighbor_id, adc,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY adc ASC, neighbor_id ASC) AS rank
         |  FROM j) WHERE rank <= 10""".stripMargin
    },

    "dedup_embedding_lsh" -> {
      val cos = OracleSql.cosine("a.embedding", "b.embedding")
      s"""WITH eb AS (SELECT vec_id, embedding,
         |            ${OracleSql.lshBucket("embedding", 4, 64)} AS bucket
         |            FROM embeddings),
         |rk AS (
         |  SELECT vec_id, bucket, embedding,
         |         row_number() OVER (PARTITION BY bucket
         |           ORDER BY ${OracleSql.sortProj("embedding", 64)} ASC,
         |                    vec_id ASC) AS rn
         |  FROM eb)
         |SELECT least(a.vec_id, b.vec_id) AS id1,
         |       greatest(a.vec_id, b.vec_id) AS id2, round($cos, 6) AS cos
         |FROM rk a JOIN rk b
         |  ON a.bucket = b.bucket AND a.rn < b.rn AND a.rn >= b.rn - 64
         |WHERE $cos >= 0.3""".stripMargin
    },

    "dedup_semantic" -> {
      val cosAssign = OracleSql.cosine("e.embedding", "c.cvec")
      val cosPair = OracleSql.cosine("a.embedding", "b.embedding")
      s"""WITH cents AS (
         |  SELECT CAST(c AS INT) AS cid,
         |         list_transform(range(0, 64), d -> ${OracleSql.lcgUnit("c*64+d")}) AS cvec
         |  FROM range(0, 8) t(c)),
         |asgn AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY $cosAssign DESC, c.cid ASC) AS rn
         |    FROM embeddings e, cents c) WHERE rn = 1),
         |rk AS (
         |  SELECT vec_id, embedding, cid,
         |         row_number() OVER (PARTITION BY cid
         |           ORDER BY ${OracleSql.sortProj("embedding", 64)} ASC,
         |                    vec_id ASC) AS srn
         |  FROM asgn),
         |drp AS (
         |  SELECT DISTINCT greatest(a.vec_id, b.vec_id) AS vec_id
         |  FROM rk a JOIN rk b
         |    ON a.cid = b.cid AND a.srn < b.srn AND a.srn >= b.srn - 64
         |  WHERE $cosPair >= 0.3)
         |SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS keep
         |FROM asgn a LEFT JOIN drp d USING (vec_id)""".stripMargin
    },

    "text_tfidf" -> {
      s"""WITH raw AS (SELECT doc_id, unnest(${OracleSql.tokens("lower(text)")}) AS term FROM documents),
         |dist AS (SELECT DISTINCT doc_id, term FROM raw),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM raw GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM dist GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
         |scored AS (SELECT doc_id, term,
         |           CAST(tf AS DOUBLE) * (SELECT n FROM n) / df AS score
         |           FROM tf JOIN dfreq USING (term)),
         |r AS (SELECT doc_id, term, score,
         |      CAST(row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, term ASC) AS INT) AS rank
         |      FROM scored)
         |SELECT doc_id, rank, term, round(score, 6) AS score
         |FROM r WHERE rank <= 5""".stripMargin
    },

    "text_langid" -> {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |sc AS (SELECT doc_id, ${OracleSql.langScores} FROM toks)
         |SELECT doc_id, ${OracleSql.langArgmax} AS guessed_lang,
         |       CAST(greatest(s_de, s_en, s_es, s_fr, s_zh) AS INT) AS score
         |FROM sc""".stripMargin
    },

    "text_quality" -> {
      s"""WITH base AS (SELECT doc_id, length(text) AS n_chars,
         |              ${OracleSql.tokens("lower(text)")} AS tk FROM documents),
         |m AS (SELECT doc_id, n_chars, len(tk) AS n_tokens,
         |      len(list_distinct(tk)) AS n_distinct,
         |      len(list_filter(tk, t -> list_contains(${OracleSql.allStopList}, t))) AS n_stop,
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(tk, t -> CAST(length(t) AS BIGINT))), (a, x) -> a + x) AS sum_len
         |      FROM base),
         |r AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |      CAST(n_tokens AS BIGINT) AS n_tokens,
         |      CAST(n_distinct AS BIGINT) AS n_distinct,
         |      CAST(n_stop AS BIGINT) AS n_stop,
         |      round(CAST(sum_len AS DOUBLE) / greatest(n_tokens, 1), 6) AS avg_token_len,
         |      round(CAST(n_distinct AS DOUBLE) / greatest(n_tokens, 1), 6) AS distinct_ratio,
         |      round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 6) AS stopword_ratio
         |      FROM m)
         |SELECT doc_id, n_chars, n_tokens, n_distinct, n_stop, avg_token_len,
         |       distinct_ratio, stopword_ratio,
         |       round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
         |             + distinct_ratio * 0.4 + stopword_ratio * 0.2, 6) AS quality
         |FROM r""".stripMargin
    },

    "text_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(text)+1),
        |         i -> substr(text, CAST(i AS INT), 1))) AS c
        |  FROM documents),
        |cc AS (SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY doc_id, c),
        |tot AS (SELECT doc_id, SUM(cnt) AS n, list(cnt ORDER BY c) AS cl
        |        FROM cc GROUP BY doc_id),
        |e AS (SELECT doc_id, n,
        |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(cl, k -> -(k/n)*ln(k/n))), (a, x) -> a + x) AS ent
        |      FROM tot)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        |       round(coalesce(e.ent, 0), 6) AS char_entropy,
        |       round(CAST(len(regexp_extract_all(d.text, '[0-9]')) AS DOUBLE)
        |             / greatest(length(d.text), 1), 6) AS digit_frac,
        |       round(CAST(len(regexp_extract_all(d.text, '[A-Z]')) AS DOUBLE)
        |             / greatest(length(d.text), 1), 6) AS upper_frac
        |FROM documents d LEFT JOIN e ON e.doc_id = d.doc_id""".stripMargin,

    "text_tokens" -> {
      s"""WITH ${OracleSql.toksCte(lower = false)}
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS ws_tokens,
         |       list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         list_transform(tk, t -> CAST(ceil(length(t) / 4.0) AS BIGINT))),
         |         (a, x) -> a + x) AS bpe_tokens
         |FROM toks""".stripMargin
    },

    "text_fingerprint" -> {
      s"""WITH ${OracleSql.toksCte(lower = true)}
         |SELECT doc_id, ${OracleSql.ph("array_to_string(tk, ' ')")} AS fingerprint
         |FROM toks""".stripMargin
    },

    "text_webmarks" -> {
      s"""WITH ${OracleSql.toksCte(lower = true)}
         |SELECT doc_id,
         |  CAST(len(list_filter(tk, t -> starts_with(t, 'http://')
         |       OR starts_with(t, 'https://') OR starts_with(t, 'www.'))) AS BIGINT) AS n_urls,
         |  CAST(len(list_filter(tk, t -> contains(t, '@') AND contains(t, '.'))) AS BIGINT) AS n_emails,
         |  (len(list_filter(tk, t -> starts_with(t, 'http://')
         |       OR starts_with(t, 'https://') OR starts_with(t, 'www.')))
         |   + len(list_filter(tk, t -> contains(t, '@') AND contains(t, '.')))) > 0 AS has_web
         |FROM toks""".stripMargin
    },

    "text_unigram_lp" -> {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |ti AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
         |cnt AS (SELECT tok, count(*) AS c FROM ti GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cnt),
         |agg AS (SELECT ti.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |        avg(-ln(CAST(c AS DOUBLE) / (SELECT t FROM tot))) AS nll
         |        FROM ti JOIN cnt USING (tok) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(a.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
         |  round(coalesce(a.nll, 0), 6) AS avg_nll
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin
    },

    "text_bigram_lp" -> {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |bi AS (SELECT doc_id, unnest(${OracleSql.shingles(2)}) AS bg FROM toks),
         |cnt AS (SELECT bg, count(*) AS c12 FROM bi GROUP BY 1),
         |pre AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c12) AS c1
         |        FROM cnt GROUP BY 1),
         |lp AS (SELECT cnt.bg,
         |         ln(CAST(cnt.c12 AS DOUBLE) / CAST(pre.c1 AS DOUBLE)) AS l
         |       FROM cnt JOIN pre ON pre.w1 = split_part(cnt.bg, ' ', 1)),
         |agg AS (SELECT bi.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |        avg(-lp.l) AS nll
         |        FROM bi JOIN lp USING (bg) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(a.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
         |  round(coalesce(a.nll, 0), 6) AS avg_nll2
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin
    },

    "corpus_ccnet_buckets" -> {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |ti AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
         |cnt AS (SELECT tok, count(*) AS c FROM ti GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cnt),
         |agg AS (SELECT ti.doc_id,
         |        round(avg(-ln(CAST(c AS DOUBLE) / (SELECT t FROM tot))), 6) AS nll
         |        FROM ti JOIN cnt USING (tok) GROUP BY 1),
         |s AS (SELECT d.doc_id, d.lang, round(coalesce(a.nll, 0), 6) AS avg_nll
         |      FROM documents d LEFT JOIN agg a USING (doc_id)),
         |b AS (SELECT *, ntile(3) OVER (PARTITION BY lang
         |        ORDER BY avg_nll ASC, doc_id ASC) AS _b FROM s)
         |SELECT doc_id, lang, avg_nll,
         |       CASE _b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |               ELSE 'tail' END AS ccnet_bucket
         |FROM b""".stripMargin
    },

    "text_oov" -> {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |ti AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
         |pd AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n_inst
         |       FROM ti GROUP BY 1, 2),
         |dfq AS (SELECT tok, count(*) AS df FROM pd GROUP BY 1),
         |agg AS (SELECT pd.doc_id,
         |          CAST(sum(pd.n_inst) AS BIGINT) AS n_tokens,
         |          CAST(sum(CASE WHEN dfq.df <= 0.1 * (SELECT count(*) FROM documents)
         |                        THEN pd.n_inst ELSE 0 END) AS BIGINT) AS n_rare
         |        FROM pd JOIN dfq USING (tok) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(a.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
         |  coalesce(a.n_rare, CAST(0 AS BIGINT)) AS n_rare,
         |  round(CAST(coalesce(a.n_rare, 0) AS DOUBLE)
         |        / greatest(coalesce(a.n_tokens, 0), 1), 6) AS rare_fraction
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin
    },

    "text_winnow" -> {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |h AS (SELECT doc_id,
         |        list_transform(${OracleSql.shingles(3)}, s -> ${OracleSql.ph("s")}) AS hs,
         |        greatest(len(tk) - 2, 0) AS m
         |      FROM toks),
         |w AS (SELECT doc_id,
         |        list_distinct(list_transform(range(1, greatest(m - 3, 0) + 1),
         |          i -> list_min(hs[CAST(i AS INT) : CAST(i AS INT) + 3]))) AS fps
         |      FROM h)
         |SELECT doc_id, unnest(fps) AS fp FROM w""".stripMargin
    },

    "dedup_winnow_pairs" -> {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |h AS (SELECT doc_id,
         |        list_transform(${OracleSql.shingles(3)}, s -> ${OracleSql.ph("s")}) AS hs,
         |        greatest(len(tk) - 2, 0) AS m
         |      FROM toks),
         |w AS (SELECT doc_id,
         |        list_distinct(list_transform(range(1, greatest(m - 3, 0) + 1),
         |          i -> list_min(hs[CAST(i AS INT) : CAST(i AS INT) + 3]))) AS fps
         |      FROM h),
         |f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
         |keep AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 64),
         |ff AS (SELECT f.doc_id, f.fp FROM f JOIN keep USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
         |FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= 2""".stripMargin
    },

    "split_assign" -> {
      val bucket = s"(${OracleSql.ph("CAST(doc_id AS VARCHAR)")}) % 100"
      s"""SELECT doc_id, CAST($bucket AS INT) AS bucket,
         |       CASE WHEN $bucket < 98 THEN 'train'
         |            WHEN $bucket < 99 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM documents""".stripMargin
    },

    "corpus_vocab" -> {
      s"""WITH raw AS (SELECT doc_id, unnest(${OracleSql.tokens("lower(text)")}) AS term
         |             FROM documents)
         |SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
         |FROM raw GROUP BY term
         |ORDER BY df DESC, tf DESC, term ASC
         |LIMIT 20""".stripMargin
    },

    "corpus_sample_weighted" -> {
      val u = s"(${OracleSql.ph("CAST(doc_id AS VARCHAR) || ':wsample'")}) % 1000000"
      s"""WITH wmax AS (SELECT CAST(MAX(n_chars) AS BIGINT) AS m FROM documents),
         |d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         |      CAST($u AS BIGINT) AS u FROM documents)
         |SELECT doc_id, weight, CAST(u AS INT) AS u_bucket
         |FROM d, wmax WHERE u * wmax.m < weight * 1000000""".stripMargin
    },

    "corpus_mixture" -> {
      val u = s"(${OracleSql.ph("CAST(doc_id AS VARCHAR) || ':mix'")}) % 1000000"
      s"""WITH u AS (SELECT doc_id, source, CAST($u AS INT) AS u_bucket FROM documents)
         |SELECT doc_id, source, u_bucket FROM u
         |WHERE u_bucket < (CASE source WHEN 'src0' THEN 500000
         |                              WHEN 'src1' THEN 250000
         |                              ELSE 1000000 END)""".stripMargin
    },

    "corpus_bpe_pairs" -> {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |p AS (SELECT unnest(list_transform(range(1, greatest(len(tk)-1, 0)+1),
         |        i -> struct_pack(left_tok := tk[CAST(i AS INT)],
         |                         right_tok := tk[CAST(i AS INT)+1]))) AS pr
         |      FROM toks)
         |SELECT pr.left_tok AS left_tok, pr.right_tok AS right_tok,
         |       COUNT(*) AS n_pairs
         |FROM p GROUP BY 1, 2
         |ORDER BY n_pairs DESC, left_tok ASC, right_tok ASC
         |LIMIT 20""".stripMargin
    },

    "corpus_bpe_learn100" -> OracleSql.bpeLearnUnrolled(100),

    "embed_centroids" -> {
      s"""WITH e AS (SELECT label, vec_id, CAST(d AS INT) AS dim,
         |      CAST(embedding[CAST(d AS INT)+1] AS DOUBLE) AS x
         |      FROM embeddings, range(0, 64) t(d))
         |SELECT label, dim, COUNT(*) AS n_vecs,
         |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(x ORDER BY vec_id)), (a, v) -> a + v) / COUNT(*), 6) AS centroid
         |FROM e GROUP BY label, dim""".stripMargin
    },

    "text_classifier" -> {
      val w = OracleSql.lcgUnit(s"(${OracleSql.ph("t")}) % 1024")
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |s AS (SELECT doc_id,
         |      CASE WHEN len(tk) > 0 THEN
         |        0.0 + list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |          list_transform(tk, t -> $w)), (a, x) -> a + x)
         |          / len(tk)
         |      ELSE 0.0 END AS logit FROM toks)
         |SELECT doc_id, round(logit, 6) AS clf_logit,
         |       round(logit, 6) > 0 AS clf_keep
         |FROM s""".stripMargin
    },

    "embed_project" -> {
      val w = OracleSql.lcgUnit("pl*64+d")
      s"""WITH p AS (SELECT vec_id,
         |  list_transform(range(0, 8), pl ->
         |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(0, 64), d ->
         |        CAST(embedding[CAST(d AS INT)+1] AS DOUBLE) * $w)),
         |      (s, v) -> s + v), 6)) AS proj
         |FROM embeddings)
         |SELECT vec_id, CAST(i AS INT) AS plane, proj[CAST(i AS INT)+1] AS pv
         |FROM p, range(0, 8) t(i)""".stripMargin
    },

    "ann_pq_topk" -> {
      // per-subspace distance list of `embedding`'s slice s to each of
      // the 16 LCG centroids, in code order (the exact fold PqCodesExpr
      // and PqAdcTabsExpr perform)
      def dl(s: Int): String = {
        val xd = s"CAST(embedding[CAST(${s * 8} + d AS INT)+1] AS DOUBLE)"
        val w = OracleSql.lcgUnit(s"((${s}*16+c)*8+d)")
        s"list_transform(range(0, 16), c -> list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(range(0, 8), d -> (($xd - $w) * ($xd - $w)))), (a, x) -> a + x))"
      }
      val codeCols = (0 until 8).map(s =>
        s"CAST(list_position(${dl(s)}, list_min(${dl(s)})) - 1 AS INT) AS c$s")
        .mkString(",\n  ")
      val tabCols = (0 until 8).map(s => s"${dl(s)} AS t$s").mkString(",\n  ")
      val adcExpr = (0 until 8).map(s => s"t$s[c$s+1]").mkString(" + ")
      s"""WITH codes AS (SELECT vec_id AS neighbor_id,
         |  $codeCols
         |FROM embeddings),
         |qt AS (SELECT vec_id AS query_id,
         |  $tabCols
         |FROM embeddings WHERE vec_id < 8),
         |pairs AS (SELECT query_id, neighbor_id, $adcExpr AS adc
         |          FROM qt, codes WHERE query_id <> neighbor_id),
         |r AS (SELECT query_id, neighbor_id, adc,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc ASC, neighbor_id ASC) AS rnk FROM pairs)
         |SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id, round(adc, 6) AS adc
         |FROM r WHERE rnk <= 10""".stripMargin
    },

    "ann_ivfpq_topk" -> {
      // coarse cosine quantizer (as in ann_ivf_topk) + the PQ code/ADC
      // fragments (as in ann_pq_topk), composed
      def dl(s: Int): String = {
        val xd = s"CAST(embedding[CAST(${s * 8} + d AS INT)+1] AS DOUBLE)"
        val w = OracleSql.lcgUnit(s"((${s}*16+c)*8+d)")
        s"list_transform(range(0, 16), c -> list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(range(0, 8), d -> (($xd - $w) * ($xd - $w)))), (a, x) -> a + x))"
      }
      val codeCols = (0 until 8).map(s =>
        s"CAST(list_position(${dl(s)}, list_min(${dl(s)})) - 1 AS INT) AS c$s")
        .mkString(",\n  ")
      val tabCols = (0 until 8).map(s => s"${dl(s)} AS t$s").mkString(",\n  ")
      val adcExpr = (0 until 8).map(s => s"q.t$s[l.c$s+1]").mkString(" + ")
      val cosAssign = OracleSql.cosine("e.embedding", "c.cvec")
      s"""WITH cents AS (
         |  SELECT CAST(c AS INT) AS cid,
         |         list_transform(range(0, 64), d -> ${OracleSql.lcgUnit("c*64+d")}) AS cvec
         |  FROM range(0, 8) t(c)),
         |asgn AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY $cosAssign DESC, c.cid ASC) AS rn
         |    FROM embeddings e, cents c) WHERE rn = 1),
         |codes AS (SELECT vec_id,
         |  $codeCols
         |FROM embeddings),
         |lists AS (SELECT a.vec_id AS neighbor_id, a.cid,
         |          c0, c1, c2, c3, c4, c5, c6, c7
         |          FROM asgn a JOIN codes USING (vec_id)),
         |probes AS (
         |  SELECT vec_id AS query_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY $cosAssign DESC, c.cid ASC) AS rn
         |    FROM (SELECT * FROM embeddings WHERE vec_id < 8) e, cents c) WHERE rn <= 2),
         |qt AS (SELECT vec_id AS query_id,
         |  $tabCols
         |FROM embeddings WHERE vec_id < 8),
         |j AS (SELECT p.query_id, l.neighbor_id, $adcExpr AS adc
         |      FROM probes p
         |      JOIN lists l ON p.cid = l.cid AND p.query_id <> l.neighbor_id
         |      JOIN qt q ON q.query_id = p.query_id),
         |r AS (SELECT query_id, neighbor_id, adc,
         |      CAST(row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc ASC, neighbor_id ASC) AS INT) AS rank FROM j)
         |SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc
         |FROM r WHERE rank <= 10""".stripMargin
    },

    "embed_quantize" -> {
      """SELECT vec_id, CAST(d AS INT) AS dim,
        |  CAST(CASE WHEN vmax > vmin
        |    THEN least(floor((x - vmin) * 255 / (vmax - vmin)), 255)
        |    ELSE 0 END AS INT) AS q,
        |  vmin, vmax
        |FROM (SELECT vec_id,
        |        CAST(list_min(embedding) AS DOUBLE) AS vmin,
        |        CAST(list_max(embedding) AS DOUBLE) AS vmax,
        |        CAST(embedding[CAST(d AS INT)+1] AS DOUBLE) AS x, d
        |      FROM embeddings, range(0, 64) t(d))""".stripMargin
    },

    "text_boilerplate" -> {
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh AS (SELECT doc_id, list_distinct(${OracleSql.shingles(3)}) AS sh FROM toks),
         |inv AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |dfreq AS (SELECT g, COUNT(*) AS df FROM inv GROUP BY g),
         |per AS (SELECT i.doc_id, COUNT(*) AS n_grams,
         |        SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS n_dup
         |        FROM inv i JOIN dfreq f USING (g) GROUP BY i.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
         |       CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup,
         |       round(CAST(coalesce(p.n_dup, 0) AS DOUBLE)
         |             / greatest(coalesce(p.n_grams, 0), 1), 6) AS dup_fraction
         |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id""".stripMargin
    },

    "session_stats" ->
      """WITH ordered AS (
        |  SELECT user_id, event_id, ts, value,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev IS NULL
        |                   OR epoch_us(ts) - epoch_us(prev) > 1800000000
        |                 THEN 1 ELSE 0 END AS ns
        |  FROM ordered),
        |sess AS (
        |  SELECT *, CAST(SUM(ns) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |       MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
        |       CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, session_seq""".stripMargin,

    "session_funnel" ->
      """WITH ue AS (
        |  SELECT user_id,
        |         list_sort(list(struct_pack(us := epoch_us(ts),
        |                                    eid := event_id,
        |                                    et := event_type))) AS evs
        |  FROM events GROUP BY 1),
        |cd AS (
        |  SELECT user_id,
        |         list_transform(evs, e -> CASE WHEN e.et = 'view' THEN 1
        |                                       WHEN e.et = 'click' THEN 2
        |                                       WHEN e.et = 'purchase' THEN 3
        |                                       ELSE 0 END) AS codes
        |  FROM ue)
        |SELECT user_id,
        |  CAST(list_reduce(list_prepend(0, codes),
        |    (st, x) -> CASE WHEN x = st + 1 THEN st + 1 ELSE st END) AS INT) AS stage
        |FROM cd""".stripMargin,

    "session_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |coh AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
        |SELECT c.cohort_day, u.day - c.cohort_day AS day_offset,
        |       count(DISTINCT u.user_id) AS n_users
        |FROM ud u JOIN coh c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // each event belongs to exactly window/slide = 2 sliding windows:
    // the one starting at its slide-grid floor and the one before it
    "event_rate_sliding" ->
      """WITH e AS (
        |  SELECT event_type, CAST(value AS DECIMAL(28,2)) AS v,
        |         epoch_us(ts) - epoch_us(ts) % 300000000 AS base
        |  FROM events),
        |w AS (SELECT event_type, v,
        |             unnest([base, base - 300000000]) AS win_start_us
        |      FROM e)
        |SELECT win_start_us, event_type, COUNT(*) AS n_events,
        |       CAST(SUM(v) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2""".stripMargin,

    "sketch_hist_quantiles" ->
      s"""WITH n AS (SELECT lang,
         |           CAST(len(${OracleSql.tokens("text")}) AS BIGINT) AS v
         |           FROM documents WHERE text IS NOT NULL),
         |b AS (SELECT lang, CAST(least(greatest((v * 64) // 128, 0), 63) AS INT) AS bk
         |     FROM n WHERE v IS NOT NULL),
         |h AS (SELECT lang, bk, COUNT(*) AS c FROM b GROUP BY 1, 2),
         |cum AS (SELECT lang, bk, c,
         |        SUM(c) OVER (PARTITION BY lang ORDER BY bk
         |          ROWS UNBOUNDED PRECEDING) AS cm,
         |        SUM(c) OVER (PARTITION BY lang) AS nn FROM h),
         |p50 AS (SELECT lang, MIN((bk + 1) * 128 // 64) AS p50
         |        FROM cum WHERE cm * 100 >= nn * 50 GROUP BY lang),
         |p95 AS (SELECT lang, MIN((bk + 1) * 128 // 64) AS p95
         |        FROM cum WHERE cm * 100 >= nn * 95 GROUP BY lang)
         |SELECT p50.lang, p50.p50, p95.p95
         |FROM p50 JOIN p95 USING (lang)""".stripMargin,

    "sketch_cm_counts" -> {
      val aL = graft.functions.CrossHash.A.take(4).mkString("[", ",", "]")
      val bL = graft.functions.CrossHash.B.take(4).mkString("[", ",", "]")
      val h = OracleSql.ph("CAST(user_id AS VARCHAR)")
      def cellCte(src: String, name: String) =
        s"""$name AS (
           |  SELECT user_id, CAST(t.r AS INT) AS row,
           |    ((((((($h) * ($h) + 12345) % ${OracleSql.P}
           |          * 1103515245 + 12345) % ${OracleSql.P})
           |        * ($aL)[CAST(t.r AS INT)+1] + ($bL)[CAST(t.r AS INT)+1])
           |      % ${OracleSql.P}) % 256) AS col
           |  FROM $src, range(0, 4) t(r))""".stripMargin
      s"""WITH ${cellCte("events", "cells")},
         |sketch AS (SELECT row, col, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
         |exact AS (SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY 1),
         |top AS (SELECT user_id, n_exact FROM exact
         |        ORDER BY n_exact DESC, user_id ASC LIMIT 10),
         |${cellCte("top", "pc")},
         |est AS (SELECT pc.user_id, MIN(COALESCE(s.cnt, 0)) AS cm_estimate
         |        FROM pc LEFT JOIN sketch s USING (row, col) GROUP BY pc.user_id)
         |SELECT e.user_id, e.cm_estimate, t.n_exact
         |FROM est e JOIN top t USING (user_id)""".stripMargin
    },

    "sketch_hll_users" -> {
      val pow2 = (0 to 32).map(b => 1L << b).mkString("[", ",", "]")
      val h = OracleSql.ph("CAST(user_id AS VARCHAR)")
      s"""WITH h0 AS (
         |  SELECT event_type, $h AS h0 FROM events WHERE user_id IS NOT NULL),
         |hashed AS (
         |  SELECT event_type,
         |    ((h0 * h0 + 12345) % ${OracleSql.P} * 1103515245 + 12345)
         |      % ${OracleSql.P} AS h FROM h0),
         |rr AS (
         |  SELECT event_type, CAST(h % 64 AS INT) AS reg,
         |    CASE WHEN h // 64 = 0 THEN CAST(32 AS BIGINT)
         |         ELSE list_reduce(list_prepend(CAST(32 AS BIGINT), range(0, 32)),
         |           (acc, b) -> CASE WHEN acc = 32
         |               AND ((h // 64) // ($pow2)[CAST(b AS INT)+1]) % 2 = 1
         |             THEN b + 1 ELSE acc END)
         |    END AS rho
         |  FROM hashed),
         |regs AS (SELECT event_type, reg, MAX(rho) AS m
         |         FROM rr GROUP BY event_type, reg),
         |est AS (
         |  SELECT event_type,
         |    SUM(1.0 / CAST(($pow2)[CAST(m AS INT)+1] AS DOUBLE)) AS s,
         |    COUNT(*) AS nreg
         |  FROM regs GROUP BY event_type)
         |SELECT e.event_type,
         |  round(CASE WHEN 0.709 * 64 * 64 / (e.s + CAST(64 - e.nreg AS DOUBLE))
         |               <= 2.5 * CAST(64 AS DOUBLE) AND e.nreg < 64
         |        THEN CAST(64 AS DOUBLE)
         |             * ln(CAST(64 AS DOUBLE) / CAST(64 - e.nreg AS DOUBLE))
         |        ELSE 0.709 * 64 * 64 / (e.s + CAST(64 - e.nreg AS DOUBLE)) END, 6)
         |    AS hll_estimate,
         |  x.n_exact
         |FROM est e JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
         |                 FROM events GROUP BY event_type) x USING (event_type)""".stripMargin
    },

    "event_props_json" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(json_extract(props, '$.k')) AS n_with_k,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
        |  CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "event_rate_anomaly" ->
      """WITH wc AS (
        |  SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS win_start_us,
        |         event_type, COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, COUNT(*) AS n, SUM(n_events) AS s,
        |              SUM(CAST(n_events AS HUGEINT)*n_events) AS ss
        |       FROM wc GROUP BY 1)
        |SELECT wc.win_start_us, wc.event_type, wc.n_events
        |FROM wc JOIN st USING (event_type)
        |WHERE (CAST(wc.n_events AS HUGEINT)*st.n - st.s)
        |        *(CAST(wc.n_events AS HUGEINT)*st.n - st.s)
        |      > 4*(CAST(st.n AS HUGEINT)*st.ss - CAST(st.s AS HUGEINT)*st.s)""".stripMargin,

    "session_paths" ->
      """WITH ordered AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev IS NULL
        |                   OR epoch_us(ts) - epoch_us(prev) > 1800000000
        |                 THEN 1 ELSE 0 END AS ns
        |  FROM ordered),
        |sess AS (
        |  SELECT *, CAST(SUM(ns) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged),
        |p AS (SELECT user_id, session_seq,
        |             array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path
        |      FROM sess GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin,

    // naive overlap-join reference: the engine's bucketed plan must agree
    // row-for-row with the O(n*m) formulation
    "interval_join" ->
      """WITH v AS (
        |  SELECT event_id AS view_id, user_id,
        |         epoch_us(ts) AS v_start_us, epoch_us(ts) + 1800000000 AS v_end_us
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |         epoch_us(ts) AS p_start_us, epoch_us(ts) + 7200000000 AS p_end_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v.view_id, v.user_id, v.v_start_us, p.purchase_id, p.p_start_us
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND v.v_start_us <= p.p_end_us AND p.p_start_us <= v.v_end_us""".stripMargin,

    "dedup_components" ->
      s"""WITH RECURSIVE ${OracleSql.minhashPairsCte()},
         |${OracleSql.componentsCte}
         |SELECT doc_id, component FROM comp""".stripMargin,

    "dedup_keep_one" ->
      s"""WITH RECURSIVE ${OracleSql.minhashPairsCte()},
         |${OracleSql.componentsCte}
         |SELECT component AS keep_id, COUNT(*) AS n_members
         |FROM comp GROUP BY component""".stripMargin,

    "dedup_graph_degree" ->
      s"""WITH ${OracleSql.minhashPairsCte()},
         |ends AS (SELECT id1 AS id FROM pairs UNION ALL SELECT id2 FROM pairs),
         |deg AS (SELECT id, COUNT(*) AS degree FROM ends
         |        WHERE id IN (SELECT doc_id FROM documents) GROUP BY id),
         |hist AS (SELECT degree, COUNT(*) AS n_docs FROM deg GROUP BY degree),
         |zero AS (SELECT CAST(0 AS BIGINT) AS degree,
         |         (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM deg) AS n_docs)
         |SELECT degree, n_docs FROM hist
         |UNION ALL SELECT degree, n_docs FROM zero WHERE n_docs > 0""".stripMargin,

    // reference (row-amplifying) formulation of the same as-of semantics;
    // the engine's union-merge plan must agree row-for-row
    "asof_join" ->
      """WITH j AS (
        |  SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |         o.o_orderkey, o.o_totalprice,
        |         epoch_us(o.o_orderdate) AS o_orderdate_us,
        |         row_number() OVER (PARTITION BY e.event_id
        |           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
        |SELECT event_id, user_id, ts_us, o_orderkey, o_totalprice, o_orderdate_us
        |FROM j WHERE rn = 1""".stripMargin,

    // the tolerance re-ranks over the SAME candidates then drops
    // out-of-bound winners (not "rank among in-bound") — matching the
    // operator's null-out-after-window semantics and pandas merge_asof
    "asof_join_tolerance" ->
      """WITH j AS (
        |  SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |         o.o_orderkey, o.o_totalprice,
        |         epoch_us(o.o_orderdate) AS o_orderdate_us,
        |         row_number() OVER (PARTITION BY e.event_id
        |           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
        |SELECT event_id, user_id, ts_us, o_orderkey, o_totalprice, o_orderdate_us
        |FROM j WHERE rn = 1 AND ts_us - o_orderdate_us <= 750000000000000""".stripMargin,

    "asof_join_forward" ->
      """WITH j AS (
        |  SELECT o.o_orderkey, o.o_custkey,
        |         epoch_us(o.o_orderdate) AS o_orderdate_us,
        |         e.event_id, epoch_us(e.ts) AS event_ts_us,
        |         row_number() OVER (PARTITION BY o.o_orderkey
        |           ORDER BY e.ts ASC, e.event_id DESC) AS rn
        |  FROM orders o JOIN events e
        |    ON o.o_custkey = e.user_id AND e.ts >= o.o_orderdate)
        |SELECT o_orderkey, o_custkey, o_orderdate_us, event_id, event_ts_us
        |FROM j WHERE rn = 1""".stripMargin,

    "asof_join_nearest" ->
      """WITH p AS (SELECT user_id AS p_user, ts AS p_ts, event_id AS p_event_id
        |           FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |         p.p_event_id, epoch_us(p.p_ts) AS p_ts_us,
        |         row_number() OVER (PARTITION BY e.event_id ORDER BY
        |           abs(epoch_us(p.p_ts) - epoch_us(e.ts)) ASC,
        |           CASE WHEN p.p_ts <= e.ts THEN 0 ELSE 1 END ASC,
        |           p.p_event_id DESC) AS rn
        |  FROM events e JOIN p ON e.user_id = p.p_user)
        |SELECT event_id, user_id, ts_us, p_event_id, p_ts_us
        |FROM j WHERE rn = 1""".stripMargin,

    "sample_stratified" -> {
      val h = OracleSql.ph("CAST(doc_id AS VARCHAR)")
      s"""WITH h AS (SELECT lang, doc_id, $h AS hh FROM documents),
         |r AS (SELECT lang, doc_id,
         |      CAST(row_number() OVER (PARTITION BY lang
         |        ORDER BY hh ASC, doc_id ASC) AS INT) AS pick_rank
         |      FROM h)
         |SELECT lang, pick_rank, doc_id FROM r WHERE pick_rank <= 20""".stripMargin
    },

    "corpus_quantiles" ->
      s"""WITH n AS (SELECT lang, CAST(len(${OracleSql.tokens("text")}) AS BIGINT) AS nt
         |           FROM documents)
         |SELECT lang, COUNT(*) AS n_docs,
         |  round(quantile_cont(nt, 0.25), 6) AS p25,
         |  round(quantile_cont(nt, 0.5), 6) AS p50,
         |  round(quantile_cont(nt, 0.75), 6) AS p75,
         |  round(quantile_cont(nt, 0.95), 6) AS p95
         |FROM n GROUP BY lang""".stripMargin,

    "text_repetition" -> {
      val bigrams = {
        // shingles() reads the token list column `tk`
        OracleSql.shingles(2)
      }
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |wc AS (SELECT doc_id, t, COUNT(*) AS c
         |       FROM (SELECT doc_id, unnest(tk) AS t FROM toks) GROUP BY 1, 2),
         |w AS (SELECT doc_id, SUM(c) AS n_words, MAX(c) AS topw FROM wc GROUP BY doc_id),
         |bc AS (SELECT doc_id, t, COUNT(*) AS c
         |       FROM (SELECT doc_id, unnest($bigrams) AS t FROM toks) GROUP BY 1, 2),
         |b AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS topb,
         |      SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupb FROM bc GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(w.n_words, 0) AS BIGINT) AS n_words,
         |  round(CAST(coalesce(w.topw, 0) AS DOUBLE)
         |        / greatest(coalesce(w.n_words, 0), 1), 6) AS top_word_frac,
         |  CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  round(CAST(coalesce(b.topb, 0) AS DOUBLE)
         |        / greatest(coalesce(b.n_bigrams, 0), 1), 6) AS top_bigram_frac,
         |  round(CAST(coalesce(b.dupb, 0) AS DOUBLE)
         |        / greatest(coalesce(b.n_bigrams, 0), 1), 6) AS dup_bigram_frac
         |FROM documents d
         |LEFT JOIN w ON d.doc_id = w.doc_id
         |LEFT JOIN b ON d.doc_id = b.doc_id""".stripMargin
    },

    "text_decontaminate" -> {
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |sh AS (SELECT doc_id, list_distinct(${OracleSql.shingles(5)}) AS sh FROM toks),
         |ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 17 = 0),
         |dg AS (SELECT doc_id, unnest(sh) AS g FROM sh)
         |SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM dg JOIN ev ON dg.g = ev.g
         |GROUP BY dg.doc_id HAVING count(*) >= 1""".stripMargin
    },

    "text_pii" -> {
      // DuckDB single-quoted literals keep backslashes verbatim, so the
      // Scala-side patterns embed unchanged — same regex, both engines.
      val email = TextOps.emailRe
      val ip = TextOps.ipv4Re
      val num = TextOps.numRunRe
      s"""WITH p AS (SELECT doc_id,
         |  text || ' reach user' || CAST(doc_id AS VARCHAR)
         |       || '@mail.example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |       || '.7 acct ' || CAST(10000000 + doc_id * 7 AS VARCHAR) AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '$num')) AS BIGINT) AS n_numbers,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$num', '<NUM>', 'g')
         |    AS redacted
         |FROM p""".stripMargin
    },

    "corpus_filter" -> {
      // COALESCE mirrors the Spark side's null-text fold to zero tokens
      s"""WITH base AS (SELECT doc_id, ${OracleSql.tokens("lower(COALESCE(text, ''))")} AS tk FROM documents),
         |m AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n,
         |      CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(tk, t -> CAST(length(t) AS BIGINT))), (a, x) -> a + x) AS DOUBLE)
         |        / greatest(len(tk), 1) AS avg_len,
         |      CAST(len(list_distinct(tk)) AS DOUBLE) / greatest(len(tk), 1) AS dr,
         |      CAST(len(list_filter(tk, t -> list_contains(${OracleSql.allStopList}, t))) AS DOUBLE)
         |        / greatest(len(tk), 1) AS sr,
         |      len(list_filter(tk, t -> starts_with(t, 'http://') OR starts_with(t, 'https://')
         |        OR starts_with(t, 'www.') OR (contains(t, '@') AND contains(t, '.')))) AS web
         |      FROM base),
         |f AS (SELECT doc_id, n AS n_tokens, n < 25 AS f_short, n > 90 AS f_long,
         |      (avg_len < 4.0 OR avg_len > 5.0) AS f_word_len,
         |      dr < 0.35 AS f_low_distinct, sr < 0.01 AS f_low_stopword,
         |      web > 0 AS f_web FROM m)
         |SELECT doc_id, n_tokens, f_short, f_long, f_word_len, f_low_distinct,
         |       f_low_stopword, f_web,
         |       NOT (f_short OR f_long OR f_word_len OR f_low_distinct
         |            OR f_low_stopword OR f_web) AS keep
         |FROM f""".stripMargin
    },

    "dedup_incremental_near" -> {
      val li = "len(list_intersect(s1, s2))"
      val un = s"len(s1) + len(s2) - $li"
      s"""WITH ${OracleSql.toksCte(lower = false)},
         |sh0 AS (SELECT doc_id, list_distinct(${OracleSql.shingles(3)}) AS sh FROM toks),
         |sigs AS (SELECT doc_id, sh, ${OracleSql.minhash(8)} AS mh FROM sh0),
         |expl AS (SELECT doc_id, CAST(t.b AS INT) AS band_idx, bl[CAST(t.b AS INT)+1] AS bucket
         |         FROM (SELECT doc_id, ${OracleSql.bands(4, 2)} AS bl FROM sigs), range(0,4) t(b)),
         |ckeep AS (SELECT band_idx, bucket FROM expl WHERE doc_id % 10 < 8
         |          GROUP BY 1, 2 HAVING count(*) <= 64),
         |pairs AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
         |          FROM expl a JOIN expl b
         |            ON a.band_idx = b.band_idx AND a.bucket = b.bucket
         |          JOIN ckeep k
         |            ON b.band_idx = k.band_idx AND b.bucket = k.bucket
         |          WHERE a.doc_id % 3 = 0 AND b.doc_id % 10 < 8),
         |j AS (SELECT p.batch_id, p.corpus_id, x.sh AS s1, y.sh AS s2
         |      FROM pairs p JOIN sh0 x ON x.doc_id = p.batch_id
         |                   JOIN sh0 y ON y.doc_id = p.corpus_id)
         |SELECT batch_id, corpus_id, CAST($li AS INT) AS inter, CAST($un AS INT) AS uni,
         |       round(CAST($li AS DOUBLE) / ($un), 6) AS jaccard
         |FROM j WHERE $un > 0 AND CAST($li AS DOUBLE) / ($un) >= 0.0""".stripMargin
    },

    "dedup_incremental" ->
      s"""WITH b AS (SELECT min(doc_id) AS doc_id, sha256(text) AS digest
         |           FROM documents WHERE doc_id % 3 = 0 GROUP BY sha256(text))
         |SELECT doc_id, digest FROM b
         |WHERE NOT EXISTS (SELECT 1 FROM documents c
         |                  WHERE c.doc_id % 10 < 8 AND sha256(c.text) = b.digest)""".stripMargin,

    // the Bloom prescreen is an internal optimization — exact anti-join twin
    "dedup_incremental_bloom" ->
      s"""WITH b AS (SELECT min(doc_id) AS doc_id, sha256(text) AS digest
         |           FROM documents WHERE doc_id % 3 = 0 GROUP BY sha256(text))
         |SELECT doc_id, digest FROM b
         |WHERE NOT EXISTS (SELECT 1 FROM documents c
         |                  WHERE c.doc_id % 10 < 8 AND sha256(c.text) = b.digest)""".stripMargin,

    // reference formulation: plain key + BETWEEN join; the bucketed plan
    // must agree row-for-row
    "range_join" ->
      """WITH p AS (SELECT event_id, event_type, user_id, epoch_us(ts) AS ts_us
        |           FROM events),
        |i AS (SELECT event_id AS purchase_id, user_id AS p_user,
        |             epoch_us(ts) AS start_us, epoch_us(ts) + 7200000000 AS end_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.event_type, p.user_id, p.ts_us,
        |       i.purchase_id, i.start_us
        |FROM p JOIN i ON p.user_id = i.p_user
        |             AND p.ts_us BETWEEN i.start_us AND i.end_us
        |WHERE p.event_id <> i.purchase_id""".stripMargin,

    "corpus_pack" ->
      s"""WITH n AS (SELECT lang, doc_id,
         |           CAST(len(${OracleSql.tokens("text")}) AS BIGINT) AS n_tokens
         |           FROM documents),
         |o AS (SELECT lang, doc_id, n_tokens,
         |      CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |        ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_off
         |      FROM n)
         |SELECT lang, doc_id, n_tokens, start_off,
         |       CAST(start_off // 2048 AS BIGINT) AS chunk_id
         |FROM o""".stripMargin,

    // the NAIVE global-window cumsum — deliberately different machinery
    // from the Spark side's bucketed prefix sum, so the oracle checks the
    // distributed decomposition, not a mirror of it
    "corpus_budget_select" ->
      """WITH s AS (SELECT doc_id,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |                  CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS score
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens, score,
        |             CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
        |                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |      FROM s)
        |SELECT doc_id, n_tokens, round(score, 6) AS score, cum_tokens
        |FROM c WHERE cum_tokens <= 6000""".stripMargin,

    // 16-bit Morton interleave of (clamped chars, clamped tokens);
    // zbucket = top log2(16) bits of the 32-bit key
    "corpus_zorder" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         least(n_chars, 65535) AS zx,
         |         least(CAST(len(${OracleSql.tokens("text")}) AS BIGINT), 65535) AS zy
         |  FROM documents),
         |z AS (SELECT doc_id, zx, zy,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(0, 16), b ->
         |      (((zx >> b) & 1) << (2*b)) | (((zy >> b) & 1) << (2*b+1)))),
         |    (a, v) -> a | v) AS zvalue
         |  FROM d)
         |SELECT doc_id, zx, zy, zvalue,
         |       CAST(zvalue >> 28 AS INT) AS zbucket
         |FROM z""".stripMargin,

    "multimodal_meta" -> {
      val h = OracleSql.ph("text")
      s"""SELECT doc_id,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         |  'fake/v1' AS format,
         |  CAST($h % 1024 AS INT) AS width,
         |  CAST(($h // 1024) % 1024 AS INT) AS height,
         |  CAST(octet_length(encode(text)) // 256 + 1 AS INT) AS n_frames
         |FROM documents""".stripMargin
    },

    "multimodal_meta_codec" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 54 + (doc_id % 64) * 3
        |       ELSE 44 + (((doc_id // 2) % 2) + 1) * 2 * ((doc_id % 50) + 1)
        |       END AS BIGINT) AS byte_len,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS format,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 800 + 1
        |       ELSE 8000 + (doc_id % 8) * 1000 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 600 + 1
        |       ELSE (((doc_id // 2) % 2) + 1) * 16 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE doc_id % 50 + 1 END AS INT) AS n_frames
        |FROM documents""".stripMargin,

    "multimodal_frames" ->
      """SELECT d.doc_id, CAST(f.i AS INT) AS frame_idx,
        |       substring(d.text, CAST(f.i * 256 + 1 AS INT), 256) AS frame_text
        |FROM documents d,
        |     LATERAL unnest(range(0, greatest(octet_length(encode(d.text)) // 256, 1))) AS f(i)""".stripMargin,

    // area-average twin: rounded integer mean of each 4-byte window's
    // ASCII codes (fixture text is pure ASCII: byte == codepoint)
    "multimodal_resize" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS orig_len,
        |  array_to_string(list_transform(
        |    range(0, (octet_length(encode(text)) + 3) // 4),
        |    j -> chr(CAST((list_sum(list_transform(
        |           range(CAST(j * 4 AS INT),
        |                 CAST(least(j * 4 + 4, octet_length(encode(text))) AS INT)),
        |           i -> ascii(substr(text, i + 1, 1))))
        |           + (least(j * 4 + 4, octet_length(encode(text))) - j * 4) // 2)
        |          // (least(j * 4 + 4, octet_length(encode(text))) - j * 4) AS INT))),
        |    '') AS resized_text,
        |  CAST((octet_length(encode(text)) + 3) // 4 AS BIGINT) AS resized_len
        |FROM documents""".stripMargin,

    // strided byte fold per dim: (a*31 + byte) % 997 over positions
    // i ≡ d (mod 16), then v/997 - 0.5 rounded through REAL exactly as
    // the stub encoder's float arithmetic (ASCII fixture: char = byte)
    "multimodal_features" -> {
      val fold =
        """list_reduce(list_prepend(CAST(0 AS BIGINT),
          |  list_transform(
          |    list_filter(range(0, octet_length(encode(text))), i -> i % 16 = t.d),
          |    i -> CAST(ascii(substr(text, CAST(i AS INT) + 1, 1)) AS BIGINT))),
          |  (a, c) -> (a * 31 + c) % 997)""".stripMargin
      s"""SELECT doc_id AS vec_id, CAST(t.d AS INT) AS dim,
         |  CAST(CAST($fold AS REAL) / CAST(997 AS REAL)
         |       - CAST(0.5 AS REAL) AS DOUBLE) AS fv
         |FROM documents, range(0, 16) t(d)""".stripMargin
    },

    // stride grid via range(0, len, 30) — exclusive stop, so starts are
    // exactly the Spark side's sequence-then-filter; slice clamps at the
    // list end for the short tail chunk
    "corpus_chunk" -> {
      val sl = "tk[CAST(st AS INT)+1 : CAST(st AS INT)+40]"
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |st AS (SELECT doc_id, tk, unnest(range(0, len(tk), 30)) AS st FROM toks)
         |SELECT doc_id, CAST(st // 30 AS INT) AS chunk_idx,
         |       CAST(len($sl) AS BIGINT) AS n_tokens,
         |       array_to_string($sl, ' ') AS chunk_text
         |FROM st""".stripMargin
    },

    // identical arithmetic order to TextOps.bm25 (left-to-right term sum,
    // parenthesized mul/div) — the only rounding is the final 6-dp gate
    "text_bm25" -> {
      val terms = Seq("customer", "vector", "slow")
      val k1 = 1.2; val b = 0.75
      val tfs = terms.zipWithIndex.map { case (tm, i) =>
        s"CAST(len(list_filter(tk, t -> t = '$tm')) AS BIGINT) AS tf$i"
      }.mkString(",\n  ")
      val dfs = terms.indices.map(i =>
        s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
        .mkString(",\n  ")
      val avgdl = "(CAST(toktot AS DOUBLE) / CAST(n AS DOUBLE))"
      val score = terms.indices.map { i =>
        val idf = s"ln(1.0 + ((CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE)) + 0.5)" +
          s" / (CAST(df$i AS DOUBLE) + 0.5))"
        s"""(CASE WHEN tf$i > 0 THEN (($idf * CAST(tf$i AS DOUBLE)) * ${k1 + 1.0})
           |  / (CAST(tf$i AS DOUBLE) + $k1 * (${1.0 - b}
           |     + ($b * CAST(dl AS DOUBLE)) / $avgdl)) ELSE 0.0 END)""".stripMargin
      }.reduce((a, b2) => s"($a + $b2)")
      val hits = terms.indices.map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)")
        .reduce((a, b2) => s"($a + $b2)")
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
         |  $tfs FROM toks),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(dl) AS BIGINT) AS toktot,
         |  $dfs FROM base)
         |SELECT doc_id, CAST($hits AS BIGINT) AS n_hits, round($score, 6) AS bm25
         |FROM base CROSS JOIN st
         |WHERE ${terms.indices.map(i => s"tf$i > 0").mkString(" OR ")}""".stripMargin
    },

    // the Spark side is exact (count-min prescreen has no false
    // negatives, survivors are exactly counted) — the oracle is the
    // plain exact formulation
    "sketch_heavy_hitters" ->
      s"""WITH ${OracleSql.toksCte(lower = true)},
         |ti AS (SELECT unnest(tk) AS tok FROM toks)
         |SELECT tok, CAST(count(*) AS BIGINT) AS n
         |FROM ti GROUP BY tok HAVING count(*) >= 900""".stripMargin,

    "session_attribution" ->
      """WITH w AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ft,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |  FROM events)
        |SELECT ft AS first_touch, coalesce(lt, 'direct') AS last_touch,
        |       CAST(count(*) AS BIGINT) AS n_conversions,
        |       CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS revenue
        |FROM w WHERE event_type = 'purchase' GROUP BY 1, 2""".stripMargin,

    "graph_pagerank" ->
      s"""WITH ${OracleSql.minhashPairsCte()},
         |${OracleSql.pageRankUnrolled(5, 1000000L)}
         |SELECT id AS doc_id, r AS rank_units FROM r5""".stripMargin
  )
}
