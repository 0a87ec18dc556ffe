package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Shared.{t, dec2, tsUs}

/** Core analytics: TPC-H-shaped relational queries as declarative plans
  * (Catalyst does pushdown, partial aggregation and broadcast-join
  * selection). Money sums run on an exact integer grid ([[e2]]/[[sumE]])
  * while the oracle keeps the DECIMAL form, so the DuckDB hash gate checks
  * the equivalence. */
object Q {

  /** Exact integer money grid (r16, guide §2.3 "narrower types"): a 2 dp
    * money column as LONG hundredths — the same HALF_UP 2 dp rounding as
    * [[Shared.dec2]] (so the value set is identical), but downstream arithmetic
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

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing_summary", (s, dir) => {
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
    },
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    QuerySpec("q2_part_supplier", (s, dir) => {
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
    },
      """SELECT p_brand, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items,
        | MAX(p_retailprice) AS max_retail
        |FROM lineitem
        | JOIN part ON p_partkey = l_partkey
        | JOIN supplier ON s_suppkey = l_suppkey
        | JOIN nation ON n_nationkey = s_nationkey
        |GROUP BY p_brand, n_name""".stripMargin),

    QuerySpec("q3_top_orders", (s, dir) => {
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
    },
      """SELECT o_orderkey,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin),

    QuerySpec("q5_region_revenue", (s, dir) => {
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
    },
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM region
        | JOIN nation ON n_regionkey = r_regionkey
        | JOIN customer ON c_nationkey = n_nationkey
        | JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY r_name, n_name""".stripMargin),

    QuerySpec("q4_exists_orders", (s, dir) => {
      // EXISTS → left-semi join; counts per priority
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      o.join(li, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    },
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin),

    QuerySpec("q7_window_running", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice"))).over(w).cast("double").as("running_total"))
    },
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders""".stripMargin),

    QuerySpec("q8_rollup_revenue", (s, dir) => {
      t(s, dir, "region")
        .join(t(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
        .join(t(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
        .rollup(col("r_name"), col("n_name"))
        // r16: revenue on the exact integer grid (e2/sumE)
        .agg(sumE(e2(col("o_totalprice")), 100).as("revenue"),
          count(lit(1)).as("n_orders"))
    },
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_orders
        |FROM region
        | JOIN nation ON n_regionkey = r_regionkey
        | JOIN customer ON c_nationkey = n_nationkey
        | JOIN orders ON o_custkey = c_custkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin),

    QuerySpec("q9_distinct_agg", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders")),
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin),

    QuerySpec("q10_except", (s, dir) => {
      val o = t(s, dir, "orders")
      o.select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
    },
      """SELECT o_custkey FROM orders
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin),

    QuerySpec("q11_topk_per_group", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 2)
        .select(col("o_orderpriority"), col("rank").cast("int").as("rank"),
          col("o_orderkey"), col("o_totalprice"))
    },
      """SELECT o_orderpriority, CAST(rnk AS INT) AS rank, o_orderkey, o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_orderpriority
        |               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |      FROM orders)
        |WHERE rnk <= 2""".stripMargin),

    QuerySpec("q12_correlated_avg", (s, dir) => {
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
    },
      """WITH pa AS (SELECT l_partkey AS _pk,
        |        SUM(CAST(l_quantity AS DECIMAL(12,2))) AS _sum_qty,
        |        COUNT(*) AS _cnt
        |      FROM lineitem GROUP BY 1)
        |SELECT COUNT(*) AS n_small,
        |       CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS small_revenue
        |FROM lineitem l JOIN pa ON l.l_partkey = pa._pk
        |WHERE CAST(l.l_quantity AS DECIMAL(12,2)) * 5 * pa._cnt < pa._sum_qty""".stripMargin),

    QuerySpec("q13_disjunctive", (s, dir) => {
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
    },
      """SELECT COUNT(*) AS n_items,
        |       CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |         * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 0) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#4' AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#19' AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin),

    QuerySpec("q14_pivot", (s, dir) => {
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
    }, {
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
    }),

    QuerySpec("q15_cube", (s, dir) =>
      // CUBE grouping sets: all four (status, priority) marginals in one
      // pass — Expand replicates each row per grouping set before ONE
      // partial aggregate, so the shuffle stays a single keyed exchange
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        // r16: revenue on the exact integer grid (e2/sumE)
        .agg(count(lit(1)).as("n_orders"),
          sumE(e2(col("o_totalprice")), 100).as("revenue")),
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),

    QuerySpec("q16_window_funcs", (s, dir) => {
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
    },
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
        |       wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin),

    QuerySpec("q17_intersect", (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
    },
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin),

    QuerySpec("q6_forecast_revenue", (s, dir) =>
      // TPC-H q6 shape: pure scan + pushed filters + ungrouped agg — the
      // no-join baseline every scan optimization shows up in
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp_ntz") &&
          // r16: the 2 dp rounding of e2 and decimal(4,2) is identical HALF_UP,
          // so the integer-grid between is the same predicate set
          e2(col("l_discount")).between(lit(3L), lit(7L)) &&
          col("l_quantity") < 24)
        .agg(coalesce(
          sumE(e2(col("l_extendedprice")) * e2(col("l_discount")), 10000),
          lit(0.0d)).as("revenue"),
          count(lit(1)).as("n_items")),
      """SELECT CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |         * CAST(l_discount AS DECIMAL(4,2))), 0) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND CAST(l_discount AS DECIMAL(4,2))
        |      BETWEEN CAST(0.03 AS DECIMAL(4,2)) AND CAST(0.07 AS DECIMAL(4,2))
        |  AND l_quantity < 24""".stripMargin),

    QuerySpec("q18_large_orders", (s, dir) => {
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
    },
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > CAST(150 AS DECIMAL(12,2)))
        |SELECT c.c_name, o.o_orderkey, epoch_us(o.o_orderdate) AS o_orderdate_us,
        |       o.o_totalprice, CAST(b.qty AS DOUBLE) AS total_qty
        |FROM orders o
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN big b ON b.l_orderkey = o.o_orderkey""".stripMargin),

    QuerySpec("q19_anti_join", (s, dir) =>
      // NOT EXISTS → left-anti: customers with no urgent order (the
      // filter pushes below the anti-join's build side)
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
      """SELECT c_custkey, c_name, c_nationkey
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')""".stripMargin),

    QuerySpec("q20_above_avg", (s, dir) => {
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
    },
      """WITH g AS (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS s,
        |                  COUNT(*) AS n FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n_above,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS above_revenue
        |FROM orders, g
        |WHERE CAST(o_totalprice AS DECIMAL(12,2)) * g.n > g.s
        |GROUP BY o_orderstatus""".stripMargin),

    QuerySpec("q21_waiting_supplier", (s, dir) => {
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
    },
      // the oracle keeps the classic EXISTS / NOT-EXISTS formulation so the
      // Spark-side aggregate reformulation is checked against the textbook
      // semantics, not against itself
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
        |LIMIT 10""".stripMargin),

    QuerySpec("q22_idle_customers", (s, dir) => {
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
    },
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
        |GROUP BY c_nationkey""".stripMargin)
  )
}
