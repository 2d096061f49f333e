package graft.engine.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational extension queries over the TPC-H-ish testdata — the Spark
  * surface the reference lacks (SURVEY.md §2.9): joins (broadcast + shuffle),
  * window functions, top-k. These are the shapes a 100 TB deployment lives
  * on, so each is written the way it should run on a 1000-executor cluster:
  *
  *  - dimension joins are explicit `broadcast()` (no shuffle of the fact
  *    side, no sort) — customer/nation/region are small at any SF;
  *  - fact-fact joins (lineitem ⋈ orders) shuffle on the join key once and
  *    aggregate partially map-side;
  *  - money amounts are quantized to integer cents per row
  *    (floor(x*100 + 0.5), a deterministic IEEE op sequence) and summed as
  *    BIGINT, so results are exact and reproducible regardless of
  *    partitioning / summation order (double sums are order-dependent and
  *    engine decimal-rounding rules differ — integers never do);
  *  - top-k is orderBy+limit, which Spark plans as TakeOrderedAndProject
  *    (per-partition heap + driver merge, no global sort).
  */
object Relational {

  /** Broadcast dimension join: revenue and order count per market segment.
    * customer is the dimension (broadcast), orders the fact.
    */
  def segmentRevenue(spark: SparkSession, dir: String): DataFrame = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("revenue_c"))
      .orderBy(col("c_mktsegment"))
  }

  /** Fact-fact shuffle join (lineitem ⋈ orders on orderkey) + aggregation:
    * discounted revenue per (orderstatus, returnflag). One shuffle for the
    * join, partial aggregation map-side before the groupBy exchange.
    * Per-row discount math stays in double (single IEEE op, deterministic),
    * the SUM is decimal-exact.
    */
  def statusRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"), col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100 + 0.5)
          .cast("long")).as("disc_revenue_c"),
        sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("sum_qty_c"))
      .orderBy(col("o_orderstatus"), col("l_returnflag"))
  }

  /** Window top-N: 3 most expensive parts per brand. Deterministic tiebreak
    * on p_partkey so ranks are stable under any partitioning.
    */
  def topPartsPerBrand(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val part = spark.read.parquet(s"$dir/part.parquet")
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(desc("p_retailprice"), col("p_partkey"))
    part
      .select(col("p_brand"), col("p_partkey"), col("p_name"),
        floor(col("p_retailprice") * 100 + 0.5).cast("long").as("price_c"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= n)
      .orderBy(col("p_brand"), col("rank"))
  }

  /** Top-k rows globally: most expensive line items. Plans as
    * TakeOrderedAndProject — no full sort, no single-partition shuffle.
    */
  def topLineitems(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("price_c"))
      .orderBy(desc("price_c"), col("l_orderkey"), col("l_linenumber"))
      .limit(k)

  /** Hierarchical totals via ROLLUP(status, priority): per-(status,priority)
    * rows, per-status subtotals, and a grand total in ONE pass — Spark
    * expands grouping sets inside a single aggregation instead of 3 scans +
    * union. Rolled-up key levels are surfaced as the 'ALL' sentinel (never a
    * data value here) so row identity doesn't depend on engine-specific
    * NULL-ordering.
    */
  def revenueRollup(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("revenue_c"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("revenue_c"))
      .orderBy(col("status"), col("priority"))

  /** CUBE over (returnflag, linestatus): all 2^2 grouping sets in one
    * aggregation pass — the full cross-classification ROLLUP's hierarchy
    * doesn't cover. Same 'ALL' sentinel convention as [[revenueRollup]].
    */
  def lineitemCube(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_lines"),
        sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("sum_qty_c"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_lines"), col("sum_qty_c"))
      .orderBy(col("returnflag"), col("linestatus"))

  /** Set operations (absent from the reference, free in Spark): customer
    * sets by order status compared via EXCEPT / INTERSECT / UNION —
    * distinct-set semantics, planned as aggregations/joins, one summary
    * row each.
    */
  def statusSetOps(spark: SparkSession, dir: String): DataFrame = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    def custs(status: String) =
      orders.filter(col("o_orderstatus") === status).select(col("o_custkey"))
    val f = custs("F"); val o = custs("O")
    def tagged(tag: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_custkeys")).select(lit(tag).as("op"), col("n_custkeys"))
    tagged("except_f_minus_o", f.except(o))
      .unionByName(tagged("intersect_f_o", f.intersect(o)))
      .unionByName(tagged("union_f_o", f.union(o).distinct()))
      .orderBy(col("op"))
  }

  /** Left-anti join: customers with no finished ('F') order — planned as
    * a broadcast/shuffle anti join, no row materialization of the right
    * side beyond the key set.
    */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderstatus") === "F")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-semi join: customers with at least one open ('O') order —
    * existence check without duplicating customer rows per order.
    */
  def customersWithOpenOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderstatus") === "O")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** TPC-H Q1 shape — the pricing summary report: one scan, map-side
    * partial aggregation into 4 (returnflag, linestatus) groups, eight
    * aggregates per group. Money compounds (discounted price, charge)
    * stay exact: cents × discount-basis × tax-basis integer units, so the
    * sums are bit-stable under any partitioning; the three averages use
    * round(avg, 2) like the reference pipelines.
    */
  def pricingSummary(spark: SparkSession, dir: String,
                     cutoff: String = "1998-09-02"): DataFrame = {
    val priceC = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val discBp = floor(col("l_discount") * 100 + 0.5).cast("long")
    val taxBp = floor(col("l_tax") * 100 + 0.5).cast("long")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") <= lit(cutoff).cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("sum_qty_c"),
        sum(priceC).as("sum_base_price_c"),
        sum(priceC * (lit(100L) - discBp)).as("sum_disc_price_bp"),
        sum(priceC * (lit(100L) - discBp) * (lit(100L) + taxBp))
          .as("sum_charge_mp"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q18 shape — large-volume orders: a HAVING-gated aggregate over
    * the fact drives a semi-selective join back to orders and customer,
    * top-20 by order value. The aggregate runs FIRST (map-side combined),
    * so the join probes only qualifying orderkeys — never the full fact.
    */
  def largeOrders(spark: SparkSession, dir: String,
                  minQtyC: Long = 12000L, k: Int = 20): DataFrame = {
    val big = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_orderkey"))
      .agg(sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("sum_qty_c"))
      .filter(col("sum_qty_c") > minQtyC)
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("total_price_c"))
    val c = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("order_date"), col("total_price_c"), col("sum_qty_c"))
      .orderBy(desc("total_price_c"), col("o_orderkey"))
      .limit(k)
  }

  /** TPC-H Q4 shape — order counts by priority for orders with at least
    * one slow line (shipped > 60 days after the order date), written with
    * the EXISTS subquery form and left to Catalyst to plan as a LEFT SEMI
    * join — the declarative twin of [[customersWithOpenOrders]]'s
    * DataFrame semi join.
    */
  def latePriorities(spark: SparkSession, dir: String): DataFrame =
    // Direct file relations (FROM parquet.`path`), not temp views: a query
    // function must not mutate the session catalog — a fixed view name can
    // clobber the user's and races concurrent queries in one session.
    spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n_orders
         |FROM parquet.`$dir/orders.parquet` o
         |WHERE EXISTS (
         |  SELECT 1 FROM parquet.`$dir/lineitem.parquet` l
         |  WHERE l.l_orderkey = o.o_orderkey
         |    AND l.l_shipdate > o.o_orderdate + INTERVAL '60' DAY)
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** RANGE-frame window: for every order, the same customer's total order
    * value within ±30 DAYS (a value-based frame, not a row count — rows
    * don't qualify by position but by key distance, which no rowsBetween
    * frame can express). One shuffle on the partition key; the frame scan
    * is a per-partition sliding aggregate.
    */
  def nearbyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("o_orderdate"),
      lit("1970-01-01").cast("timestamp_ntz"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-30, 30)
    spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), day.as("day"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_c"))
      .select(col("o_orderkey"), col("o_custkey"), col("day"),
        sum(col("price_c")).over(w).as("nearby_revenue_c"),
        count(lit(1)).over(w).as("n_nearby"))
      .orderBy(col("o_orderkey"))
  }

  /** TPC-H Q17 shape — small-quantity revenue via a CORRELATED scalar
    * subquery, written as the user would write it and left to Catalyst's
    * decorrelation: the per-part average never executes per-row; the
    * optimizer rewrites it into one aggregate + one join (asserted
    * cartesian-free by the PlanSpec sweep). The quantity threshold stays
    * exact: integer cents × 5 vs avg of an exact integer sum — one double
    * division per part, bit-identical in any engine.
    */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame =
    // Direct file relation, not a temp view — see latePriorities.
    spark.sql(
      s"""SELECT count(*) AS n_small_lines,
         |  CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
         |       AS BIGINT) AS revenue_c
         |FROM parquet.`$dir/lineitem.parquet` l
         |WHERE CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT) * 5 <
         |  (SELECT avg(CAST(floor(i.l_quantity * 100 + 0.5) AS BIGINT))
         |   FROM parquet.`$dir/lineitem.parquet` i
         |   WHERE i.l_partkey = l.l_partkey)
         |""".stripMargin)

  /** TPC-H Q3 shape — top-10 unshipped orders by revenue for one market
    * segment: selective dimension filter broadcast into a fact-fact
    * shuffle join, exact integer revenue (price-cents × discount-basis
    * units, so no decimal rounding ambiguity), and a TakeOrdered top-k
    * instead of a global sort. The classic "is the optimizer doing its
    * job" query: both date filters push into the parquet scans, the
    * customer filter prunes before broadcast.
    */
  def unshippedOrders(spark: SparkSession, dir: String,
                      cutoff: String = "1995-03-15"): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp_ntz"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp_ntz"))
      .select(col("l_orderkey"),
        (floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
          (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long")))
          .as("rev"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .agg(sum(col("rev")).as("revenue_bp"))
      .orderBy(desc("revenue_bp"), col("l_orderkey"))
      .limit(10)
  }

  /** SCD-type-2 dimension maintenance as one query: reconcile the current
    * dimension against an incoming snapshot and emit the full history —
    * unchanged rows stay current at version 1, changed attributes close
    * the old row (is_current=false) and open a version-2 row, deletions
    * close without a successor, inserts open at version 1. The MERGE
    * pattern every warehouse runs nightly, expressed engine-agnostically.
    *
    * The incoming snapshot here is a deterministic fixture over the same
    * `customer` table (every 7th key changes segment, every 13th is
    * deleted) so an external oracle can replay it. Scale shape: ONE
    * full-outer shuffle join on the dimension key; the three history
    * branches are projections of that join (plan-level branch reuse),
    * and the union is append-only — no second pass over either side.
    */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").cast("long").as("key"),
        col("c_mktsegment").as("seg"))
    val o = cust.withColumnRenamed("seg", "old_seg")
    val n = cust.filter(col("key") % 13 =!= 0)
      .select(col("key"),
        when(col("key") % 7 === 0, concat(lit("NEW-"), col("seg")))
          .otherwise(col("seg")).as("new_seg"))
    val j = o.join(n, Seq("key"), "full_outer")
    val changed = col("new_seg").isNull || col("new_seg") =!= col("old_seg")
    val closed = j
      .filter(col("old_seg").isNotNull && changed)
      .select(col("key"), col("old_seg").as("seg"),
        lit(1L).as("version"), lit(false).as("is_current"))
    val carried = j
      .filter(col("new_seg") === col("old_seg"))
      .select(col("key"), col("old_seg").as("seg"),
        lit(1L).as("version"), lit(true).as("is_current"))
    val opened = j
      .filter(col("new_seg").isNotNull &&
        (col("old_seg").isNull || col("new_seg") =!= col("old_seg")))
      .select(col("key"), col("new_seg").as("seg"),
        when(col("old_seg").isNotNull, 2L).otherwise(1L).as("version"),
        lit(true).as("is_current"))
    closed.unionAll(carried).unionAll(opened)
      .orderBy(col("key"), col("version"))
  }

  /** TPC-H Q21 shape — the "sole blamable supplier": for finished
    * ('F') orders that MULTIPLE suppliers fed (EXISTS another
    * supplier's line) where exactly ONE supplier shipped late
    * (NOT EXISTS another supplier's late line, late = shipped > 60
    * days after the order date, the [[latePriorities]] convention),
    * count per supplier how many such orders they held up. The one
    * query composing a LEFT SEMI and a LEFT ANTI against the same
    * fact on the same key — the planner shape Q4 (semi only) and
    * [[customersWithoutOrders]] (anti only) each exercise half of.
    *
    * Scale shape: all three lineitem sides shuffle on l_orderkey once
    * each and join semi/anti (no fan-out — semi/anti emit at most the
    * probe row); supplier is a broadcast dimension; the final count is
    * a tiny per-supplier aggregate.
    */
  def soleLateSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val s = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey"), col("s_name"))

    // late lines of 'F' orders, tagged with their order date once
    val late = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL '60' DAY"))
      .select(col("l_orderkey"), col("l_suppkey"))

    val others = l.select(col("l_orderkey").as("x_orderkey"),
      col("l_suppkey").as("x_suppkey"))
    val lateOthers = late.select(col("l_orderkey").as("y_orderkey"),
      col("l_suppkey").as("y_suppkey"))

    late
      // at least one OTHER supplier in the order
      .join(others, col("l_orderkey") === col("x_orderkey") &&
        col("l_suppkey") =!= col("x_suppkey"), "left_semi")
      // ...and no OTHER supplier was late in it
      .join(lateOthers, col("l_orderkey") === col("y_orderkey") &&
        col("l_suppkey") =!= col("y_suppkey"), "left_anti")
      // one blame row per (order, supplier), however many lines were late
      .distinct()
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(100)
  }

  /** TPC-H Q22 shape — "idle rich" customers: above-average balance and
    * no finished ('F') order, counted per nation. (Q22 proper anti-joins
    * against ALL orders; this generator gives every customer at least
    * one order, so the status-restricted anti keeps the identical plan
    * shape non-degenerate.) Exercises the one subquery form Q17
    * (correlated scalar) and Q4 (correlated EXISTS) don't: the
    * UNCORRELATED scalar subquery, which Spark executes once and
    * broadcasts into every row's predicate. The average gate stays
    * integer-exact by cross-multiplication — `bal_c · n > Σ bal_c` over
    * positive balances — instead of comparing against an
    * order-dependent double average.
    *
    * Scale shape: the two scalar subqueries reduce one customer scan to
    * a single row each (no shuffle beyond the final partial-agg
    * all-reduce); the NOT EXISTS plans as a LEFT ANTI join shuffled on
    * custkey; the per-nation aggregate is tiny.
    */
  def idleRichCustomers(spark: SparkSession, dir: String): DataFrame =
    // Direct file relations, not temp views — see latePriorities.
    spark.sql(
      s"""WITH c AS (
         |  SELECT c_custkey, c_nationkey,
         |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
         |  FROM parquet.`$dir/customer.parquet`
         |)
         |SELECT c_nationkey, count(*) AS n_custs, sum(bal_c) AS total_bal_c
         |FROM c
         |WHERE bal_c * (SELECT count(*) FROM c WHERE bal_c > 0)
         |        > (SELECT sum(bal_c) FROM c WHERE bal_c > 0)
         |  AND NOT EXISTS (
         |    SELECT 1 FROM parquet.`$dir/orders.parquet` o
         |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)

  /** TPC-H Q15 shape — the top supplier(s) by quarterly discounted
    * revenue: a per-supplier aggregate whose MAXIMUM selects the output
    * rows. The max-selection is a 1-row aggregate broadcast back as an
    * equi-join gate — no global sort, no window over the whole
    * aggregate, and ties all surface (which a `limit 1` would drop).
    * Revenue stays exact: cents × discount-basis integer units.
    *
    * Scale shape: one fact scan with the date filter pushed to parquet,
    * one shuffle for the supplier aggregate; the max side reduces to a
    * single row (partial max map-side, all-reduce), so the gate join
    * broadcasts 8 bytes; the supplier dimension joins broadcast.
    */
  def topSupplier(spark: SparkSession, dir: String,
                  qStart: String = "1995-01-01",
                  qEnd: String = "1995-04-01"): DataFrame = {
    val rev = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") >= lit(qStart).cast("timestamp_ntz") &&
        col("l_shipdate") < lit(qEnd).cast("timestamp_ntz"))
      .groupBy(col("l_suppkey"))
      .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
        (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long")))
        .as("total_rev_bp"))
    val mx = rev.agg(max(col("total_rev_bp")).as("max_rev_bp"))
    val s = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey"), col("s_name"))
    rev.join(broadcast(mx), col("total_rev_bp") === col("max_rev_bp"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_bp"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q20 shape — dominant-share suppliers: suppliers who shipped
    * more than 20% of a part's total 1995 quantity, with how many parts
    * they dominate. Q20's nested agg-threshold semi-join restated as an
    * aggregate-on-aggregate: the per-(part, supplier) rollup feeds a
    * per-part total via a WINDOW over the aggregate (same key prefix —
    * no self-join back on partkey), the share gate is exact integer
    * cross-multiplication (qty·5 > total), and only then does the tiny
    * qualifying set meet the broadcast supplier dimension.
    *
    * Scale shape: one fact scan (year filter pushed down), one shuffle
    * keyed (partkey, suppkey) with map-side partial sums, one
    * repartition to partkey for the window (aggregate-sized input, not
    * fact-sized), and a final tiny per-supplier aggregate.
    */
  def dominantSuppliers(spark: SparkSession, dir: String,
                        yStart: String = "1995-01-01",
                        yEnd: String = "1996-01-01"): DataFrame = {
    val ps = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") >= lit(yStart).cast("timestamp_ntz") &&
        col("l_shipdate") < lit(yEnd).cast("timestamp_ntz"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("supp_qty_c"))
    val w = Window.partitionBy(col("l_partkey"))
    val s = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey"), col("s_name"))
    ps
      .withColumn("part_qty_c", sum(col("supp_qty_c")).over(w))
      .filter(col("supp_qty_c") * 5 > col("part_qty_c"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_dominant_parts"),
        sum(col("supp_qty_c")).as("dominant_qty_c"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_dominant_parts"),
        col("dominant_qty_c"))
      .orderBy(desc("n_dominant_parts"), col("s_suppkey"))
  }

  /** Multi-way broadcast join through the dimension chain
    * supplier → nation → region, counting suppliers per region.
    */
  def suppliersPerRegion(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.read.parquet(s"$dir/supplier.parquet")
    val n = spark.read.parquet(s"$dir/nation.parquet")
    val r = spark.read.parquet(s"$dir/region.parquet")
    s.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(floor(col("s_acctbal") * 100 + 0.5).cast("long")).as("sum_acctbal_c"))
      .orderBy(col("r_name"))
  }

  private def centsC(c: org.apache.spark.sql.Column) =
    floor(c * 100 + 0.5).cast("long")

  /** TPC-H Q5 shape — local-supplier revenue per nation: the six-table
    * join (customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region)
    * whose distinguishing constraint is the DUAL-ROLE nation equality —
    * the supplier must sit in the customer's own nation, so the supplier
    * join carries a second, non-hierarchical condition.
    *
    * Scale shape: orders (year filter pushed down) shuffle-joins customer
    * on custkey — both are entity-grain tables that outgrow broadcast at
    * large SF — then the result shuffle-joins the fact once on orderkey.
    * supplier/nation/region stay broadcast; the nation-equality rides the
    * supplier broadcast join as a second conjunct, never a separate join.
    */
  def localRevenue(spark: SparkSession, dir: String,
                   yStart: String = "1996-01-01",
                   yEnd: String = "1997-01-01",
                   region: String = "ASIA"): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderdate") >= lit(yStart).cast("timestamp_ntz") &&
        col("o_orderdate") < lit(yEnd).cast("timestamp_ntz"))
      .select(col("o_orderkey"), col("o_custkey"))
    val c = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"))
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"),
        (centsC(col("l_extendedprice")) *
          (lit(100L) - centsC(col("l_discount")))).as("rev_bp"))
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey"), col("s_nationkey"))
    val n = spark.read.parquet(s"$dir/nation.parquet")
    val r = spark.read.parquet(s"$dir/region.parquet")
      .filter(col("r_name") === region)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_bp")).as("revenue_bp"),
        count(lit(1)).as("n_lines"))
      .orderBy(desc("revenue_bp"), col("n_name"))
  }

  /** TPC-H Q2 shape — min-cost supplier per part: for every STANDARD
    * part, the EUROPE supplier(s) whose cheapest observed line price hits
    * the part's minimum (the schema has no partsupp, so the offer
    * relation is distilled from lineitem: min extended price per
    * (part, supplier)). Q2's correlated min-subquery is decorrelated as a
    * window MIN over the SAME partition key the aggregate just produced —
    * no self-join back on partkey, no subquery re-scan.
    *
    * Scale shape: the region gate broadcasts into the supplier dimension
    * BEFORE the offer aggregate, so the fact shuffle (partkey, suppkey)
    * only carries qualifying suppliers' rows; the window re-shuffles
    * aggregate-grain rows on the partkey prefix; part is a broadcast gate.
    */
  def minCostSuppliers(spark: SparkSession, dir: String,
                       partType: String = "STANDARD",
                       region: String = "EUROPE",
                       k: Int = 100): DataFrame = {
    val n = spark.read.parquet(s"$dir/nation.parquet")
    val r = spark.read.parquet(s"$dir/region.parquet")
      .filter(col("r_name") === region)
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        centsC(col("s_acctbal")).as("acctbal_c"))
    val p = spark.read.parquet(s"$dir/part.parquet")
      .filter(col("p_type") === partType)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val offers = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey"),
        centsC(col("l_extendedprice")).as("price_c"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("p_brand"), col("p_size"),
        col("s_suppkey"), col("s_name"), col("n_name"), col("acctbal_c"))
      .agg(min(col("price_c")).as("min_offer_c"))
    offers
      .withColumn("part_min_c",
        min(col("min_offer_c")).over(Window.partitionBy(col("p_partkey"))))
      .filter(col("min_offer_c") === col("part_min_c"))
      .select(col("acctbal_c"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"), col("p_size"), col("min_offer_c"))
      .orderBy(desc("acctbal_c"), col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(k)
  }

  /** TPC-H Q13 shape — the customer order-count distribution: every
    * customer (including the order-less — the outer side matters), their
    * count of non-LOW-priority orders, then the histogram of those
    * counts. Q13's LEFT OUTER JOIN with an ON-clause filter is restated
    * aggregate-first: orders pre-aggregate to customer grain (map-side
    * combined), and the outer join then matches entity-grain rows — the
    * join input shrinks from O(orders) to O(customers) and the null/zero
    * routing (coalesce) reproduces the unmatched-outer semantics exactly.
    *
    * Scale shape: one fact scan + shuffle to custkey grain, one
    * entity-grain shuffle join, and a |distinct counts|-row histogram.
    */
  def orderCountHistogram(spark: SparkSession, dir: String): DataFrame = {
    val perCust = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderpriority") =!= "5-LOW")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
    spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** TPC-H Q14 shape — promotion revenue share: one month of the fact
    * against the part dimension, a conditional aggregate split by part
    * type, and an exact integer ppm ratio (promo·1e6 div total) instead
    * of Q14's floating 100·sum/sum.
    *
    * Scale shape: the month filter prunes the fact scan; the part side
    * pre-projects to (key, is_promo) — 9 bytes a row — and joins without
    * a hint so AQE picks broadcast where it fits and shuffle where it
    * doesn't; the aggregate is a single all-reduce row.
    */
  def promoShare(spark: SparkSession, dir: String,
                 mStart: String = "1996-03-01",
                 mEnd: String = "1996-04-01"): DataFrame = {
    val p = spark.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") >= lit(mStart).cast("timestamp_ntz") &&
        col("l_shipdate") < lit(mEnd).cast("timestamp_ntz"))
      .select(col("l_partkey"),
        (centsC(col("l_extendedprice")) *
          (lit(100L) - centsC(col("l_discount")))).as("rev_bp"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("is_promo"), col("rev_bp")).otherwise(0L))
          .as("promo_rev_bp"),
        sum(col("rev_bp")).as("total_rev_bp"))
      // ppm through DECIMAL(38,0): a one-month revenue sum in basis
      // points reaches ~3.5e14 at sf10 (60M-row fact), so the former
      // BIGINT `promo_rev_bp * 1e6` needs ~3.5e20 — past 2^63; ANSI
      // multiplyExact threw exactly there (found by the r13 sf10 sweep,
      // the first ext-family decade point). 128-bit only on this final
      // one-row projection; identical floor-division values at every
      // scale (oracle mirrors via HUGEINT). Same fix in marketShare —
      // the only other REVENUE-sum ppm; the count-based ppm sites
      // (violation_ppm, top_share_ppm, df/overlap ratios) are safe to
      // ~9e12-row tables because their numerators are row counts, not
      // cent·bp products.
      .select(col("promo_rev_bp"), col("total_rev_bp"),
        expr("cast(cast(promo_rev_bp as decimal(38,0)) * 1000000" +
          " div total_rev_bp as bigint)").as("promo_ppm"))
  }

  /** TPC-H Q19 shape — disjunctive-predicate revenue: the join whose
    * residual condition is an OR of three (brand, size-range, qty-range)
    * conjunction groups. The plan property under test: Catalyst's CNF
    * conversion must push the part-only disjunction (brand ∈ {…} AND
    * size ≤ 15) into the part scan and the quantity envelope into the
    * fact scan, so the join touches candidate rows only — a naive plan
    * joins everything and filters after.
    *
    * Scale shape: both scans pruned by the extracted common predicates;
    * the filtered part side is tiny and broadcasts; one conditional
    * aggregate row out.
    */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = spark.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey"), col("l_quantity"),
        (centsC(col("l_extendedprice")) *
          (lit(100L) - centsC(col("l_discount")))).as("rev_bp"))
    val clause =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    l.join(p, col("l_partkey") === col("p_partkey") && clause)
      .agg(sum(col("rev_bp")).as("revenue_bp"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q7 shape — volume shipping between a nation PAIR: revenue by
    * (supplier nation, customer nation, ship year) for the two flow
    * directions of one bilateral pair. The distinguishing predicate is
    * the disjunction ACROSS two dimension roles — (n1=A ∧ n2=B) ∨
    * (n1=B ∧ n2=A) — whose single-column residues (n1 ∈ {A,B},
    * n2 ∈ {A,B}) must reach each nation dimension independently via CNF
    * extraction, with the cross-role exclusion evaluated after both
    * dimensions resolve.
    *
    * Scale shape: the fact shuffle-joins orders then customer once each;
    * supplier and both nation roles broadcast; the pair gate prunes the
    * broadcast sides to 2 rows each before the fact ever joins them.
    */
  def volumeShipping(spark: SparkSession, dir: String,
                     nA: String = "NATION_3",
                     nB: String = "NATION_8"): DataFrame = {
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        (centsC(col("l_extendedprice")) *
          (lit(100L) - centsC(col("l_discount")))).as("rev_bp"))
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val c = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"))
    val s = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey"), col("s_nationkey"))
    val n = spark.read.parquet(s"$dir/nation.parquet")
    val n1 = n.select(col("n_nationkey").as("n1_key"),
      col("n_name").as("supp_nation"))
    val n2 = n.select(col("n_nationkey").as("n2_key"),
      col("n_name").as("cust_nation"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .filter(
        (col("supp_nation") === nA && col("cust_nation") === nB) ||
        (col("supp_nation") === nB && col("cust_nation") === nA))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("rev_bp")).as("revenue_bp"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q16 shape — supplier variety per part class: how many
    * DISTINCT suppliers ship each surviving (brand, type, size) class,
    * excluding a denylisted supplier set (negative account balance — the
    * schema's analog of Q16's complaints filter). The two shapes under
    * test: a DISTINCT aggregate over a join product, and a broadcast
    * LEFT ANTI exclusion (never NOT IN's null-trap semantics).
    *
    * Scale shape: part prunes broadcast-side first (its three predicates
    * push to the scan), the denylist anti-join broadcasts a handful of
    * keys, and the distinct-count runs as the standard two-phase
    * aggregate — partial distinct on (class, suppkey), then count.
    */
  def supplierVariety(spark: SparkSession, dir: String,
                      sizes: Seq[Int] = Seq(3, 9, 14, 19, 23, 36, 45, 49))
      : DataFrame = {
    val denied = spark.read.parquet(s"$dir/supplier.parquet")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val p = spark.read.parquet(s"$dir/part.parquet")
      .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(denied), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q9 shape — product-line profit by supplier nation and order
    * year: the five-way join whose part filter is a substring LIKE (the
    * '%green%' pattern of the original, adapted to this schema's part
    * vocabulary). The amount is discounted revenue — the schema carries
    * no partsupp cost side.
    *
    * Scale shape: the LIKE prunes part BEFORE broadcast; supplier and
    * nation broadcast; the only fact-sized shuffle is lineitem ⋈ orders
    * on orderkey (orders pre-projected to key + year).
    */
  def productProfit(spark: SparkSession, dir: String,
                    namePat: String = "%gear%"): DataFrame = {
    val p = spark.read.parquet(s"$dir/part.parquet")
      .filter(col("p_name").like(namePat)).select(col("p_partkey"))
    val s = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey"), col("s_nationkey"))
    val n = spark.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey"), col("n_name"))
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (centsC(col("l_extendedprice")) *
          (lit(100L) - centsC(col("l_discount")))).as("rev_bp"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(sum(col("rev_bp")).as("revenue_bp"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("n_name"), desc("o_year"))
  }

  /** TPC-H Q8 shape — market share: within one region's customers and
    * one product line, the share of revenue supplied by ONE nation per
    * order year — a conditional-ratio aggregate PER GROUP (contrast
    * [[promoShare]]'s single global ratio), exact integer ppm.
    *
    * Scale shape: part (LIKE-pruned) and the supplier/nation/region
    * dimension chain broadcast; lineitem ⋈ orders and ⋈ customer are the
    * two fact-sized shuffles; the per-year ratio is a map-side-combined
    * conditional aggregate over |years| groups.
    */
  def marketShare(spark: SparkSession, dir: String,
                  supplierNation: String = "NATION_3",
                  custRegion: String = "ASIA",
                  namePat: String = "%gear%"): DataFrame = {
    val p = spark.read.parquet(s"$dir/part.parquet")
      .filter(col("p_name").like(namePat)).select(col("p_partkey"))
    val nDim = spark.read.parquet(s"$dir/nation.parquet")
    val r = spark.read.parquet(s"$dir/region.parquet")
      .filter(col("r_name") === custRegion)
    val custIn = spark.read.parquet(s"$dir/customer.parquet")
      .join(broadcast(nDim), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
      .join(broadcast(nDim.select(col("n_nationkey"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (centsC(col("l_extendedprice")) *
          (lit(100L) - centsC(col("l_discount")))).as("rev_bp"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(custIn, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("supp_nation") === supplierNation, col("rev_bp"))
          .otherwise(0L)).as("nation_rev_bp"),
        sum(col("rev_bp")).as("total_rev_bp"))
      .select(col("o_year"), col("nation_rev_bp"), col("total_rev_bp"),
        // DECIMAL(38,0) ppm — same overflow class as promoShare (a
        // per-year revenue-bp sum × 1e6 clears 2^63 between sf10 and
        // sf100); values identical, see the q14 note
        expr("cast(cast(nation_rev_bp as decimal(38,0)) * 1000000" +
          " div total_rev_bp as bigint)").as("share_ppm"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q11 shape — important parts: each part's lineitem value from
    * one nation's suppliers, kept only when it exceeds `factor` × the
    * nation's MEAN part value — the HAVING-against-a-global-scalar form
    * (contrast [[smallQtyRevenue]]'s per-group correlated scalar). The
    * scalar rides a broadcast 1-row cross join: the relational spelling
    * of the scalar-subquery plan. Q11's fixed fraction (0.0001/SF) is
    * restated mean-relative so the gate's selectivity is scale-stable —
    * a fixed ppm threshold selects everything at small SF and nothing at
    * large SF as the part population grows.
    *
    * Scale shape: the nation gate broadcasts into supplier, the fact
    * shuffles once to part grain with map-side partials, the global
    * (count, sum) all-reduces to one row and broadcasts back; the gate
    * is exact integer cross-multiplication (value·n_parts > f·total).
    */
  def importantParts(spark: SparkSession, dir: String,
                     nation: String = "NATION_3",
                     factor: Long = 2L): DataFrame = {
    val n = spark.read.parquet(s"$dir/nation.parquet")
      .filter(col("n_name") === nation)
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey"),
        centsC(col("l_extendedprice")).as("price_c"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("price_c")).as("value_c"))
    val total = perPart.agg(count(lit(1)).as("n_parts"),
      sum(col("value_c")).as("total_c"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value_c") * col("n_parts") > col("total_c") * factor)
      .select(col("l_partkey").as("p_partkey"), col("value_c"))
      .orderBy(desc("value_c"), col("p_partkey"))
  }

  /** TPC-H Q6 shape — the forecasting-revenue-change query: a single
    * fact scan with three range predicates and one aggregate row, no
    * join at all. The whole query is a pushdown test: the year bounds
    * the shipdate, the discount band is compared in integer CENTS
    * (0.05..0.07 → 5..7, exact — a double BETWEEN risks boundary-ULP
    * disagreement between engines), and the amount is extendedprice ×
    * discount in cents·cents basis points.
    *
    * Scale shape: all three predicates reach the parquet scan
    * (PushedFilters on l_shipdate/l_quantity; the cents band folds to a
    * double range), zero shuffles besides the final 1-row all-reduce.
    */
  def forecastRevenue(spark: SparkSession, dir: String,
                      yStart: String = "1996-01-01",
                      yEnd: String = "1997-01-01",
                      centLo: Long = 5L, centHi: Long = 7L,
                      qtyMax: Double = 24.0): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") >= lit(yStart).cast("timestamp_ntz") &&
        col("l_shipdate") < lit(yEnd).cast("timestamp_ntz") &&
        col("l_quantity") < qtyMax)
      .select(centsC(col("l_discount")).as("disc_c"),
        centsC(col("l_extendedprice")).as("price_c"))
      .filter(col("disc_c").between(centLo, centHi))
      .agg(sum(col("price_c") * col("disc_c")).as("revenue_bp"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q10 shape — returned-item reporting: customers who returned
    * goods in one quarter, ranked by the revenue they cost. The fact is
    * filtered on BOTH sides of the join (returnflag on lineitem,
    * order-date window on orders) before the shuffle, then grouped at
    * customer grain and top-k'd.
    *
    * Scale shape: both fact scans are predicate-pruned; lineitem ⋈
    * orders is the one fact shuffle; customer and nation broadcast; the
    * top-20 plans as TakeOrderedAndProject, never a global sort.
    */
  def returnedItemRevenue(spark: SparkSession, dir: String,
                          qStart: String = "1996-01-01",
                          qEnd: String = "1996-04-01",
                          k: Int = 20): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (centsC(col("l_extendedprice")) *
          (lit(100L) - centsC(col("l_discount")))).as("rev_bp"))
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderdate") >= lit(qStart).cast("timestamp_ntz") &&
        col("o_orderdate") < lit(qEnd).cast("timestamp_ntz"))
      .select(col("o_orderkey"), col("o_custkey"))
    val c = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_name"),
        centsC(col("c_acctbal")).as("acctbal_c"), col("c_nationkey"))
    val n = spark.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey"), col("n_name"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("acctbal_c"),
        col("n_name"))
      .agg(sum(col("rev_bp")).as("revenue_bp"),
        count(lit(1)).as("n_lines"))
      .orderBy(desc("revenue_bp"), col("c_custkey"))
      .limit(k)
  }

  /** TPC-H Q12 shape — shipping-priority classification: a fact-fact
    * join whose entire output is a conditional (pivoted) aggregate —
    * per class, how many lines belong to critical-priority orders vs
    * not. Q12 classifies by shipmode; this schema carries none, so the
    * class key is l_returnflag — the SHAPE under test (join + CASE-WHEN
    * split counts) is identical.
    *
    * Scale shape: the year window prunes the lineitem scan; orders
    * pre-projects to (key, priority) before the single fact shuffle;
    * the output is |classes| rows, map-side combined.
    */
  def priorityLineCounts(spark: SparkSession, dir: String,
                         yStart: String = "1996-01-01",
                         yEnd: String = "1997-01-01"): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") >= lit(yStart).cast("timestamp_ntz") &&
        col("l_shipdate") < lit(yEnd).cast("timestamp_ntz"))
      .select(col("l_orderkey"), col("l_returnflag"))
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_lines"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_lines"))
      .orderBy(col("l_returnflag"))
  }

  /** Weekday SEASONALITY: order count and integer-cent revenue per ISO
    * day-of-week (1=Mon..7=Sun). Spark's `weekday` is 0=Monday, so
    * `weekday+1` aligns with DuckDB's `isodow` exactly — no locale or
    * week-start ambiguity. One scan, 7-row output.
    */
  def weekdayRevenue(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .select((weekday(col("o_orderdate")) + 1).cast("long").as("dow_iso"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("dow_iso"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("revenue_c"))
      .orderBy(col("dow_iso"))

  /** FULFILLMENT-LAG census: order-to-ship day difference per order
    * priority with exact min/p50/p99/max — the operational-latency
    * rollup. Percentiles ride the count-of-counts pattern ([[keySkew]]):
    * the day-difference census folds to (priority, lag_days) rows — at
    * most a few thousand per priority at ANY volume — and every window
    * below is partitioned by priority over that census, never over the
    * fact table. One fact-fact shuffle join + one census shuffle total.
    * (On this synthetic data ship and order dates are independent, so
    * negative lags appear — which is exactly what the census is for.)
    */
  def fulfillmentLag(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_shipdate").cast("date").as("ship"))
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("ordd"),
        col("o_orderpriority"))
    val freq = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("ship"), col("ordd")).cast("long").as("lag_days"))
      .groupBy(col("o_orderpriority"), col("lag_days"))
      .agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy(col("o_orderpriority")).orderBy(col("lag_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wp = Window.partitionBy(col("o_orderpriority"))
    freq
      .withColumn("cum", sum(col("cnt")).over(wc))
      .withColumn("n_lines", sum(col("cnt")).over(wp))
      .withColumn("min_lag", min(col("lag_days")).over(wp))
      .withColumn("max_lag", max(col("lag_days")).over(wp))
      .groupBy(col("o_orderpriority"), col("n_lines"), col("min_lag"),
        col("max_lag"))
      .agg(
        min(when(col("cum") >= expr("(n_lines + 1) div 2"), col("lag_days")))
          .as("p50_lag"),
        min(when(col("cum") >= expr("(n_lines * 99 + 99) div 100"),
          col("lag_days"))).as("p99_lag"))
      .select(col("o_orderpriority"), col("n_lines"), col("min_lag"),
        col("p50_lag"), col("p99_lag"), col("max_lag"))
      .orderBy(col("o_orderpriority"))
  }

  /** MARKET-BASKET pairs — parts co-purchased in the same order, top-20
    * by the number of orders containing both.
    *
    * ONE exchange of (orderkey, partkey), not the classic self equi-join
    * (r15 verdict ask #5 — that shape shuffled lineitem TWICE, ran a
    * sort-merge join, and then paid a countDistinct expand to dedup the
    * multi-line-same-part case; measured 8.6×/decade at sf10): baskets
    * and their pairs come from [[BucketPairs]], whose bucket arrays hold
    * distinct parts — each order then emits each unordered pair at most
    * once, so a plain count(*) equals the old countDistinct(orderkey) by
    * construction.
    *
    * Baskets larger than the derived [[ScaleKnobs.basketCap]] are
    * excluded from pair expansion — the pair blow-up is C(size, 2) and a
    * power-law mega-basket (a boilerplate order at crawl scale) would
    * otherwise emit millions of rows carrying one bit of signal;
    * [[basketAudit]] is the census of what the cap excludes (nothing, at
    * TPC-H's ≤ 7 lines per order — every committed artifact replays
    * bit-for-bit, and the oracle replays the same derived rule). Top-k
    * is orderBy+limit (TakeOrderedAndProject: per-partition heaps, no
    * global sort).
    */
  def basketPairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val cap = ScaleKnobs.basketCap(
      ScaleKnobs.tableCount(spark, dir, "orders"))
    val lines = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    BucketPairs.pairs(
        BucketPairs.buckets(lines, Seq("l_orderkey"), col("l_partkey")), cap)
      .groupBy(col("a").as("part_a"), col("b").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(desc("n_orders"), col("part_a"), col("part_b"))
      .limit(k)
  }

  /** Basket-size census — the audit row for [[ScaleKnobs.basketCap]],
    * mirroring [[graft.engine.ext.Dedup.shingleAudit]]: how many baskets
    * exist, how many generate pairs (≥ 2 distinct parts), the largest
    * basket, the derived cap, and what the cap excludes — both as basket
    * count and as C(size, 2) pair mass. `n_over_cap > 0` says mega-baskets
    * outgrew the co-purchase pair path at this scale and their mass is
    * being dropped rather than expanded. One groupBy + one-row rollup.
    */
  def basketAudit(spark: SparkSession, dir: String): DataFrame = {
    val cap = ScaleKnobs.basketCap(
      ScaleKnobs.tableCount(spark, dir, "orders")).toLong
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_partkey")).as("sz"))
      .agg(count(lit(1)).as("n_baskets"),
        (sum(when(col("sz") >= 2, 1L).otherwise(0L)).as("n_pair_baskets") +:
          max(col("sz")).as("max_basket") +:
          BucketPairs.capCensus(col("sz"), cap)): _*)
      .select(col("n_baskets"), col("n_pair_baskets"), col("max_basket"),
        lit(cap).as("basket_cap"), col("n_over_cap"),
        col("excluded_pair_mass"), col("kept_pair_mass"))
  }

  /** Data-quality CONSTRAINT census (the Deequ shape): one row per
    * declared constraint with rows checked, violations and exact ppm —
    * referential integrity via a single-pass left join + null-count
    * (the FK key is unique on the build side, so no fanout and one
    * aggregate per check, never a count()-then-count() double scan),
    * uniqueness via the count-per-key fold, domain checks as pure
    * projections. Healthy tables report zeros; the census proves it
    * rather than assuming it. All checks are independent single jobs —
    * on a cluster they run concurrently from one action via the union.
    */
  def integrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val customer = spark.read.parquet(s"$dir/customer.parquet")

    def finish(df: DataFrame, name: String): DataFrame =
      df.select(lit(name).as("check_name"), col("n_rows"),
        col("n_violations"),
        expr("n_violations * 1000000 div n_rows").as("violation_ppm"))

    val fkLineitem = finish(
      li.select(col("l_orderkey"))
        .join(orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
            .as("n_violations")),
      "lineitem_fk_orders")
    val fkOrders = finish(
      orders.select(col("o_custkey"))
        .join(broadcast(customer.select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
            .as("n_violations")),
      "orders_fk_customer")
    val pkOrders = finish(
      orders.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).as("n_rows"),
          sum(when(col("n") > 1L, col("n")).otherwise(0L))
            .as("n_violations")),
      "orders_pk_unique")
    val qtyDomain = finish(
      li.agg(count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity") <= 0.0 || col("l_quantity") > 50.0, 1L)
          .otherwise(0L)).as("n_violations")),
      "lineitem_qty_domain")
    val negBal = finish(
      customer.agg(count(lit(1)).as("n_rows"),
        sum(when(col("c_acctbal") < 0.0, 1L).otherwise(0L))
          .as("n_violations")),
      "customer_negative_balance")

    Seq(fkLineitem, fkOrders, pkOrders, qtyDomain, negBal)
      .reduce(_.union(_))
      .orderBy(col("check_name"))
  }

  /** Year-over-year monthly revenue: calendar rollup + a self-join on
    * (year−1, month) — exact month alignment whether or not every month
    * is populated, unlike a lag(12) that silently slides across gaps.
    * The monthly aggregate is |months| rows at any SF, so the YoY join
    * broadcasts; first-year months carry NULL prev/delta. Money stays
    * integer cents end to end.
    */
  def yoyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val mth = spark.read.parquet(s"$dir/orders.parquet")
      .select(year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("y"), col("m"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("revenue_c"))
    val prev = mth.select((col("y") + 1).as("py"), col("m").as("pm"),
      col("revenue_c").as("prev_revenue_c"))
    mth.join(broadcast(prev),
        col("y") === col("py") && col("m") === col("pm"), "left")
      .select(col("y"), col("m"), col("n_orders"), col("revenue_c"),
        col("prev_revenue_c"),
        (col("revenue_c") - col("prev_revenue_c")).as("yoy_delta_c"))
      .orderBy(col("y"), col("m"))
  }

  /** JOIN-KEY SKEW census over lineitem's three join keys — the input to
    * every salting / AQE-skew decision: per key, total rows, distinct
    * keys, the max and exact p50/p99 per-key multiplicities, and the
    * heaviest key's row share in ppm.
    *
    * Scale shape: the percentiles come from the COUNT-OF-COUNTS census,
    * not a global sort of per-key counts — per-key counts fold to
    * (multiplicity, n_keys) pairs (at most ~max-multiplicity rows, a
    * few thousand at any corpus size), and the ceil-rank percentile is
    * a cumulative-sum lookup over that tiny table. The only unbounded
    * shuffles are the three per-key groupBys on the fact table, each
    * with map-side partials; the unpartitioned cumsum window and the
    * 1-row totals broadcast run on census-sized data only.
    */
  def keySkew(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    Seq("l_orderkey", "l_partkey", "l_suppkey")
      .map(k => keySkewOne(li, k))
      .reduce(_.union(_))
      .orderBy(col("key_name"))
  }

  private def keySkewOne(df: DataFrame, key: String): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("n"))
    val freq = counts.groupBy(col("n")).agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("n_keys"),
      sum(col("n") * col("cnt")).as("n_rows"), max(col("n")).as("max_n"))
    // census-sized window (≤ distinct multiplicities), so no partitionBy
    val w = Window.orderBy(col("n"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    freq.withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(tot))
      .groupBy(col("n_keys"), col("n_rows"), col("max_n"))
      .agg(
        min(when(col("cum") >= expr("(n_keys + 1) div 2"), col("n")))
          .as("p50_n"),
        min(when(col("cum") >= expr("(n_keys * 99 + 99) div 100"), col("n")))
          .as("p99_n"))
      .select(lit(key).as("key_name"), col("n_rows"), col("n_keys"),
        col("max_n"), col("p50_n"), col("p99_n"),
        expr("max_n * 1000000 div n_rows").as("top_share_ppm"))
  }
}
