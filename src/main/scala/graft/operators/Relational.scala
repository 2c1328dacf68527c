package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}

/** Relational operator inventory over the TPC-H-ish corpus — the `[EXT]`
  * coverage SURVEY.md §2.3/§2.4 notes Catalyst provides for free, declared
  * here as oracle-checked queries so the capability is demonstrated, not
  * assumed.
  *
  * Numeric policy (oracle parity): money math in DECIMAL(18,2) — exact,
  * associative, immune to double summation-order drift across engines —
  * then a single terminal cast to DOUBLE so Spark and DuckDB emit identical
  * bits and identical arrow schemas.
  */
object Relational extends QueryPack {

  private def decSum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** TPC-H Q1-shaped pricing summary: hash-agg with partial (map-side)
    * aggregation; scan reads only the 7 referenced columns.
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("2002-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3-shaped: 3-way join (customer ⨝ orders ⨝ lineitem) + agg +
    * top-k. customer is broadcast (small dim); orders⨝lineitem shuffles on
    * the order key — at 100 TB this is the natural co-partitioned join; AQE
    * handles skew.
    */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(s, dir)
    val li   = Tables.lineitem(s, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
               (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
             .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  private def decRevenue =
    sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("double")

  /** TPC-H Q6-shaped forecast-revenue: pure scan + filter + single agg —
    * the canonical predicate-pushdown showcase (all four filters reach
    * the parquet scan; only 4 columns read).
    */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
              col("l_shipdate") <  lit("1997-01-01") &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q7-shaped volume shipping: 5-way join — two broadcast nation
    * dims aliased onto the supplier and customer sides, the two fact
    * tables co-shuffled on the order key — revenue between two nation
    * pairs per ship year.
    */
  def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
              (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(decRevenue.as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
  }

  /** TPC-H Q8-shaped national market volume: region-restricted order
    * revenue per order year, total vs one nation's share — emitted as two
    * exact sums (a rounded money/money ratio sits on half-boundaries;
    * see the numeric policy above).
    */
  def q8MarketVolume(s: SparkSession, dir: String): DataFrame = {
    val rnames = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(rnames), col("s_nationkey") === col("n_nationkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(
        decRevenue.as("total_volume"),
        sum(when(col("s_nationkey") === 6,
            col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .otherwise(lit(0).cast("decimal(18,2)")))
          .cast("double").as("nation6_volume"))
      .orderBy(col("order_year"))
  }

  /** TPC-H Q14-shaped promo revenue: join to the part dim, conditional
    * sum split by p_type — promo vs total emitted as exact sums.
    */
  def q14PromoRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1997-07-01"))
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO",
            col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .otherwise(lit(0).cast("decimal(18,2)")))
          .cast("double").as("promo_revenue"),
        decRevenue.as("total_revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q18-shaped large-volume customers: the having-on-aggregate
    * pattern — group lineitem by order, keep orders above a quantity
    * threshold, then enrich with order + customer dims. The heavy groupBy
    * runs FIRST so only qualifying order keys join outward.
    */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(decSum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 200)
    big
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q13-shaped customer order-count distribution (adapted: the
    * corpus orders table carries no o_comment, so the comment exclusion
    * is dropped): LEFT join so zero-order customers count, then a
    * second aggregation over the first — the histogram-of-aggregates
    * shape. All integers.
    */
  def q13CustomerDistribution(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q15-shaped top supplier: quarterly revenue per supplier, keep
    * the max-revenue supplier(s) via a 1-row broadcast max (the view +
    * scalar-subquery shape). Revenue equality compares exact decimals —
    * no float tie ambiguity.
    */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1997-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .as("rev_dec"))
    val mx = rev.agg(max(col("rev_dec")).as("mx"))
    rev.join(broadcast(mx), col("rev_dec") === col("mx"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q17-shaped small-quantity revenue (adapted: the corpus part
    * table has no p_container, so the bracket is brand-only, and the
    * avg_yearly division is left to the reader — a money-sum ÷ 7 lands on
    * non-terminating decimals both engines round differently, so the
    * exact decimal sum is emitted instead): per-part average-quantity
    * threshold as the aggregate-join (correlated-subquery) shape.
    * Quantities are whole numbers in this corpus, so
    * `qty < 0.2·avg(qty)` is the EXACT integer comparison
    * `5·qty·cnt < sum_qty` — no float threshold can flip a borderline
    * row between engines.
    */
  def q17SmallQuantityRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val perPart = li.groupBy(col("l_partkey")).agg(
      sum(col("l_quantity").cast("long")).as("sum_qty"),
      count(lit(1)).as("cnt"))
    li.join(broadcast(Tables.part(s, dir).filter(col("p_brand") === "Brand#23")),
        col("l_partkey") === col("p_partkey"))
      .join(perPart, "l_partkey")
      .filter(col("l_quantity").cast("long") * 5 * col("cnt") < col("sum_qty"))
      .agg(decSum(col("l_extendedprice")).as("lost_revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q19-shaped disjunctive bracket predicate: OR-of-ANDs over the
    * part dim and lineitem measures — the join keeps only the union of
    * brackets (Catalyst pushes the common l_quantity bound to the scan).
    */
  def q19BracketRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#25" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30)))
      .agg(decRevenue.as("revenue"), count(lit(1)).as("n_lines"))

  /** TPC-H Q21-shaped waiting suppliers (adapted: the corpus lineitem has
    * no commit/receipt dates, so "late" = shipped more than 80 days after
    * the order date): suppliers who were the ONLY late supplier on a
    * finished multi-supplier order.
    *
    * SINGLE-PASS conditional-aggregation rewrite of Q21's signature
    * double correlated EXISTS / NOT EXISTS (guide §2.4/§3; r13 verdict
    * item 5). The decorrelated form scans and shuffles lineitem THREE
    * times (semi + anti probes against the base join); but both
    * correlations only ask per-order facts — "some OTHER supplier has a
    * line" and "no OTHER supplier has a LATE line" — so one grouped
    * pass derives them exactly:
    *
    *   per (l_orderkey, l_suppkey): n_late = COUNT(late lines)
    *   per l_orderkey (window):     n_supp = COUNT(supplier groups),
    *                                n_late_supp = COUNT(groups with n_late>0)
    *
    * A supplier's late lines on a finished order qualify iff
    * n_late > 0 ∧ n_supp ≥ 2 (the EXISTS: another supplier has a line —
    * any line, late or not, which is why the group counts ALL lines) ∧
    * n_late_supp = 1 (the NOT EXISTS: that one late supplier is this
    * row's own group). numwait = Σ n_late over qualifying pairs —
    * integer arithmetic throughout, so the result set is bit-identical
    * to the subquery form (the oracle still runs the EXISTS shape).
    * Lines with a NULL l_suppkey are dropped first: in the subquery form
    * they neither qualify themselves nor count as another supplier
    * (`l2.l_suppkey <> l1.l_suppkey` is unknown, never true).
    *
    * ONE wide exchange: lineitem joins the F-orders slice (broadcast at
    * this SF; at 100 TB both sides hash on the order key), is
    * pre-partitioned by l_orderkey, and the pair aggregate AND the
    * per-order window both reuse that layout (hash(l_orderkey)
    * satisfies ClusteredDistribution(l_orderkey, l_suppkey) — the
    * Scd2.buildDim single-exchange pattern). The old plan's second and
    * third lineitem shuffles (18 MiB + 33 MiB broadcast at sf0.1,
    * table-scale at 100 TB) are gone.
    */
  def q21WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val lines = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .filter(col("l_suppkey").isNotNull)
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 80 DAY")).as("__late"))
    val pairs = lines.repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(when(col("__late"), 1L).otherwise(0L)).as("n_late"))
    val w = Window.partitionBy(col("l_orderkey"))
    val flagged = pairs
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late_supp",
        sum(when(col("n_late") > 0, 1L).otherwise(0L)).over(w))
      .filter(col("n_late") > 0 && col("n_supp") >= 2 &&
        col("n_late_supp") === 1)
    flagged
      .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("n_late")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** TPC-H Q22-shaped idle customers (adapted: the corpus customer table
    * has no c_phone, so the country-code bracket is a nation-key IN list,
    * and "no orders" — vacuously empty here since every customer ordered —
    * becomes "no orders since 2000-01-01"): above-average-balance
    * customers in selected nations who stopped ordering. The scalar
    * average is a 1-row broadcast; the "stopped ordering" probe is a
    * left-anti join against the date-pruned orders slice — at 100 TB the
    * orders side is filtered BEFORE the anti join, so only the recent
    * slice shuffles.
    */
  def q22IdleCustomers(s: SparkSession, dir: String): DataFrame = {
    val nations = Seq(1, 3, 5, 7, 9, 11, 13)
    val bracket = Tables.customer(s, dir).filter(col("c_nationkey").isin(nations: _*))
    val avgBal = bracket.filter(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("__avg_bal"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01"))
      .select(col("o_custkey"))
    bracket
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("__avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), decSum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** Broadcast-join chain over the tiny dims + grouped agg. */
  def regionNationRollup(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("customers"),
        decSum(col("c_acctbal")).as("total_acctbal"))
      .orderBy(col("r_name"))

  /** Window functions: per-customer order sequence + running total.
    * The predicate on o_custkey is pushed to the parquet scan, so the
    * window input is pruned before the shuffle on the partition key.
    */
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 100)
      .select(
        col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        row_number().over(w).as("rn"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_total"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Global top-k by sort key — Catalyst plans TakeOrderedAndProject:
    * per-partition O(n log k) heap + k-row driver merge, no full sort.
    */
  def topkOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("total_price"))
      .orderBy(col("total_price").desc, col("o_orderkey"))
      .limit(10)

  /** Left-semi join ≡ EXISTS: customers holding at least one open 'P' order. */
  def semiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Left-anti join ≡ NOT EXISTS: low-key customers with no 'P' order. */
  def antiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .filter(col("c_custkey") < 500)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"))
      .orderBy(col("c_custkey"))

  /** Left-outer join with null-group accounting: every low-key customer,
    * including the orderless ones (null-generating side aggregated with
    * count-of-column vs count(*) distinction).
    */
  def leftOuterJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).filter(col("c_custkey") < 200)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_pending"), // nulls not counted
        count(lit(1)).as("n_rows"),               // join rows incl. null match
        coalesce(decSum(col("o_totalprice")), lit(0.0)).as("pending_value"))
      .orderBy(col("c_custkey"))

  /** FULL OUTER join over two disjoint-ish aggregates (suppliers vs
    * customers per nation) — both null sides exercised.
    */
  def fullOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val custPerNation = Tables.customer(s, dir)
      .groupBy(col("c_nationkey").as("nation")).agg(count(lit(1)).as("n_cust"))
    val suppPerNation = Tables.supplier(s, dir)
      .filter(col("s_acctbal") > 0)
      .groupBy(col("s_nationkey").as("s_nation")).agg(count(lit(1)).as("n_supp"))
    custPerNation.join(suppPerNation,
      col("nation") === col("s_nation"), "full_outer")
      .select(
        coalesce(col("nation"), col("s_nation")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  /** INTERSECT ALL / EXCEPT ALL — the multiplicity-preserving variants. */
  def setOpsAll(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def keys(flag: String) =
      li.filter(col("l_returnflag") === flag).select(col("l_orderkey"))
    keys("A").intersectAll(keys("R"))
      .exceptAll(keys("N"))
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("multiplicity"))
      .orderBy(col("l_orderkey"))
  }

  /** INTERSECT / EXCEPT set operators (SURVEY.md §2.7 — the reference only
    * has UNION ALL; these complete the set-op surface).
    */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    def custWith(status: String) =
      ord.filter(col("o_orderstatus") === status).select(col("o_custkey"))
    custWith("O").intersect(custWith("F")).except(custWith("P"))
      .orderBy(col("o_custkey"))
  }

  /** Conditional aggregation (the reference's A3 stats-block shape,
    * similarity_search.py:366-407): one pass, sum(CASE WHEN) counts + rate.
    */
  def priorityStats(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"),
        round(sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).cast("double") /
              count(lit(1)).cast("double"), 6).as("open_rate"),
        decSum(col("o_totalprice")).as("total_value"))
      .orderBy(col("o_orderpriority"))

  /** Pivot (status breakdown as columns — the reference's waitlist_status
    * breakdown, similarity_search.py:395-405, generalized). Explicit pivot
    * values keep the schema deterministic.
    */
  def pivotStatus(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .orderBy(col("l_returnflag"))

  /** UNPIVOT (melt): wide per-flag measure columns back to long
    * (measure, value) rows — the inverse reshape of [[pivotStatus]],
    * via `Dataset.unpivot` (constant-width Expand, no shuffle beyond
    * the feeding aggregate). Measures are decimal-exact sums cast to
    * double BEFORE melting, so the oracle's UNION ALL reproduces the
    * values bit-for-bit.
    */
  def unpivotMeasures(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("sum_disc"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "measure", "value")
      .orderBy(col("l_returnflag"), col("measure"))
  }

  /** ROLLUP grouping sets over the dim hierarchy region → nation. */
  def rollupRegionNation(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("customers"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)

  /** TPC-H Q4-shaped correlated EXISTS, written through the SQL front end
    * so Catalyst's subquery decorrelation (rewrite to left-semi join) is
    * exercised — the DataFrame API can't express a correlated subquery
    * directly.
    */
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
    s.sql(
      """SELECT o_orderpriority, count(*) AS n_orders
        | FROM graft_orders
        | WHERE EXISTS (
        |   SELECT 1 FROM graft_lineitem
        |   WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        | GROUP BY o_orderpriority
        | ORDER BY o_orderpriority""".stripMargin)
  }

  /** LATERAL correlated subquery — per-customer top-3 orders by value.
    * Written through the SQL front end (the DataFrame API has no lateral
    * join) so Catalyst's lateral-join decorrelation machinery
    * (`DecorrelateInnerQuery` + `RewriteLateralSubquery`) is exercised:
    * the per-row LIMIT subquery rewrites to one window-ranked join, NOT a
    * per-customer re-scan of orders — the difference between one shuffle
    * and |customers| scans at 100 TB. Bounded to one segment so the
    * driver output stays reviewable.
    */
  def lateralTopOrders(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
    Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
    s.sql(
      """SELECT c_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        | FROM graft_customer,
        | LATERAL (
        |   SELECT o_orderkey, o_totalprice
        |   FROM graft_orders
        |   WHERE o_custkey = c_custkey
        |   ORDER BY o_totalprice DESC, o_orderkey
        |   LIMIT 3)
        | WHERE c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0
        | ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
  }

  /** TPC-H Q10-shaped: revenue lost to returned items per customer+nation. */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
               (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
             .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** Interval (range) join: pairs of the same user's events within one
    * hour of each other — equi key (user) + time-band predicate. Catalyst
    * plans the equality as the join key with the band as a post-filter;
    * at 100 TB both sides bucket on the key and the band bounds the
    * per-key blow-up. (events and orders live in disjoint time domains in
    * this corpus, so the demo is a self-interval-join.)
    */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id") < 25)
    val a = e.select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
    val b = e.select(col("user_id"), col("event_id").as("b_id"), col("ts").as("b_ts"))
    a.join(b, Seq("user_id"))
      .filter(col("a_id") < col("b_id") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") < col("a_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("a_id"), col("b_id"),
        (unix_timestamp(col("b_ts")) - unix_timestamp(col("a_ts")))
          .cast("long").as("gap_s"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Value histogram via width_bucket (SQL-standard bucketing). */
  def histogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(width_bucket(col("o_totalprice"), lit(0.0), lit(600000.0), lit(12))
        .as("bucket"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("bucket_value"))
      .orderBy(col("bucket"))

  /** HLL++ sketch vs exact distinct counts. The raw HLL estimate isn't
    * oracle-matchable (DuckDB's estimator differs), so the query emits
    * the exact counts plus within-bound FLAGS at rsd = 0.01 / bound 5 %
    * (5σ — the estimate is deterministic for fixed input, so a green flag
    * is stable, and a regression in the sketch path flips it to 0 and
    * fails the hash). The raw estimate stays spec-checked in
    * ApproxAndRuntimeFilterSpec.
    */
  def approxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).agg(
      count_distinct(col("l_orderkey")).as("exact_orders"),
      count_distinct(col("l_partkey")).as("exact_parts"),
      approx_count_distinct(col("l_orderkey"), 0.01).as("__ao"),
      approx_count_distinct(col("l_partkey"), 0.01).as("__ap"))
    .select(col("exact_orders"), col("exact_parts"),
      (abs(col("__ao") - col("exact_orders")).cast("double") <=
        col("exact_orders") * 0.05).cast("bigint").as("orders_within_5pct"),
      (abs(col("__ap") - col("exact_parts")).cast("double") <=
        col("exact_parts") * 0.05).cast("bigint").as("parts_within_5pct"))

  /** Correlated scalar-aggregate subquery through the SQL front end:
    * Catalyst decorrelates `> (SELECT avg(..) WHERE correlated)` into an
    * aggregate + join (RewriteCorrelatedScalarSubquery) — no per-row
    * re-execution, one shuffle on the correlation key.
    */
  def corrScalarAggSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("graft_cust_corr")
    s.sql(
      """SELECT c_custkey, c_name, c_acctbal
        | FROM graft_cust_corr c
        | WHERE c_acctbal > 2 * (SELECT avg(c2.c_acctbal)
        |                        FROM graft_cust_corr c2
        |                        WHERE c2.c_nationkey = c.c_nationkey)
        | ORDER BY c_custkey
        | LIMIT 200""".stripMargin)
  }

  /** Window-function breadth on one deterministic frame: lag/lead, ntile,
    * percent_rank, cume_dist, first/last over (customer ORDER BY date,
    * key) — the unique trailing key makes every rank-derived value
    * engine-stable.
    */
  def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 20)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        first(col("o_totalprice")).over(w).as("first_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** String-function surface: LIKE, regexp extraction, length/case ops —
    * aggregated per segment for a compact deterministic result.
    */
  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("c_name").like("%1%"), 1L).otherwise(0L)).as("n_like_1"),
        sum(length(col("c_name"))).as("total_name_len"),
        min(upper(col("c_name"))).as("first_upper"),
        max(regexp_extract(col("c_name"), "([0-9]+)", 1).cast("long")).as("max_name_num"))
      .orderBy(col("c_mktsegment"))

  /** Explicit GROUPING SETS with grouping_id disambiguation (SQL front
    * end — finer-grained than rollup/cube).
    */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS n
        | FROM graft_orders_gs
        | GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        | ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  /** CUBE grouping sets (all four (returnflag, linestatus) combinations). */
  def cubeFlagStatus(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Plain UNION ALL of two order slices (the reference's only set op,
    * similarity_search.py:330-350, as an explicit oracle-checked query).
    */
  def unionAllSlices(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    ord.filter(col("o_orderstatus") === "P")
      .select(col("o_orderkey"), lit("pending").as("slice"))
      .unionByName(
        ord.filter(col("o_totalprice") > 550000)
          .select(col("o_orderkey"), lit("big").as("slice")))
      .orderBy(col("slice"), col("o_orderkey"))
  }

  /** RANGE-frame window: 7-day moving average of daily revenue (two-level
    * agg: daily rollup, then a range frame over epoch-day — the frame is
    * value-based, so gaps in the calendar are handled correctly, unlike a
    * ROWS frame).
    */
  def movingAverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(s, dir)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).as("rev_dec"),
        count(lit(1)).as("n_orders"))
      .withColumn("daily_rev", col("rev_dec").cast("double"))
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01")))
    val w = Window.orderBy(col("epoch_day")).rangeBetween(-6, 0)
    daily
      // moving aggregates stay EXACT (decimal sum, integer count) — a
      // rounded ratio of money sums lands on .xxxx5 boundaries
      // systematically, where Spark (BigDecimal half-up on the exact
      // expansion) and DuckDB (float-multiply rounding) disagree
      .withColumn("ma7_sum", sum(col("rev_dec")).over(w).cast("double"))
      .withColumn("ma7_n", sum(col("n_orders")).over(w))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("daily_rev"), col("n_orders"), col("ma7_sum"), col("ma7_n"))
      .orderBy(col("day"))
      .limit(500)
  }

  /** Correlation / covariance statistics (round-guarded — both engines
    * use streaming co-moment formulas that agree to well under 1e-6).
    */
  def corrStats(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qty_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Date bucketing: orders per month (V6 date arithmetic surface). */
  def monthlyOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month"))
      .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("total_value"))
      .orderBy(col("month"))

  /** CASE WHEN decode of a status enum to labels (P6, the reference's
    * waitlist_status → human label map, similarity_search.py:690-696).
    */
  def decodeStatus(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        when(col("o_orderstatus") === "O", "Open")
          .when(col("o_orderstatus") === "F", "Finished")
          .when(col("o_orderstatus") === "P", "Pending")
          .otherwise("Unknown").as("status_label"))
      .groupBy(col("status_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status_label"))

  /** TPC-H Q5-shaped: 6-table join, region-filtered, revenue by nation.
    * The dim chain (region→nation→supplier/customer) broadcasts; only the
    * lineitem⨝orders join shuffles. The c_nationkey = s_nationkey
    * condition is Q5's signature local-supplier constraint.
    */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val asia = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
               (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
             .cast("double").as("revenue"))
      .orderBy(col("n_name"))
  }

  /** Scalar subquery: customers above the global average balance, counted
    * per nation — the subquery is one broadcast row, no shuffle of the
    * fact side beyond the final agg.
    */
  def aboveAvgCustomers(s: SparkSession, dir: String): DataFrame = {
    val avgBal = Tables.customer(s, dir)
      .agg(avg(col("c_acctbal")).as("__avg_bal"))
    Tables.customer(s, dir)
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("__avg_bal"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_above_avg"))
      .orderBy(col("c_nationkey"))
  }

  /** Exact percentiles (linear interpolation — Spark `percentile` and
    * DuckDB `quantile_cont` share the definition, so this is
    * oracle-checkable; `approx_percentile` sketches would not be).
    */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  /** Approximate quantile SKETCH next to its exact truth (the
    * [[approxDistinct]] pattern): `approx_percentile` is the
    * KLL/GK-style mergeable sketch a 100 TB profiler actually runs —
    * single pass, bounded memory, map-side mergeable — while exact
    * `percentile` buffers each group. The sketch values themselves are
    * engine-private, so the driver row carries the EXACT percentiles
    * plus within-2%-relative flags the oracle pins to 1: sketch drift
    * beyond the tolerance fails the hash gate.
    */
  def approxQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).agg(
      round(expr("percentile(o_totalprice, 0.5)"), 4).as("exact_p50"),
      round(expr("percentile(o_totalprice, 0.99)"), 4).as("exact_p99"),
      expr("approx_percentile(o_totalprice, 0.5, 1000)").as("__a50"),
      expr("approx_percentile(o_totalprice, 0.99, 1000)").as("__a99"),
      count(lit(1)).as("n"))
    .select(col("exact_p50"), col("exact_p99"), col("n"),
      (abs(col("__a50") - col("exact_p50")) <= col("exact_p50") * 0.02)
        .cast("bigint").as("p50_within_2pct"),
      (abs(col("__a99") - col("exact_p99")) <= col("exact_p99") * 0.02)
        .cast("bigint").as("p99_within_2pct"))

  /** Robust outlier detection via median absolute deviation (the
    * data-quality rule that survives the skew a mean/std z-score
    * doesn't): per order status, flag order values with
    * |x − median| > 3 · 1.4826 · MAD (1.4826 = the standard normal
    * consistency constant, spelled as a literal in both engines). Two
    * grouped exact-percentile passes + one counting pass, dimension side
    * broadcast back each time. Exact `percentile` buffers per group —
    * correct for a bounded group count like this; at 100 TB cardinality
    * the one-pass mergeable `approx_percentile` sketch ([[approxQuantiles]])
    * replaces it.
    */
  def outliersMad(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val med = ord.groupBy(col("o_orderstatus"))
      .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
    val dev = ord.join(broadcast(med), "o_orderstatus")
      .withColumn("adev", abs(col("o_totalprice") - col("med")))
    val mad = dev.groupBy(col("o_orderstatus"))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "o_orderstatus")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        round(max(col("med")), 4).as("median_price"),
        round(max(col("mad")), 4).as("mad"),
        sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("o_orderstatus"))
  }

  /** Per-group distinct aggregation. */
  def distinctNationsPerSegment(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_customers"),
        count_distinct(col("c_nationkey")).as("n_nations"))
      .orderBy(col("c_mktsegment"))

  override def queries: Map[String, QueryPack.Q] = Map(
    "q5_local_supplier"   -> (q5LocalSupplier _),
    "q_scalar_subquery"   -> (aboveAvgCustomers _),
    "q_percentiles"       -> (percentiles _),
    "q_cube"              -> (cubeFlagStatus _),
    "q4_order_priority"   -> (q4OrderPriority _),
    "q10_returned_items"  -> (q10ReturnedItems _),
    "q_interval_join"     -> (intervalJoin _),
    "q_moving_avg"        -> (movingAverage _),
    "q_grouping_sets"     -> (groupingSets _),
    "q_string_funcs"      -> (stringFuncs _),
    "q_left_join"         -> (leftOuterJoin _),
    "q_full_outer"        -> (fullOuterJoin _),
    "q_setops_all"        -> (setOpsAll _),
    "q_histogram"         -> (histogram _),
    "q_approx_distinct"   -> (approxDistinct _),
    "q_approx_quantile"   -> (approxQuantiles _),
    "q_corr_subquery"     -> (corrScalarAggSubquery _),
    "q_window_funcs"      -> (windowFuncs _),
    "q_corr"              -> (corrStats _),
    "q_union_all"         -> (unionAllSlices _),
    "q_distinct_agg"      -> (distinctNationsPerSegment _),
    "q1_pricing_summary"  -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q7_volume_shipping"  -> (q7VolumeShipping _),
    "q8_market_volume"    -> (q8MarketVolume _),
    "q13_cust_distribution" -> (q13CustomerDistribution _),
    "q14_promo_revenue"   -> (q14PromoRevenue _),
    "q15_top_supplier"    -> (q15TopSupplier _),
    "q17_small_qty_revenue" -> (q17SmallQuantityRevenue _),
    "q18_large_orders"    -> (q18LargeOrders _),
    "q19_bracket_revenue" -> (q19BracketRevenue _),
    "q21_waiting_suppliers" -> (q21WaitingSuppliers _),
    "q22_idle_customers"  -> (q22IdleCustomers _),
    "q_region_rollup"     -> (regionNationRollup _),
    "q_window_running"    -> (windowRunning _),
    "q_topk_orders"       -> (topkOrders _),
    "q_semi_join"         -> (semiJoin _),
    "q_anti_join"         -> (antiJoin _),
    "q_setops"            -> (setOps _),
    "q_priority_stats"    -> (priorityStats _),
    "q_pivot_status"      -> (pivotStatus _),
    "q_unpivot"           -> (unpivotMeasures _),
    "q_rollup_region"     -> (rollupRegionNation _),
    "q_monthly_orders"    -> (monthlyOrders _),
    "q_outliers_mad"      -> (outliersMad _),
    "q_decode_status"     -> (decodeStatus _),
    "q_lateral_topk"      -> (lateralTopOrders _))

  override def oracleSql: Map[String, String] = Map(
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | WHERE r_name = 'ASIA'
        | GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT c_nationkey, count(*) AS n_above_avg
        | FROM customer
        | WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        | GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        | FROM orders
        | WHERE EXISTS (
        |   SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        | GROUP BY o_orderpriority
        | ORDER BY o_orderpriority""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | WHERE l_returnflag = 'R'
        | GROUP BY c_custkey, c_name, n_name
        | ORDER BY revenue DESC, c_custkey
        | LIMIT 20""".stripMargin,
    "q_interval_join" ->
      """WITH e AS (SELECT user_id, event_id, ts FROM events WHERE user_id < 25)
        | SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |  CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_s
        | FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND a.event_id < b.event_id
        |  AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 1 HOUR
        | ORDER BY a_id, b_id""".stripMargin,
    "q_moving_avg" ->
      """WITH daily AS (
        |  SELECT o_orderdate::DATE AS day,
        |   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec,
        |   count(*) AS n_orders
        |  FROM orders GROUP BY 1)
        | SELECT strftime(day, '%Y-%m-%d') AS day,
        |  CAST(rev_dec AS DOUBLE) AS daily_rev, n_orders,
        |  CAST(sum(rev_dec) OVER w AS DOUBLE) AS ma7_sum,
        |  CAST(sum(n_orders) OVER w AS BIGINT) AS ma7_n
        | FROM (SELECT *, date_diff('day', DATE '1970-01-01', day) AS epoch_day FROM daily)
        | WINDOW w AS (ORDER BY epoch_day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        | ORDER BY day LIMIT 500""".stripMargin,
    "q_corr_subquery" ->
      """SELECT c_custkey, c_name, c_acctbal
        | FROM customer c
        | WHERE c_acctbal > 2 * (SELECT avg(c2.c_acctbal)
        |                        FROM customer c2
        |                        WHERE c2.c_nationkey = c.c_nationkey)
        | ORDER BY c_custkey
        | LIMIT 200""".stripMargin,
    "q_window_funcs" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  first_value(o_totalprice) OVER w AS first_price
        | FROM orders
        | WHERE o_custkey < 20
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        | ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                 CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate <  TIMESTAMP '1997-01-01'
        |   AND l_discount BETWEEN 0.05 AND 0.07
        |   AND l_quantity < 24""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        | FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        | WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7') OR
        |        (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |   AND l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate <  TIMESTAMP '1998-01-01'
        | GROUP BY 1, 2, 3
        | ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_volume" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS total_volume,
        |  CAST(sum(CASE WHEN s_nationkey = 6
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation6_volume
        | FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation   ON s_nationkey = n_nationkey
        |  JOIN region   ON n_regionkey = r_regionkey
        | WHERE r_name = 'AMERICA'
        | GROUP BY 1
        | ORDER BY 1""".stripMargin,
    "q_outliers_mad" ->
      """WITH med AS (
        |  SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY o_orderstatus),
        |dev AS (
        |  SELECT o.o_orderstatus, abs(o.o_totalprice - m.med) AS adev, m.med
        |  FROM orders o JOIN med m ON o.o_orderstatus = m.o_orderstatus),
        |mad AS (
        |  SELECT o_orderstatus, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY o_orderstatus)
        |SELECT d.o_orderstatus, count(*) AS n,
        |  round(max(d.med), 4) AS median_price,
        |  round(max(m.mad), 4) AS mad,
        |  CAST(sum(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad m ON d.o_orderstatus = m.o_orderstatus
        |GROUP BY d.o_orderstatus
        |ORDER BY d.o_orderstatus""".stripMargin,
    "q21_waiting_suppliers" ->
      """SELECT s_name, count(*) AS numwait
        | FROM supplier
        | JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        | JOIN orders ON o_orderkey = l1.l_orderkey
        | WHERE o_orderstatus = 'F'
        |   AND l1.l_shipdate > o_orderdate + INTERVAL 80 DAY
        |   AND EXISTS (
        |     SELECT 1 FROM lineitem l2
        |     WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |   AND NOT EXISTS (
        |     SELECT 1 FROM lineitem l3
        |     JOIN orders o2 ON l3.l_orderkey = o2.o_orderkey
        |     WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |       AND l3.l_shipdate > o2.o_orderdate + INTERVAL 80 DAY)
        | GROUP BY s_name
        | ORDER BY numwait DESC, s_name
        | LIMIT 20""".stripMargin,
    "q22_idle_customers" ->
      """SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        | FROM customer
        | WHERE c_nationkey IN (1,3,5,7,9,11,13)
        |   AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                    WHERE c_acctbal > 0 AND c_nationkey IN (1,3,5,7,9,11,13))
        |   AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                   AND o_orderdate >= TIMESTAMP '2000-01-01')
        | GROUP BY c_nationkey
        | ORDER BY c_nationkey""".stripMargin,
    "q13_cust_distribution" ->
      """WITH c AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey
        |)
        |SELECT CAST(c_count AS BIGINT) AS c_count,
        |  CAST(count(*) AS BIGINT) AS custdist
        |FROM c GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |      AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
        |  GROUP BY l_suppkey
        |)
        |SELECT s.s_suppkey, s.s_name, CAST(r.rev_dec AS DOUBLE) AS total_revenue
        |FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.rev_dec = (SELECT max(rev_dec) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH pp AS (
        |  SELECT l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    count(*) AS cnt
        |  FROM lineitem GROUP BY l_partkey
        |)
        |SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS lost_revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#23'
        |JOIN pp ON pp.l_partkey = l.l_partkey
        |WHERE CAST(l.l_quantity AS BIGINT) * 5 * pp.cnt < pp.sum_qty""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS total_revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |   AND l_shipdate <  TIMESTAMP '1997-07-01'""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_totalprice, sum_qty
        | FROM (SELECT l_orderkey,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |        FROM lineitem GROUP BY 1 HAVING sum_qty > 200) big
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        | ORDER BY sum_qty DESC, o_orderkey
        | LIMIT 100""".stripMargin,
    "q19_bracket_revenue" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |          AND l_quantity BETWEEN 1 AND 11)
        |    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |          AND l_quantity BETWEEN 10 AND 20)
        |    OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 35
        |          AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_approx_distinct" ->
      """SELECT count(DISTINCT l_orderkey) AS exact_orders,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  CAST(1 AS BIGINT) AS orders_within_5pct,
        |  CAST(1 AS BIGINT) AS parts_within_5pct
        | FROM lineitem""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(CASE WHEN o_totalprice < 0.0 THEN 0
        |   WHEN o_totalprice >= 600000.0 THEN 13
        |   ELSE floor(o_totalprice * 12 / 600000.0) + 1 END AS BIGINT) AS bucket,
        | count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bucket_value
        | FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_left_join" ->
      """SELECT c_custkey,
        |  count(o_orderkey) AS n_pending,
        |  count(*) AS n_rows,
        |  coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS pending_value
        | FROM customer
        | LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus = 'P'
        | WHERE c_custkey < 200
        | GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_full_outer" ->
      """SELECT coalesce(c.nation, s.s_nation) AS nationkey,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        | FROM (SELECT c_nationkey AS nation, count(*) AS n_cust
        |       FROM customer GROUP BY 1) c
        | FULL OUTER JOIN
        |      (SELECT s_nationkey AS s_nation, count(*) AS n_supp
        |       FROM supplier WHERE s_acctbal > 0 GROUP BY 1) s
        | ON c.nation = s.s_nation
        | ORDER BY nationkey""".stripMargin,
    "q_setops_all" ->
      """SELECT l_orderkey, count(*) AS multiplicity FROM (
        |  (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
        |   INTERSECT ALL
        |   SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        |  EXCEPT ALL
        |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'N')
        | GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q_string_funcs" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CASE WHEN c_name LIKE '%1%' THEN 1 ELSE 0 END) AS BIGINT) AS n_like_1,
        |  CAST(sum(length(c_name)) AS BIGINT) AS total_name_len,
        |  min(upper(c_name)) AS first_upper,
        |  CAST(max(CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS max_name_num
        | FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid, count(*) AS n
        | FROM orders
        | GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        | ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_corr" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc,
        |  count(*) AS n
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        | FROM lineitem
        | GROUP BY CUBE (l_returnflag, l_linestatus)
        | ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_union_all" ->
      """SELECT o_orderkey, 'pending' AS slice FROM orders WHERE o_orderstatus = 'P'
        | UNION ALL
        | SELECT o_orderkey, 'big' AS slice FROM orders WHERE o_totalprice > 550000
        | ORDER BY slice, o_orderkey""".stripMargin,
    "q_approx_quantile" ->
      """SELECT round(quantile_cont(o_totalprice, 0.5), 4) AS exact_p50,
        |  round(quantile_cont(o_totalprice, 0.99), 4) AS exact_p99,
        |  count(*) AS n,
        |  CAST(1 AS BIGINT) AS p50_within_2pct,
        |  CAST(1 AS BIGINT) AS p99_within_2pct
        | FROM orders""".stripMargin,
    "q_percentiles" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  count(*) AS n
        | FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_distinct_agg" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |  count(DISTINCT c_nationkey) AS n_nations
        | FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        | FROM lineitem
        | WHERE l_shipdate <= TIMESTAMP '2002-09-01 00:00:00'
        | GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | WHERE c_mktsegment = 'BUILDING'
        | GROUP BY l_orderkey
        | ORDER BY revenue DESC, l_orderkey
        | LIMIT 10""".stripMargin,
    "q_region_rollup" ->
      """SELECT r_name, count(*) AS customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        | FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name
        | ORDER BY r_name""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  row_number() OVER w AS rn,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |       OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        | FROM orders WHERE o_custkey < 100
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        | ORDER BY o_custkey, rn""".stripMargin,
    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        | FROM orders ORDER BY total_price DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders
        |               WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        | ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey FROM customer
        | WHERE c_custkey < 500 AND NOT EXISTS
        |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        | ORDER BY c_custkey""".stripMargin,
    "q_setops" ->
      """(SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
        | EXCEPT
        | SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P'
        | ORDER BY o_custkey""".stripMargin,
    "q_priority_stats" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |  round(CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) /
        |        CAST(count(*) AS DOUBLE), 6) AS open_rate,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_pivot_status" ->
      """SELECT l_returnflag,
        |  count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS "F",
        |  count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS "O"
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_unpivot" ->
      """WITH wide AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'sum_disc' AS measure, sum_disc AS value FROM wide
        |ORDER BY l_returnflag, measure""".stripMargin,
    "q_rollup_region" ->
      """SELECT r_name, n_name, count(*) AS customers
        | FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY ROLLUP (r_name, n_name)
        | ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,
    "q_monthly_orders" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        | FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    "q_decode_status" ->
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Finished'
        |       WHEN 'P' THEN 'Pending' ELSE 'Unknown' END AS status_label,
        |  count(*) AS n
        | FROM orders GROUP BY 1 ORDER BY status_label""".stripMargin,
    "q_lateral_topk" ->
      """SELECT c_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        | FROM customer,
        | LATERAL (
        |   SELECT o_orderkey, o_totalprice
        |   FROM orders
        |   WHERE o_custkey = c_custkey
        |   ORDER BY o_totalprice DESC, o_orderkey
        |   LIMIT 3)
        | WHERE c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0
        | ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
}
