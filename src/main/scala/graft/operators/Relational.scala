package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Relational breadth beyond the reference's single query: scan→filter→agg,
 * multi-way joins, top-k, distinct aggregation, analytic window functions.
 * The reference delegates all of this to ClickHouse (SURVEY.md big picture);
 * here each shape is declared via the DataFrame API so Catalyst plans it
 * (pushdown, partial aggregation, broadcast vs shuffle join, AQE).
 *
 * Determinism across engines (DuckDB oracle): money arithmetic is done in
 * exact DECIMAL (sources are 2-dp values stored as double) and only the
 * final aggregate is cast to double — float sum order then cannot perturb
 * results. Every query ends in a total ORDER BY.
 *
 * Scale notes (100 TB):
 *  - filters/projections sit directly on the parquet scan (pushed + pruned);
 *  - aggregates are partial→final over low-cardinality keys, so shuffles
 *    carry group rows only;
 *  - bounded dimensions (region: 5 rows, nation: 25) are broadcast
 *    explicitly; data-dependent sides (customer, supplier — grow with SF)
 *    are left to AQE's runtime size stats rather than hard-coded hints;
 *  - top-k is ORDER BY + LIMIT → TakeOrderedAndProject (per-partition heap,
 *    no global sort materialization).
 */
object Relational {

  /** Exact decimal view of a 2-dp money/ratio column stored as double. */
  private def dec(c: Column, p: Int = 18): Column = c.cast(DecimalType(p, 2))
  private val one = lit(1).cast(DecimalType(3, 2))

  /** Pricing summary (TPC-H Q1 shape): scan + pushed range filter + 8-way
    * aggregate over a 6-group key. */
  def q1Pricing(lineitem: DataFrame): DataFrame = {
    val qty = dec(col("l_quantity"))
    val price = dec(col("l_extendedprice"))
    val discPrice = price * (one - dec(col("l_discount"), 4))
    val charge = discPrice * (one + dec(col("l_tax"), 4))
    lineitem
      .filter(col("l_shipdate") <= lit(Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(qty).cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        (sum(qty).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(price).cast("double") / count(lit(1))).as("avg_price"),
        (sum(dec(col("l_discount"), 4)).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Unshipped-revenue top-k (TPC-H Q3 shape): big⋈big shuffle join on the
    * order key, then a selective dimension join; top-10 via sort+limit. */
  def q3Shipping(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val cust = customer
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = orders
      .filter(col("o_orderdate") < lit(Timestamp.valueOf("1997-06-01 00:00:00")))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = lineitem
      .filter(col("l_shipdate") > lit(Timestamp.valueOf("1997-06-01 00:00:00")))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"), 4)))
        .cast("double").as("revenue"))
      .select(col("l_orderkey"),
        // o_orderdate arrives as TIMESTAMP_NTZ; hop through TIMESTAMP (UTC
        // session) to get epoch seconds
        col("o_orderdate").cast("timestamp").cast("long").as("o_orderdate_s"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Local-supplier revenue by nation (TPC-H Q5 shape): five-way join;
    * region/nation broadcast, the rest planned by AQE. */
  def q5RegionRevenue(region: DataFrame, nation: DataFrame, customer: DataFrame,
      orders: DataFrame, lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    val asia = broadcast(region.filter(col("r_name") === "ASIA"))
    val nat = broadcast(nation)
    val ord = orders.filter(
      col("o_orderdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
      col("o_orderdate") < lit(Timestamp.valueOf("1998-01-01 00:00:00")))
    lineitem
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .join(asia, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"), 4)))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Top-k without grouping: TakeOrderedAndProject, no full sort. */
  def topkOrders(orders: DataFrame, k: Int = 20): DataFrame =
    orders
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)

  /** Distinct aggregation: count + count(DISTINCT) per group (expand +
    * two-phase aggregate under the hood). */
  def groupDistinct(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus"))

  /** Promo revenue share (TPC-H Q14 shape): conditional aggregation over a
    * lineitem⋈part join in a one-year shipdate slice. Part is a broadcast
    * candidate at test SF; left to AQE size stats (it grows with SF). */
  def q14PromoShare(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val revenue = dec(col("l_extendedprice")) * (one - dec(col("l_discount"), 4))
    lineitem
      .filter(col("l_shipdate") >= lit(Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(Timestamp.valueOf("1998-01-01 00:00:00")))
      .join(part, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", revenue)
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double")
          .as("promo_revenue"),
        sum(revenue).cast("double").as("total_revenue"),
        count(lit(1)).as("n_items"))
      .select(col("promo_revenue"), col("total_revenue"), col("n_items"),
        round(col("promo_revenue") / col("total_revenue"), 6).as("promo_share"))
  }

  /** Small-quantity revenue (TPC-H Q17 shape): lineitems below 20% of
    * their part's average quantity, for one brand — the CORRELATED SCALAR
    * SUBQUERY pattern. Decorrelated Spark-first: instead of the classic
    * self-join against a per-part aggregate (two scans of the filtered
    * fact), the per-part average rides a WINDOW over the single
    * brand-filtered scan — the broadcast part filter prunes first, so the
    * window partitions are per-part row groups, tiny at any corpus size.
    * The threshold test is INTEGER-exact (5·qty·n < Σqty ⟺ qty < 0.2·avg;
    * quantities are integral) — no float boundary to disagree across
    * engines. */
  def q17SmallQuantity(lineitem: DataFrame, part: DataFrame,
      brand: String = "Brand#4"): DataFrame = {
    val brandParts = part.filter(col("p_brand") === brand).select("p_partkey")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
    lineitem
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        dec(col("l_extendedprice")).as("price"))
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .withColumn("sum_qty", sum(col("qty")).over(w))
      .withColumn("n_li", count(lit(1)).over(w))
      .filter(col("qty") * 5 * col("n_li") < col("sum_qty"))
      .agg(round(sum(col("price")).cast("double") / 7.0, 6).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  /** Semi/anti join shapes (EXISTS / NOT EXISTS): customers with at least
    * one urgent order vs customers with none — both flags from ONE pass.
    * A semi-join + anti-join union reads customer and orders twice; a
    * left join against the DISTINCT urgent custkeys keeps exactly one row
    * per customer (no multiplication — the build side is key-unique by
    * construction) and the match-null IS the flag. One scan of each
    * table, one distinct shuffle, one join. */
  def existsShapes(customer: DataFrame, orders: DataFrame): DataFrame = {
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey").distinct()
    customer
      .join(urgent, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("o_custkey").isNotNull.as("has_urgent"))
      .orderBy(col("c_custkey"))
  }

  /** Pivot: per market segment, one count column per order status —
    * groupBy+pivot with explicit values compiles to a single conditional
    * aggregation pass (no per-status scans). */
  def pivotStatusCounts(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0L)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy(col("c_mktsegment"))

  /** Hierarchical subtotals: ROLLUP(status, priority) — grouping-sets
    * machinery (Expand + single aggregate pass, no repeated scans). */
  def rollupRevenue(orders: DataFrame): DataFrame =
    orders
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n_orders"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** Explicit GROUPING SETS — the general form rollup/cube specialize:
    * per-status totals, per-priority totals, and the grand total in ONE
    * aggregate pass (Expand, never repeated scans), with explicit
    * grouping flags so consumers can tell a subtotal NULL from a data
    * NULL. Flags are composed from `grouping()` per column (portable bit
    * order — engines disagree on packed grouping-id conventions). */
  def groupingSetsRevenue(orders: DataFrame): DataFrame =
    orders
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n_orders"),
        (grouping(col("o_orderstatus")) * 2 +
          grouping(col("o_orderpriority"))).as("gid"))
      .orderBy(col("gid"), asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))

  /** Full cross-dimensional subtotals: CUBE(status, priority). */
  def cubeRevenue(orders: DataFrame): DataFrame =
    orders
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n_orders"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** Returned-item revenue per customer (TPC-H Q10 shape): three-way join
    * with a selective fact filter, top-20 customers by lost revenue.
    * Nation broadcasts; the order/lineitem join is the big shuffle; top-k
    * is TakeOrderedAndProject. */
  def q10Returned(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      nation: DataFrame): DataFrame = {
    val li = lineitem.filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"), 4)))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Large-volume orders (TPC-H Q18 shape): the HAVING-over-join pattern —
    * per-order quantity totals filtered to the heavy tail, joined back to
    * the order header. Quantities are integral, so the threshold test is
    * LONG-exact; the filtered aggregate is tiny, so the join back to
    * orders broadcasts under AQE. */
  def q18BigOrders(orders: DataFrame, lineitem: DataFrame,
      minQty: Long = 250): DataFrame = {
    val big = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    orders.select("o_orderkey", "o_custkey", "o_totalprice")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  /** FULL OUTER join shape: per-nation counts of BUILDING-segment
    * customers vs negative-balance suppliers — each side an aggregate, the
    * outer join preserving nations present on only one side, coalesced to
    * zero. Both inputs are group-count aggregates (nation-cardinality), so
    * the join is trivially broadcastable at any corpus size. */
  def nationActivityFull(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val custs = customer.filter(col("c_mktsegment") === "BUILDING")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val supps = supplier.filter(col("s_acctbal") < 0)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    custs.join(supps, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  /** Percent-of-total (ratio-to-report): each nation's share of global
    * revenue — a grouped aggregate plus an unpartitioned window sum over
    * the RESULT rows (nation-cardinality, so the single-task window is
    * free; the corpus never sees it). Shares divide two exact DECIMAL
    * sums as doubles, so engines agree to the last bit before the 6-dp
    * round. */
  def revenueShare(orders: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("o_totalprice"))).as("rev_dec"))
      .withColumn("share", round(
        col("rev_dec").cast("double") /
          sum(col("rev_dec")).over(w).cast("double"), 6))
      .select(col("n_name"), col("rev_dec").cast("double").as("revenue"),
        col("share"))
      .orderBy(col("n_name"))
  }

  /** Set-operation shapes (INTERSECT / EXCEPT): long English documents vs
    * all English documents, tagged in one result. Both compile to
    * aggregate-based set ops (hash semi/anti under the hood), never
    * row-by-row driver logic. */
  def docSetOps(documents: DataFrame): DataFrame = {
    val en = documents.filter(col("lang") === "en").select("doc_id")
    val long = documents.filter(col("n_chars") > 500).select("doc_id")
    en.intersect(long).withColumn("tag", lit("long_en"))
      .union(en.except(long).withColumn("tag", lit("short_en")))
      .select(col("tag"), col("doc_id"))
      .orderBy(col("tag"), col("doc_id"))
  }

  /** Distribution-ranking window functions: quartile band, percent rank
    * and cumulative distribution of each order's price within its status
    * group. The oracle states them as ntile/percent_rank/cume_dist over
    * a status-partitioned window — but a handful of statuses means each
    * window task holds a data-sized group at 100 TB, so this side
    * derives the identical values from [[Ranks.withRankStats]]'
    * cell-partitioned closed form: the (price, o_orderkey) ordering is
    * TOTAL (no ties), hence rank = row_number, percent_rank =
    * (r−1)/(n−1) (0 for the singleton group, Spark's convention) and
    * cume_dist = r/n — the exact IEEE divisions both engines perform on
    * the same integers. ntile's front-loaded tie-splitting comes from
    * [[Ranks.ntileFromRank]]. */
  def rankBands(orders: DataFrame): DataFrame =
    graft.operators.Ranks.withRankStats(
      orders.select("o_orderkey", "o_orderstatus", "o_totalprice"),
      Seq("o_orderstatus"), col("o_totalprice"), Seq(col("o_orderkey")),
      "r", "n")
      .select(col("o_orderkey"), col("o_orderstatus"),
        graft.operators.Ranks.ntileFromRank("r", "n", 4).as("quartile"),
        round(when(col("n") > 1,
          (col("r") - 1).cast("double") / (col("n") - 1).cast("double"))
          .otherwise(0.0), 6).as("pct_rank"),
        round(col("r").cast("double") / col("n").cast("double"), 6)
          .as("cume"))
      .orderBy(col("o_orderkey"))

  /** Customer lifetime-value deciles — the revenue-concentration report
    * every commerce dashboard prints ("the top decile carries X% of
    * revenue"): per-customer total order spend, cut into `k`
    * equal-population buckets, each reporting its customer count, exact
    * BIGINT-cents spend mass and spend range. The oracle states
    * ntile(k) over (spend, custkey); this side derives the identical
    * buckets from [[Ranks.withNtileBucket]]'s cell-partitioned closed
    * form (integer cents bin faithfully, so the tie-skew subdivision
    * applies when the spend domain is narrow), so a 10⁹-customer grid
    * never plans a single-task sort. One customer-keyed aggregate, then
    * decile-cardinality rollup. Money crosses the output boundary as
    * BIGINT cents — the repo's determinism ladder: the per-customer sum
    * runs in DECIMAL (exact, combine-order-independent) and the ×100
    * cast is lossless at scale 2, while a raw DECIMAL output column
    * renders engine-dependently at the oracle hash boundary (the
    * round-7 red row). */
  def customerValueDeciles(orders: DataFrame, k: Int = 10): DataFrame = {
    val spend = orders.groupBy(col("o_custkey"))
      .agg((sum(dec(col("o_totalprice"))) * 100).cast("long")
        .as("spend_cents"))
    graft.operators.Ranks.withNtileBucket(spend, k, col("spend_cents"),
      Seq(col("o_custkey")), "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend_cents")).as("decile_spend_cents"),
        min(col("spend_cents")).as("min_spend_cents"),
        max(col("spend_cents")).as("max_spend_cents"))
      .orderBy(col("decile"))
  }

  /** Order-priority check (TPC-H Q4 shape): orders in one quarter with at
    * least one late-shipping lineitem — the EXISTS-with-correlated-
    * predicate pattern. Spark plans the correlated `l_shipdate >
    * o_orderdate` conjunct as the non-equi residual of a LEFT SEMI join on
    * the order key: one pass over each table, no row multiplication, and
    * the quarter filter prunes the probe side at the scan. (The synthetic
    * schema has no commit/receipt dates; shipped-after-ordering is the
    * same correlated-inequality shape.) */
  def q4PriorityCounts(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .filter(col("o_orderdate") >= lit(Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("o_orderdate") < lit(Timestamp.valueOf("1997-04-01 00:00:00")))
      .join(lineitem.select("l_orderkey", "l_shipdate"),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  /** Revenue-change forecast (TPC-H Q6 shape): single-table multi-predicate
    * scan→aggregate. All three range predicates (date, discount band,
    * quantity cap) push to the parquet scan — row groups outside the year
    * never decompress — and the aggregate is a map-side partial over ONE
    * column pair. The cheapest query in the suite by design; its job in
    * the inventory is proving the pushdown path stays intact. */
  def q6Forecast(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(Timestamp.valueOf("1998-01-01 00:00:00")) &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
        col("l_quantity") < 10)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount"), 4))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** Cross-nation shipping volume (TPC-H Q7 shape): supplier nation vs
    * customer nation, both directions of one nation pair, by ship year.
    * The 25-row nation dim joins twice under two aliases — both broadcast,
    * pre-filtered to the pair so non-matching fact rows die at the join,
    * and the direction predicate is the only residual. One big shuffle
    * (lineitem⋈orders); everything else rides it. */
  def q7NationVolume(nation: DataFrame, customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, supplier: DataFrame,
      nationA: String = "NATION_1", nationB: String = "NATION_2"): DataFrame = {
    val pair = Seq(nationA, nationB)
    val suppNat = broadcast(nation.filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
    val custNat = broadcast(nation.filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation")))
    lineitem
      .filter(col("l_shipdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(Timestamp.valueOf("1998-01-01 00:00:00")))
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(suppNat, col("s_nationkey") === col("sn_key"))
      .join(custNat, col("c_nationkey") === col("cn_key"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"), 4)))
        .cast("double").as("volume"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** Customer order-count distribution (TPC-H Q13 shape): LEFT OUTER join
    * so zero-order customers survive with count 0, then a second aggregate
    * over the counts — the histogram-of-group-sizes pattern. `count(col)`
    * (null-skipping) does the outer-join bookkeeping; both shuffles carry
    * only keys and counts. */
  def q13CustDist(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.select("c_custkey")
      .join(orders.filter(col("o_orderpriority") =!= "1-URGENT")
          .select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Disjunctive-predicate join (TPC-H Q19 shape): an OR of three
    * brand/size/quantity conjunct groups over lineitem⋈part. Catalyst
    * factors the part-only and lineitem-only implications of the
    * disjunction below the join (constraint propagation), so both scans
    * prune before rows meet; the full OR stays as the join residual. */
  def q19Disjunctive(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val qty = col("l_quantity")
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        qty >= 1 && qty <= 11) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(16, 30) &&
        qty >= 10 && qty <= 20) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(31, 50) &&
        qty >= 20 && qty <= 30)
    lineitem
      .join(part, col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"), 4)))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Idle rich customers (TPC-H Q22 shape): customers above the positive-
    * balance average with NO orders — a scalar aggregate subquery plus an
    * anti join. The average is decorrelated to a 1-row aggregate broadcast
    * back over the scan (never a per-row subquery), and the above-average
    * test is DECIMAL-exact (`bal·n > Σbal` — no float mean to disagree
    * across engines). The anti join probes orders once. */
  def q22IdleRich(customer: DataFrame, orders: DataFrame): DataFrame = {
    val posAvg = customer.filter(col("c_acctbal") > 0)
      .agg(sum(dec(col("c_acctbal"))).as("bal_sum"), count(lit(1)).as("bal_n"))
    customer
      .crossJoin(broadcast(posAvg))
      .filter(dec(col("c_acctbal")) * col("bal_n") > col("bal_sum"))
      .join(orders.select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"),
        sum(dec(col("c_acctbal"))).cast("double").as("total_bal"))
      .orderBy(col("c_nationkey"))
  }

  /** Top-revenue supplier (TPC-H Q15 shape) — the MAX-OF-AGGREGATE
    * pattern: an aggregate (revenue per supplier) filtered by equality
    * against a scalar aggregate OF ITSELF (the max). Decorrelated to one
    * revenue aggregate + a window max over its own rows — the revenue
    * table computes ONCE, not once per row. Revenue is DECIMAL-exact, so
    * the equality cannot miss by a ulp on either engine (a float
    * formulation of this query is wrong on any engine pair). Ties all
    * surface (no arbitrary pick). */
  def q15TopSupplier(supplier: DataFrame, lineitem: DataFrame): DataFrame = {
    // the max rides an unpartitioned window over the GROUP rows
    // (supplier cardinality — free, like revenue_share): a second
    // reference to the aggregate would recompute the fact scan
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    lineitem
      .filter(col("l_shipdate") >= lit(Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(Timestamp.valueOf("1997-04-01 00:00:00")))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"), 4)))
        .as("rev_dec"))
      .withColumn("max_rev", max(col("rev_dec")).over(w))
      .filter(col("rev_dec") === col("max_rev"))
      .join(supplier.select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** Important-group filter (TPC-H Q11 shape): groups whose aggregate
    * exceeds a FRACTION OF THE GLOBAL aggregate — HAVING against a
    * scalar subquery over the same fact. One grouped aggregate, its
    * grand total a window sum over the GROUP ROWS (never a second fact
    * scan). The threshold test multiplies
    * through to DECIMAL-exact integer form (rev·25 > total) — no float
    * fraction to disagree across engines. */
  def q11ImportantNations(customer: DataFrame, orders: DataFrame,
      nation: DataFrame, fraction: Int = 25): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    orders
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("o_totalprice"))).as("rev_dec"))
      .withColumn("total_dec", sum(col("rev_dec")).over(w))
      .filter(col("rev_dec") * fraction > col("total_dec"))
      .select(col("n_name"), col("rev_dec").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Waiting-supplier analysis (TPC-H Q21 shape) — the double-correlated
    * EXISTS / NOT EXISTS pattern, the hardest join shape in the TPC-H
    * suite: suppliers whose lineitem in a MULTI-supplier order shipped
    * late (> 60 days after ordering; the synthetic schema's proxy for
    * receipt-past-commit) while EVERY other supplier in that order was on
    * time. Rather than the literal two correlated subqueries (two extra
    * probes of lineitem), both conditions decorrelate into per-order
    * window counts: n distinct suppliers ≥ 2 ∧ exactly 1 distinct late
    * supplier — which, for a late row, can only be its own supplier. The
    * DuckDB oracle keeps the textbook EXISTS form, so the hash match
    * proves the decorrelation, not just the arithmetic. */
  def q21LateSuppliers(supplier: DataFrame, orders: DataFrame,
      lineitem: DataFrame, lateDays: Int = 60, k: Int = 20): DataFrame = {
    // per-order distinct-supplier counts ride a WINDOW over the same
    // orderkey shuffle the join produced (count-distinct isn't a window
    // function; size∘collect_set is, and per-order supplier sets are
    // bounded by order size at any corpus scale) — one lineitem scan,
    // not a re-aggregated self-join
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))
    lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      .withColumn("n_supps", size(collect_set(col("l_suppkey")).over(w)))
      .withColumn("n_late_supps",
        size(collect_set(when(col("late"), col("l_suppkey"))).over(w)))
      .filter(col("late") && col("n_supps") >= 2 && col("n_late_supps") === 1)
      .select("l_orderkey", "l_suppkey").distinct()
      .join(supplier.select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(k)
  }

  /** SCD-endpoints pattern: each customer's first and last order price
    * in date order and the drift between them. The oracle keeps the
    * window form (first_value/last_value over an explicit UNBOUNDED
    * PRECEDING..UNBOUNDED FOLLOWING frame + DISTINCT); here it is a
    * sort-free hash aggregate — min_by/max_by over the
    * (o_orderdate, o_orderkey) struct pick the endpoint prices with a
    * partial→final aggregate, no per-customer window buffering and no
    * distinct pass (same refactor as MarketStats.ohlcBars). Date ties
    * break by order key so both endpoints are deterministic; the drift
    * subtraction is DECIMAL-exact. One shuffle on o_custkey; partial
    * aggregation makes it skew-immune at 100 TB. */
  def customerPriceDrift(orders: DataFrame): DataFrame = {
    val ord = struct(col("o_orderdate"), col("o_orderkey"))
    orders
      .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
      .groupBy(col("o_custkey"))
      .agg(
        min_by(col("o_totalprice"), ord).as("first_price"),
        max_by(col("o_totalprice"), ord).as("last_price"),
        count(lit(1)).as("n_orders"))
      .select(col("o_custkey"), col("first_price"), col("last_price"),
        (dec(col("last_price")) - dec(col("first_price")))
          .cast("double").as("drift"),
        col("n_orders"))
      .orderBy(col("o_custkey"))
  }

  /** Analytic window function: top-2 orders per customer by price
    * (row_number over partitioned sort — single shuffle on the partition
    * key, no join back). */
  def windowTopOrders(orders: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Min-cost supplier per part (TPC-H Q2 shape, adapted: the corpus has
    * no partsupp relation, so lineitem is the supply relation and a
    * (part, supplier) pair's cost is its cheapest shipment price —
    * DECIMAL-exact, no unit-price division). The correlated scalar min
    * subquery decorrelates as a per-part window min over the PAIR rows
    * (the q15/q17 pattern: never a second aggregate reference — that
    * would rescan the fact). Region/nation broadcast; the filtered part
    * side is selective and left to AQE's size stats. Two shuffles total:
    * pair aggregate, then the per-part window on the (already driver-small)
    * group rows. Sort key (acctbal desc, n_name, s_name, p_partkey) is a
    * total order over the surviving (part, supplier) pairs. */
  def q2MinCostSupplier(region: DataFrame, nation: DataFrame,
      supplier: DataFrame, part: DataFrame, lineitem: DataFrame,
      rName: String = "EUROPE", pType: String = "STANDARD",
      size: Int = 5, k: Int = 100): DataFrame = {
    val regional = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === rName)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val prt = part.filter(col("p_type") === pType && col("p_size") === size)
      .select("p_partkey", "p_name")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("p_partkey"))
    lineitem.select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(prt, col("l_partkey") === col("p_partkey"))
      .join(regional, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("s_acctbal"), col("n_name"))
      .agg(min(dec(col("l_extendedprice"))).as("cost_dec"))
      .withColumn("best_dec", min(col("cost_dec")).over(w))
      .filter(col("cost_dec") === col("best_dec"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"),
        col("cost_dec").cast("double").as("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(k)
  }

  /** National market share (TPC-H Q8 shape — fully expressible here): a
    * nation's share of regional revenue for one part type, by order year.
    * Eight-way join: the customer side walks to region (broadcast nation +
    * region, dual nation alias for the supplier side), part is a selective
    * filter, and the share is a conditional aggregate. Both volume sums
    * are DECIMAL-exact and cast to double only at the end; the share then
    * divides two bit-identical doubles — one IEEE op, deterministic across
    * engines (the q14 pattern). */
  def q8MarketShare(region: DataFrame, nation: DataFrame, customer: DataFrame,
      orders: DataFrame, lineitem: DataFrame, supplier: DataFrame,
      part: DataFrame, rName: String = "ASIA", suppNation: String = "NATION_5",
      pType: String = "ECONOMY"): DataFrame = {
    val vol = dec(col("l_extendedprice")) * (one - dec(col("l_discount"), 4))
    val custNation = broadcast(nation
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey")))
    val suppNat = broadcast(nation
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
    lineitem
      .join(orders.filter(
          col("o_orderdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("o_orderdate") < lit(Timestamp.valueOf("1998-01-01 00:00:00")))
          .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(custNation, col("c_nationkey") === col("cn_key"))
      .join(broadcast(region.filter(col("r_name") === rName)),
        col("n_regionkey") === col("r_regionkey"))
      .join(part.filter(col("p_type") === pType).select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .join(supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(suppNat, col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === suppNation, vol)
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double")
          .as("nation_volume"),
        sum(vol).cast("double").as("total_volume"))
      .select(col("o_year"), col("nation_volume"), col("total_volume"),
        round(col("nation_volume") / col("total_volume"), 6).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** Product-line profit by supplier nation and year (TPC-H Q9 shape,
    * adapted: no ps_supplycost in the corpus, so the cost term is the
    * part's retail price × quantity — same join graph, same LIKE-filtered
    * part side, same (nation, year) rollup). Decimal widths are picked so
    * the cost product's width exceeds 18 (a ≤18-digit decimal is
    * int64-backed in DuckDB and its product overflows the precision cap
    * even when the value fits — repo rule) while the subtraction stays
    * under DuckDB's 38-digit ceiling: DECIMAL(12,2) × DECIMAL(7,0) →
    * width-19 product, width-22 difference. */
  def q9ProfitShape(nation: DataFrame, supplier: DataFrame,
      lineitem: DataFrame, part: DataFrame, orders: DataFrame,
      namePattern: String = "%widget%"): DataFrame = {
    val amount = dec(col("l_extendedprice")) * (one - dec(col("l_discount"), 4)) -
      dec(col("p_retailprice"), 12) * col("l_quantity").cast(DecimalType(7, 0))
    lineitem
      .join(part.filter(col("p_name").like(namePattern))
          .select("p_partkey", "p_retailprice"),
        col("l_partkey") === col("p_partkey"))
      .join(supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(amount).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Shipping-delay priority counts (TPC-H Q12 shape, adapted: the corpus
    * has no l_shipmode/commitdate/receiptdate, so the category is the
    * order→ship delay bucket — negative delays exist in the synthetic
    * data and get their own bucket). Integer day arithmetic on DATE in
    * both engines; one fact join, conditional counts per bucket. */
  def q12ShipDelay(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val delay = datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
    val bucket = when(delay < 0, "EARLY")
      .when(delay <= 30, "QUICK")
      .when(delay <= 90, "NORMAL")
      .otherwise("SLOW")
    lineitem
      .filter(col("l_shipdate") >= lit(Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(Timestamp.valueOf("1998-01-01 00:00:00")))
      .select("l_orderkey", "l_shipdate")
      .join(orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(bucket.as("delay_bucket"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("delay_bucket"))
  }

  /** Supplier diversity per part attribute (TPC-H Q16 shape, adapted: the
    * corpus links parts to suppliers through lineitem, and the excluded
    * set — the reference's complaint filter — is suppliers in arrears,
    * s_acctbal < 0). count(DISTINCT) per group over an anti-joined bridge:
    * the NOT IN side is driver-small and broadcasts as an anti join. */
  def q16SupplierCnt(supplier: DataFrame, part: DataFrame,
      lineitem: DataFrame, brandNot: String = "Brand#4",
      sizes: Seq[Int] = Seq(1, 5, 9, 13, 17, 21, 25, 29)): DataFrame = {
    val excluded = supplier.filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("ex_suppkey"))
    lineitem.select("l_partkey", "l_suppkey")
      .join(part.filter(col("p_brand") =!= brandNot &&
          col("p_size").isin(sizes.map(Integer.valueOf): _*))
          .select("p_partkey", "p_type", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .join(excluded, col("l_suppkey") === col("ex_suppkey"), "left_anti")
      .groupBy(col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_type"), col("p_size"))
  }

  /** Bulk-shipper semi-join chain (TPC-H Q20 shape, adapted: partsupp
    * availability becomes shipped-quantity-over-threshold). The nested
    * IN-subqueries plan as semi joins end to end: lineitem semi-joins the
    * LIKE-filtered part keys, aggregates per supplier with a HAVING
    * threshold, and supplier semi-joins the surviving keys — the fact is
    * scanned once and only key columns shuffle. */
  def q20BulkShippers(supplier: DataFrame, nation: DataFrame,
      part: DataFrame, lineitem: DataFrame, namePattern: String = "%bolt%",
      minQty: Long = 400L): DataFrame = {
    val boltKeys = part.filter(col("p_name").like(namePattern))
      .select("p_partkey")
    val bulk = lineitem
      .filter(col("l_shipdate") >= lit(Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(Timestamp.valueOf("1998-01-01 00:00:00")))
      .join(boltKeys, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("bolt_qty"))
      .filter(col("bolt_qty") > minQty)
      .select("l_suppkey")
    supplier
      .join(bulk, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }

  /** Wide→long UNPIVOT (melt): lineitem's four money/measure columns as
    * (metric, amount) rows, re-aggregated per return flag — the inverse
    * of [[pivot_status_counts]]'s long→wide and the reshape every
    * metrics-export pipeline needs. Spark's native `unpivot` is a
    * zero-shuffle Expand (4× row fan-out map-side, columnar input read
    * ONCE — not 4 self-unioned scans); the only shuffle is the final
    * (flag, metric) aggregate on 12 keys. DECIMAL sums, cast once. */
  def unpivotLineitemMetrics(lineitem: DataFrame): DataFrame = {
    val d = DecimalType(18, 2)
    lineitem
      .select(col("l_returnflag"),
        col("l_quantity").cast(d).as("quantity"),
        col("l_extendedprice").cast(d).as("extendedprice"),
        col("l_discount").cast(d).as("discount"),
        col("l_tax").cast(d).as("tax"))
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("quantity"), col("extendedprice"),
          col("discount"), col("tax")),
        variableColumnName = "metric",
        valueColumnName = "amount")
      .groupBy(col("l_returnflag"), col("metric"))
      .agg(sum(col("amount")).cast("double").as("total"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("metric"))
  }

  /** Order-fulfillment BACKLOG curve — per day: orders opened, orders
    * fully shipped, and the running count of open orders (the
    * operations read: how deep is the unshipped book and is it
    * draining). An order is open from its o_orderdate through the day
    * its LAST line ships (inclusive) — the [[graft.operators.EventsOps
    * .maxConcurrency]] sweep on the order-interval relation: +1 at
    * open, −1 at close+1, deltas collapsed per integer epoch-day
    * BEFORE the cumsum so tie order can't matter. The one data-sized
    * shuffle is the per-order max-shipdate aggregate; the running sum
    * rides the DATE-cardinality delta relation (calendar-bounded at any
    * corpus size — the dayTotals convention). Days with no activity
    * emit no row (backlog is constant across the gap). */
  def orderBacklog(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    // dates ship as TIMESTAMP_NTZ; DATE truncation + unix_date reads the
    // wall-clock day directly — TZ-INDEPENDENT epoch days (the previous
    // CAST-to-TIMESTAMP route interpreted the NTZ value in the session
    // zone and only matched the oracle under a UTC session)
    val iv = orders
      .select(col("o_orderkey"),
        expr("CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)")
          .as("od"))
      .join(lineitem.groupBy(col("l_orderkey"))
          .agg(max(expr(
            "CAST(unix_date(CAST(l_shipdate AS DATE)) AS BIGINT)"))
            .as("cd")),
        col("o_orderkey") === col("l_orderkey"))
    val g = iv
      .select(col("od").as("day"), lit(1L).as("net"), lit(1L).as("op"),
        lit(0L).as("cl"))
      .union(iv.select((col("cd") + 1).as("day"), lit(-1L).as("net"),
        lit(0L).as("op"), lit(0L).as("cl")))
      .union(iv.select(col("cd").as("day"), lit(0L).as("net"),
        lit(0L).as("op"), lit(1L).as("cl")))
      .groupBy(col("day"))
      .agg(sum(col("net")).cast("long").as("net"),
        sum(col("op")).cast("long").as("n_opened"),
        sum(col("cl")).cast("long").as("n_closed"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    g.select(col("day"), col("n_opened"), col("n_closed"),
        sum(col("net")).over(w).cast("long").as("backlog"))
      .orderBy(col("day"))
  }

  /** Market-basket 2-itemset mining over the order lines — the
    * canonical co-purchase read (apriori's frequent-pair stage): for
    * every unordered part pair appearing in the same order, its support
    * count and LIFT n·c_ab/(c_a·c_b), cut at `minSupport` and top-`k`
    * by (support desc, a, b). Lift is the exact integer micro floor
    * c_ab·n·10⁶ div (c_a·c_b) — all counts, no float ratio (the
    * type_pair_lift convention on the purchase basket).
    *
    * Shape: the pair join is ORDER-LOCAL (self-join on l_orderkey over
    * per-order DISTINCT parts, a < b), so fanout is bounded by
    * lines-per-order² — a basket constant, never corpus-quadratic; the
    * per-part counts broadcast back onto the pair census; the cut is
    * TakeOrderedAndProject. */
  def basketPairs(lineitem: DataFrame, minSupport: Long = 5L,
      k: Int = 50): DataFrame = {
    // ONE basket-keyed aggregate replaces the r14 (orderkey, partkey)
    // distinct + items⋈items self-join: collect_set dedups parts per
    // order, basket count / per-part counts / pair counts all derive
    // from the member arrays, and the pair set explodes map-side from
    // the sorted array (baskets are ≤ 7 parts, so the explode is
    // bounded) — the orderkey never crosses an exchange again. Same
    // pair/count relations, so the oracle is unchanged.
    val baskets = lineitem
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    // basket count as a broadcast 1-row aggregate (the scalar-subquery
    // convention) — no driver action at construction. The lift ratio
    // widens through DECIMAL(38,0) (the typePairLift convention): a raw
    // BIGINT numerator would WRAP silently in non-ANSI Spark past
    // ~10⁶-order baskets while DuckDB raises — the engines must instead
    // agree exactly at any count.
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val partCounts = baskets
      .select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).cast("long").as("c"))
    val pairs = baskets
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |    y -> struct(x AS part_a, y AS part_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .agg(count(lit(1)).cast("long").as("c_ab"))
      .filter(col("c_ab") >= minSupport)
    pairs
      .join(partCounts.select(col("l_partkey").as("part_a"),
        col("c").as("c_a")), "part_a")
      .join(partCounts.select(col("l_partkey").as("part_b"),
        col("c").as("c_b")), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("c_ab"), col("c_a"),
        col("c_b"),
        expr("CAST(CAST(c_ab AS DECIMAL(38,0)) * n_orders * 1000000 div " +
          "(CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)")
          .as("lift_micro"))
      .orderBy(col("c_ab").desc, col("part_a"), col("part_b")).limit(k)
  }

  /** Referential-integrity audit — orphan counts for every FK edge of
    * the star: the load-time invariant a 100 TB ingest, backfill, or
    * engine migration checks before anything downstream trusts a join
    * (an orphaned l_orderkey silently DROPS revenue from every inner
    * join that follows — the failure is invisible exactly where it
    * matters). The row-content companion is the XOR
    * [[TextAnalysis.integrityChecksum]]; this is the cross-TABLE half.
    *
    * A NULL child key counts as an orphan (it references nothing).
    * Each edge is one left-anti join + two exact counts; parents join
    * by their key, so size-based planning broadcasts the dimension
    * sides and shuffles the fact-fact edge (lineitem→orders) — the
    * right physical split at any scale. Output is one row per FK edge,
    * fixed at 7 rows. */
  def fkOrphans(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame, part: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    // ONE scan per child table (guide §3.1 + §6): a child carrying
    // several fk edges (lineitem: 3) resolves them all through CHAINED
    // BROADCAST LEFT JOINS against the distinct parent key sets — the
    // child is scanned once and never shuffled (the old per-edge shape
    // at least kept the broadcast; this keeps it AND drops the repeat
    // scans). One global aggregate then counts every edge's orphans at
    // once and the per-edge rows unfold map-side. NULL child keys never
    // equi-match, so they count as orphans — identical to the per-edge
    // anti-join semantics (spec-pinned by EventsAnalyticsSpec).
    def group(child: DataFrame,
        edges: Seq[(String, String, DataFrame, String)]): DataFrame = {
      val cur = Profiling.fkJoinSpine(child, edges)
      val aggs = count(lit(1)).as("n_child") +:
        edges.zipWithIndex.map { case (_, i) =>
          sum(when(col(s"__p$i").isNull, 1L).otherwise(0L))
            .cast("long").as(s"__o$i")
        }
      cur.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(edges.zipWithIndex.map { case ((name, _, _, _), i) =>
            struct(lit(name).as("fk"), col(s"__o$i").as("n_orphans"))
          }: _*)).as("e"), col("n_child"))
        .select(col("e.fk").as("fk"), col("n_child"),
          col("e.n_orphans").as("n_orphans"))
    }
    group(customer,
        Seq(("customer.nation", "c_nationkey", nation, "n_nationkey")))
      .unionByName(group(lineitem, Seq(
        ("lineitem.order", "l_orderkey", orders, "o_orderkey"),
        ("lineitem.part", "l_partkey", part, "p_partkey"),
        ("lineitem.supplier", "l_suppkey", supplier, "s_suppkey"))))
      .unionByName(group(nation,
        Seq(("nation.region", "n_regionkey", region, "r_regionkey"))))
      .unionByName(group(orders,
        Seq(("orders.customer", "o_custkey", customer, "c_custkey"))))
      .unionByName(group(supplier,
        Seq(("supplier.nation", "s_nationkey", nation, "n_nationkey"))))
      .orderBy(col("fk"))
  }
}
