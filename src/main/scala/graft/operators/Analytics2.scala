package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SafeRound.round

import graft.Tables

/** Second analytics wave: the TPC-H patterns round 1 didn't cover —
  * two-sided nation joins (Q7), correlated-subquery decorrelation
  * (Q17/Q22 shape), semi-join EXISTS (Q4), outer-join distributions
  * (Q13), CUBE grouping sets, distinct aggregates (Q16), and
  * window-over-aggregate (YoY growth).
  *
  * Scale notes (100 TB):
  *  - correlated subqueries are DECORRELATED into aggregate+join — the
  *    only plan shape that distributes (per-row subquery execution does
  *    not); the per-key aggregate is partial-agg friendly and the join
  *    shuffles both sides on the correlation key once.
  *  - EXISTS becomes a left-semi join: Spark stops probing a key after
  *    the first match and never materializes the right payload.
  *  - Q13's left outer join keeps the fact side un-exploded (orders
  *    aggregated per customer AFTER the join; count(col) skips nulls).
  *  - distinct aggregation (Q16) plans as a two-phase partial
  *    distinct: dedup on (group, value) locally before the exchange.
  *  - the threshold in q17 filters on an EXACT value: l_quantity is
  *    integral so sum/avg are exact doubles in any accumulation order —
  *    no cross-engine float drift at the comparison boundary.
  */
object Analytics2 {

  /** Q7-style volume shipping: revenue flowing between the
    * TOP-TRAFFIC nation pair (supplier side ↔ customer side), by year
    * and direction. The pair is RELATIVE (SURVEY §5): TPC-H Q7 names
    * two fixed nations, but on generated data a hard-coded pair can
    * have zero bilateral flow at a small SF (it did at sf0.001 —
    * a vacuous 0=0 oracle match), so the query selects the unordered
    * pair with the most lineitems instead. Selection runs on the
    * ANSWER-SIZED aggregate (≤ nations² × years rows) and uses only
    * integer counts with a lexical tie-break, so both engines pick the
    * same pair with no float drift in the decision; the revenue
    * rounding contract is unchanged. One pass over lineitem either
    * way — the pair filter used to cut the agg input, but the agg is
    * map-side partial over a dictionary-sized group space, so
    * aggregating all pairs first costs the same shuffle. */
  def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
    // referenced twice below (pair selection + final join): persisted
    // so the 5-way lineitem join runs ONCE per execution — without
    // this the physical plan duplicates the whole aggregate subtree.
    // Dictionary-sized (≤ nations² × years rows), so the cache is
    // bytes. An Artifacts frame (not a bare .cache()): it is released
    // when its entry leaves the cache — clear, LRU trim, a rewritten
    // corpus or a stopped session — so a service iterating many corpus
    // dirs can't pin one InMemoryRelation per dir for the session
    // lifetime.
    val agg = graft.functions.Artifacts.frame(s, "q7agg", dir) {
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("snk"))
        .join(broadcast(n2), col("c_nationkey") === col("cnk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("raw_rev"),
          count(lit(1)).as("nrows"))
    }
    val top = agg
      .groupBy(least(col("supp_nation"), col("cust_nation")).as("na"),
        greatest(col("supp_nation"), col("cust_nation")).as("nb"))
      .agg(sum(col("nrows")).as("pair_rows"))
      .orderBy(col("pair_rows").desc, col("na"), col("nb"))
      .limit(1)
    agg.join(broadcast(top),
        least(col("supp_nation"), col("cust_nation")) === col("na") &&
          greatest(col("supp_nation"), col("cust_nation")) === col("nb"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        round(col("raw_rev"), 2).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q17-style small-quantity revenue: lineitems below 20% of their
    * part's average quantity, aggregated per brand. The correlated
    * `(SELECT 0.2*avg(l_quantity) WHERE l_partkey = p_partkey)` is
    * decorrelated into a per-part aggregate joined back on partkey. */
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val cut = l.groupBy(col("l_partkey").as("pk"))
      .agg((avg(col("l_quantity")) * 0.2).as("qty_cut"))
    val p = Tables.part(s, dir).select("p_partkey", "p_brand")
    l.join(cut, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < col("qty_cut"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
      .orderBy("p_brand")
  }

  /** Correlated-subquery pattern: orders whose totalprice exceeds 1.5×
    * their customer's average order value (decorrelated via per-key
    * aggregate + equi-join; ratios compared on the ROUNDED value so
    * both engines cut at the same boundary). */
  def qCorrAboveAvg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val ca = o.groupBy(col("o_custkey").as("ck"))
      .agg(avg(col("o_totalprice")).as("cavg"))
    o.join(ca, col("o_custkey") === col("ck"))
      .withColumn("ratio", round(col("o_totalprice") / col("cavg"), 6))
      .filter(col("ratio") > 1.5)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_above"), round(max(col("ratio")), 4).as("max_ratio"))
      .orderBy("o_custkey")
  }

  /** CUBE grouping sets over (returnflag, linestatus) — all four
    * grouping combinations in one pass (ROLLUP's superset). */
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("sum_qty"), col("sum_disc_price"), col("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Explicit GROUPING SETS — the third grouping construct next to
    * ROLLUP (q1_rollup) and CUBE (q_cube): exactly the flag-only and
    * status-only marginals, no cross terms, via the SQL surface. */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem_gs")
    s.sql("""
      SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
             coalesce(l_linestatus, 'ALL') AS l_linestatus,
             round(sum(l_quantity) + 1e-9, 2) AS sum_qty,
             count(*) AS n
      FROM graft_lineitem_gs
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      ORDER BY l_returnflag, l_linestatus""")
  }

  /** Q16-style distinct supplier count per part type (two-phase
    * partial-distinct aggregation — dedup before the exchange). */
  def qSupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select("p_partkey", "p_type")
    Tables.lineitem(s, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"),
        count(lit(1)).as("n_lines"))
      .orderBy("p_type")
  }

  /** Q4-style EXISTS: orders in 1996Q3 with at least one lineitem
    * shipped more than 30 days after the order date — a left-semi
    * join, counted per priority. */
  def qOrderPriorityExists(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
    val l = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Q13-style customer order-count distribution, INCLUDING customers
    * with zero orders (left outer join; count(col) skips nulls). */
  def qCustOrderDist(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q22-style anti-join: above-average-balance customers with no
    * RECENT orders (none in the trailing 182 days of the order
    * history), counted per nation. The correlated NOT EXISTS becomes a
    * left-anti join; the scalar avg and cutoff subqueries are
    * broadcasts. Comparison runs on the ROUNDED average so both
    * engines cut identically. Both thresholds are RELATIVE (SURVEY §5):
    * the r6 absolute form ("no orders ever") was vacuously empty at
    * the small gate SFs, where every generated customer has at least
    * one order — a 0=0 oracle match that could not catch a broken
    * anti-join. The recency cutoff tracks max(o_orderdate), so the
    * result is non-empty at every SF and stays meaningful as the data
    * grows. */
  def q22LostCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg(round(avg(col("c_acctbal")), 2).as("ab"))
    val o = Tables.orders(s, dir).select("o_custkey", "o_orderdate")
    val cutoff = o.agg((max(col("o_orderdate")) - expr("INTERVAL 182 DAY")).as("cut"))
    val recent = o.crossJoin(broadcast(cutoff))
      .filter(col("o_orderdate") >= col("cut"))
      .select("o_custkey")
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("ab"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), round(sum(col("c_acctbal")), 2).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  /** Year-over-year revenue growth per supplier nation: window (lag)
    * over an aggregate; the ratio is taken on the ROUNDED revenues so
    * both engines derive growth from identical inputs. */
  def qYoyGrowth(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
    val rev = Tables.lineitem(s, dir)
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("l_year"))
    rev.withColumn("prev", lag(col("revenue"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("n_name"), col("l_year"), col("revenue"),
        round(col("revenue") / col("prev") - 1.0, 4).as("growth"))
      .orderBy("n_name", "l_year")
  }

  /** Set operations — EXCEPT and INTERSECT (both distinct-semantics):
    * browsers who never bought, and buyers who also erred. Spark plans
    * these as left-anti / left-semi over distinct inputs. */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    def users(t: String) = e.filter(col("event_type") === t).select("user_id")
    val browsersNotBuyers = users("view").except(users("purchase"))
      .select(col("user_id"), lit("view_no_purchase").as("cohort"))
    val buyersWithErrors = users("purchase").intersect(users("error"))
      .select(col("user_id"), lit("purchase_and_error").as("cohort"))
    browsersNotBuyers.union(buyersWithErrors)
      .orderBy("cohort", "user_id")
  }

  /** PIVOT: event types to columns (wide activity matrix per user
    * decile). Explicit value list keeps the output schema static —
    * the distributed-safe form (an implicit pivot needs a distinct
    * scan first). Oracle uses portable conditional aggregation. */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("user_decile", (col("user_id") % 10).cast("long"))
      .groupBy("user_decile")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .orderBy("user_decile")

  /** Approximate sketches — the 100 TB substitutes for exact distinct
    * and percentile: HLL++ approx_count_distinct and the GK-sketch
    * approx_percentile next to their exact counterparts. Sketch
    * VALUES are engine-specific (DuckDB's HLL/quantile sketches can't
    * bit-match Spark's), but the error CONTRACT is checkable: emit the
    * exact values plus within-10% flags comparing Spark's sketch
    * against Spark's own exact computation; the DuckDB oracle
    * recomputes the exact side and asserts every flag is 1. A sketch
    * drifting past its documented bound now fails the hash gate
    * instead of hiding behind a rows-only check. */
  def qApproxSketches(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        expr("percentile(value, 0.9)").as("p90_raw"),
        expr("approx_percentile(value, 0.9, 1000)").as("approx_p90"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users"))
          <= lit(0.10) * col("exact_users")).cast("long").as("users_ok"),
        round(col("p90_raw"), 4).as("exact_p90"),
        (abs(col("approx_p90") - col("p90_raw"))
          <= lit(0.10) * greatest(abs(col("p90_raw")), lit(1e-9)))
          .cast("long").as("p90_ok"))
      .orderBy("event_type")

  /** Weekly cohort retention: of the users active in week w, how many
    * are active again in week w+1. One distinct (user, week) pass,
    * then a self equi-join on (user, week+7d) — no window, no
    * cross-week shuffle beyond the join key. */
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wts"))
      .distinct()
    val nxt = uw.select(col("user_id"), col("wts").as("nwts"))
    uw.join(nxt,
        uw("user_id") === nxt("user_id") &&
          col("nwts") === col("wts") + expr("INTERVAL 7 DAYS"),
        "left_outer")
      .groupBy(date_format(col("wts"), "yyyy-MM-dd").as("week"))
      .agg(count(lit(1)).as("n_active"),
        count(col("nwts")).as("n_retained"))
      .withColumn("retention",
        round(col("n_retained").cast("double") / col("n_active"), 4))
      .orderBy("week")
  }

  /** Event funnel: view → click → purchase, ordered by each user's
    * FIRST occurrence of each stage (µs-exact). One groupBy with
    * conditional mins — a single shuffle on user_id. */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val us = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    us.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("us"))).as("v"),
        min(when(col("event_type") === "click", col("us"))).as("c"),
        min(when(col("event_type") === "purchase", col("us"))).as("p"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("c") > col("v"), 1L).otherwise(0L)).as("n_view_click"),
        sum(when(col("p") > col("c") && col("c") > col("v"), 1L).otherwise(0L)).as("n_full"))
      .withColumn("view_rate", round(col("n_view").cast("double") / col("n_users"), 4))
      .withColumn("full_rate", round(col("n_full").cast("double") / col("n_users"), 4))
  }

  /** Q10-style returned-item report: revenue lost to returns per
    * customer over one quarter, top 20 by revenue. Fact-side filters
    * (returnflag, order date) reach the scans; dims broadcast; final
    * top-20 is a TakeOrderedAndProject on the rounded value. */
  def q10Returned(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
    val c = Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("c_acctbal"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Q14-style promo effect: share of one month's revenue from PROMO
    * parts — one fact-scan month filter, part dim broadcast, a single
    * conditional aggregate (no second pass for the denominator). */
  def q14Promo(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    val p = Tables.part(s, dir).select("p_partkey", "p_type")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        round(sum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(0.0)), 2)
          .as("promo_revenue"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("total_revenue"))
      .select(
        round(col("promo_revenue") * 100.0 / col("total_revenue"), 4).as("promo_pct"),
        col("promo_revenue"), col("total_revenue"))
  }

  /** Q19-style disjunctive predicate pushdown: three OR'd
    * (brand, size-range, quantity-range) clauses — the classic test
    * that a disjunction of conjunctions still prunes at the scan
    * (partial pushdown of the common p_size bound) instead of
    * degenerating into a post-join filter. */
  def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val p = Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 50) &&
          col("l_quantity").between(20, 30)))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("p_brand")
  }

  /** Q18-style large-volume orders: orders whose total lineitem
    * quantity exceeds a threshold, with customer context — the
    * HAVING-subquery pattern planned as aggregate → filter →
    * broadcast-dim joins; top-50 via TakeOrderedAndProject. */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val qty = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      .filter(col("sum_qty") > 250.0)
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
    val c = Tables.customer(s, dir).select("c_custkey", "c_name")
    qty.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey"))
      .limit(50)
  }

  /** Statistical moments per brand: sample stddev, Pearson correlation
    * and sample covariance of (quantity, price) — the one-pass
    * co-moment aggregates (all partial-aggregable; no per-group sort
    * or second pass anywhere). */
  def qStatsMoments(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select("p_partkey", "p_brand")
    Tables.lineitem(s, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qty_disc"))
      .orderBy("p_brand")
  }

  /** Q6-style forecast revenue: single-scan conditional aggregate with
    * every predicate (year, discount band, quantity cap) pushed to the
    * parquet scan — the canonical pushdown showcase. */
  def q6Forecast(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Q8-style national market share: NATION_3 suppliers' slice of
    * ASIA-region PROMO-part revenue by order year — numerator and
    * denominator in one conditional aggregate over a single five-way
    * broadcast-dim join tree (no second pass, no self-join). */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val cn = Tables.nation(s, dir)
      .select(col("n_nationkey").as("cnk"), col("n_regionkey"))
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      .select("r_regionkey")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val sn = Tables.nation(s, dir)
      .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    val p = Tables.part(s, dir).filter(col("p_type") === "PROMO").select("p_partkey")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(cn), col("c_nationkey") === col("cnk"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("snk"))
      .withColumn("rev", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === "NATION_3", col("rev")).otherwise(0.0)) /
          sum(col("rev")), 4).as("mkt_share"),
        round(sum(col("rev")), 2).as("total_rev"))
      .orderBy("o_year")
  }

  /** Per-user value-anomaly screen: the largest |z|-score among a
    * user's event values, computed in ONE aggregate pass — max|z| =
    * max(max−μ, μ−min)/σ, all four moments from the same partial-agg
    * groupBy, so there is no join-back of per-event z-scores and no
    * second shuffle. Flags users whose extreme value sits ≥ 2.5σ out. */
  def qAnomalyZscore(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        avg(col("value")).as("mu"),
        stddev_samp(col("value")).as("sd"),
        max(col("value")).as("mx"),
        min(col("value")).as("mn"))
      .filter(col("sd") > 0)
      .select(col("user_id"), col("n_events"),
        round(greatest(col("mx") - col("mu"), col("mu") - col("mn")) / col("sd"), 4)
          .as("max_abs_z"))
      .filter(col("max_abs_z") >= 2.5)
      .orderBy("user_id")

  /** Q15-style top supplier: suppliers achieving the MAXIMUM quarterly
    * revenue (the argmax-over-aggregate pattern): per-supplier agg →
    * one broadcast scalar max → filter on the ROUNDED value in both
    * engines — no window over the full aggregate, no self-join. */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("total_rev"))
    val mx = rev.agg(max(col("total_rev")).as("max_rev"))
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_name")
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy("s_suppkey")
  }

  /** Incremental aggregate maintenance — the partial-merge pattern
    * every incremental ETL at 100 TB is built on: yesterday's state is
    * a MATERIALIZED table of mergeable partials (count, raw sum —
    * never the rounded average, which does not merge), today's delta
    * scans ONLY the new time slice (at scale: one date partition, via
    * partition pruning), and the refreshed result is a re-aggregation
    * of state ∪ delta. History is never rescanned. The oracle is the
    * full recompute — merge-equals-recompute is the correctness
    * property of the commutative-monoid partials. */
  def qIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-02-01").cast("timestamp")
    def partials(df: DataFrame): DataFrame =
      df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
    // state: aggregated once, persisted in its at-rest form (fixed
    // scratch path, overwritten per run — no temp-dir leak)
    val statePath = graft.functions.Scratch.stable("incr", dir) + "/state"
    partials(Tables.events(s, dir).filter(col("ts") < cutoff))
      .write.mode("overwrite").parquet(statePath)
    val delta = partials(Tables.events(s, dir).filter(col("ts") >= cutoff))
    s.read.parquet(statePath).unionByName(delta)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv"))
      .select(col("event_type"), col("n"),
        round(col("sv"), 2).as("sum_value"),
        round(col("sv") / col("n"), 4).as("avg_value"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_incremental_agg" -> (qIncrementalAgg _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q_anomaly_zscore" -> (qAnomalyZscore _),
    "q6_forecast" -> (q6Forecast _),
    "q8_market_share" -> (q8MarketShare _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q_stats_moments" -> (qStatsMoments _),
    "q_retention" -> (qRetention _),
    "q_funnel" -> (qFunnel _),
    "q10_returned" -> (q10Returned _),
    "q14_promo" -> (q14Promo _),
    "q19_disjunctive" -> (q19Disjunctive _),
    "q_pivot" -> (qPivot _),
    "q_set_ops" -> (qSetOps _),
    "q_approx_sketches" -> (qApproxSketches _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q17_small_qty" -> (q17SmallQty _),
    "q_corr_above_avg" -> (qCorrAboveAvg _),
    "q_cube" -> (qCube _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_supplier_cnt" -> (qSupplierCnt _),
    "q_order_priority_exists" -> (qOrderPriorityExists _),
    "q_cust_order_dist" -> (qCustOrderDist _),
    "q22_lost_customers" -> (q22LostCustomers _),
    "q_yoy_growth" -> (qYoyGrowth _))

  val oracleSql: Map[String, String] = Map(
    // sketch values are engine-specific, but the CONTRACT is not: the
    // oracle recomputes the exact side and asserts both within-10%
    // flags are 1 — a Spark sketch past its bound hash-mismatches.
    "q_approx_sketches" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  CAST(1 AS BIGINT) AS users_ok,
        |  round(1e-9 + quantile_cont(value, 0.9), 4) AS exact_p90,
        |  CAST(1 AS BIGINT) AS p90_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_incremental_agg" ->
      """SELECT event_type, count(*) AS n,
        |  round(1e-9 + sum(value), 2) AS sum_value,
        |  round(1e-9 + sum(value) / count(*), 4) AS avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1),
        |mx AS (SELECT max(total_rev) AS max_rev FROM rev)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey, mx
        |WHERE total_rev = max_rev
        |ORDER BY s_suppkey""".stripMargin,
    "q_anomaly_zscore" ->
      """WITH m AS (
        |  SELECT user_id, count(*) AS n_events, avg(value) AS mu,
        |    stddev_samp(value) AS sd, max(value) AS mx, min(value) AS mn
        |  FROM events GROUP BY 1)
        |SELECT user_id, n_events,
        |  round(1e-9 + greatest(mx - mu, mu - mn) / sd, 4) AS max_abs_z
        |FROM m WHERE sd > 0
        |  AND round(1e-9 + greatest(mx - mu, mu - mn) / sd, 4) >= 2.5
        |ORDER BY user_id""".stripMargin,
    "q6_forecast" ->
      """SELECT round(1e-9 + sum(l_extendedprice * l_discount), 2) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q8_market_share" ->
      """WITH rev AS (
        |  SELECT year(o_orderdate) AS o_year, n2.n_name AS supp_nation,
        |    l_extendedprice * (1 - l_discount) AS rev
        |  FROM lineitem
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN part ON l_partkey = p_partkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |    JOIN region ON n1.n_regionkey = r_regionkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO')
        |SELECT o_year,
        |  round(1e-9 + sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END) /
        |    sum(rev), 4) AS mkt_share,
        |  round(1e-9 + sum(rev), 2) AS total_rev
        |FROM rev GROUP BY 1 ORDER BY 1""".stripMargin,
    "q18_large_orders" ->
      """WITH qty AS (
        |  SELECT l_orderkey, round(1e-9 + sum(l_quantity), 2) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING round(1e-9 + sum(l_quantity), 2) > 250.0)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  round(1e-9 + o_totalprice, 2) AS o_totalprice, sum_qty
        |FROM qty
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey LIMIT 50""".stripMargin,
    "q_stats_moments" ->
      """SELECT p_brand, count(*) AS n,
        |  round(1e-9 + stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(1e-9 + corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(1e-9 + covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_returned" ->
      """SELECT c_custkey, c_name, round(1e-9 + c_acctbal, 2) AS c_acctbal, n_name,
        |  round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo" ->
      """WITH m AS (
        |  SELECT p_type, l_extendedprice * (1 - l_discount) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'),
        |agg AS (
        |  SELECT round(1e-9 + sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END), 2) AS promo_revenue,
        |    round(1e-9 + sum(rev), 2) AS total_revenue
        |  FROM m)
        |SELECT round(1e-9 + promo_revenue * 100.0 / total_revenue, 4) AS promo_pct,
        |  promo_revenue, total_revenue
        |FROM agg""".stripMargin,
    "q19_disjunctive" ->
      """SELECT p_brand,
        |  round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
        |       AND l_quantity BETWEEN 20 AND 30)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_set_ops" ->
      """SELECT user_id, 'view_no_purchase' AS cohort FROM (
        |  SELECT user_id FROM events WHERE event_type = 'view'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT user_id, 'purchase_and_error' AS cohort FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'error')
        |ORDER BY cohort, user_id""".stripMargin,
    "q_pivot" ->
      """SELECT user_id % 10 AS user_decile,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wts FROM events)
        |SELECT strftime(a.wts, '%Y-%m-%d') AS week,
        |  count(*) AS n_active, count(b.wts) AS n_retained,
        |  round(1e-9 + count(b.wts)::DOUBLE / count(*), 4) AS retention
        |FROM uw a LEFT JOIN uw b
        |  ON a.user_id = b.user_id AND b.wts = a.wts + INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) // 1000 END) AS v,
        |    min(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000 END) AS c,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000 END) AS p
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_view,
        |  sum(CASE WHEN c > v THEN 1 ELSE 0 END)::BIGINT AS n_view_click,
        |  sum(CASE WHEN p > c AND c > v THEN 1 ELSE 0 END)::BIGINT AS n_full,
        |  round(1e-9 + sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS view_rate,
        |  round(1e-9 + sum(CASE WHEN p > c AND c > v THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS full_rate
        |FROM f""".stripMargin,
    "q7_volume_shipping" ->
      """WITH agg AS (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year,
        |    sum(l_extendedprice * (1 - l_discount)) AS raw_rev,
        |    count(*) AS nrows
        |  FROM lineitem
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE n1.n_name <> n2.n_name
        |  GROUP BY 1, 2, 3),
        |top AS (
        |  SELECT na, nb FROM (
        |    SELECT least(supp_nation, cust_nation) AS na,
        |      greatest(supp_nation, cust_nation) AS nb,
        |      sum(nrows) AS pair_rows
        |    FROM agg GROUP BY 1, 2)
        |  ORDER BY pair_rows DESC, na, nb LIMIT 1)
        |SELECT supp_nation, cust_nation, l_year,
        |  round(1e-9 + raw_rev, 2) AS revenue
        |FROM agg JOIN top
        |  ON least(supp_nation, cust_nation) = na
        | AND greatest(supp_nation, cust_nation) = nb
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q17_small_qty" ->
      """WITH cut AS (
        |  SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_cut
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p_brand,
        |  round(1e-9 + sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
        |  count(*) AS n_lines
        |FROM lineitem
        |  JOIN cut ON l_partkey = pk
        |  JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity < qty_cut
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_corr_above_avg" ->
      """WITH ca AS (
        |  SELECT o_custkey AS ck, avg(o_totalprice) AS cavg
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT o_custkey, round(1e-9 + o_totalprice / cavg, 6) AS ratio
        |  FROM orders JOIN ca ON o_custkey = ck)
        |SELECT o_custkey, count(*) AS n_above,
        |  round(1e-9 + max(ratio), 4) AS max_ratio
        |FROM r WHERE ratio > 1.5
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  round(1e-9 + sum(l_quantity), 2) AS sum_qty,
        |  round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  round(1e-9 + sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY 1, 2""".stripMargin,
    "q_supplier_cnt" ->
      """SELECT p_type, count(DISTINCT l_suppkey) AS supplier_cnt,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_type ORDER BY p_type""".stripMargin,
    "q_order_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_cust_order_dist" ->
      """WITH per_cust AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM per_cust GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q22_lost_customers" ->
      """WITH ab AS (
        |  SELECT round(1e-9 + avg(c_acctbal), 2) AS ab
        |  FROM customer WHERE c_acctbal > 0),
        |cut AS (
        |  SELECT max(o_orderdate) - INTERVAL 182 DAY AS cut FROM orders)
        |SELECT c_nationkey, count(*) AS numcust,
        |  round(1e-9 + sum(c_acctbal), 2) AS totacctbal
        |FROM customer, ab, cut
        |WHERE c_acctbal > ab
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderdate >= cut.cut)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_yoy_growth" ->
      """WITH rev AS (
        |  SELECT n_name, year(l_shipdate) AS l_year,
        |    round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |  FROM lineitem
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |lagged AS (
        |  SELECT n_name, l_year, revenue,
        |    lag(revenue) OVER (PARTITION BY n_name ORDER BY l_year) AS prev
        |  FROM rev)
        |SELECT n_name, l_year, revenue,
        |  round(1e-9 + revenue / prev - 1.0, 4) AS growth
        |FROM lagged WHERE prev IS NOT NULL
        |ORDER BY n_name, l_year""".stripMargin)
}
