package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SafeRound.round

import graft.Tables

/** Third analytics wave: the TPC-H shapes the testdata schema can
  * still express without `partsupp` (Q2's per-group argmin with
  * join-back, Q11's HAVING-against-global-scalar) plus the ranking
  * window functions (ntile / percent_rank / cume_dist) not yet
  * covered by q_topk_per_group (row_number) and q_yoy_growth (lag).
  *
  * Scale notes (100 TB):
  *  - argmin-per-group is agg → broadcast-join-back → agg, never a
  *    per-group sort: both aggregates are partial-agg friendly and the
  *    join-back key (partkey) is the same shuffle key as the first
  *    aggregate, so AQE reuses the exchange.
  *  - the Q11 global scalar is one row — broadcast against the
  *    per-group aggregate, not recomputed per row.
  *  - every float that feeds a comparison is ROUNDED first (min of
  *    rounded unit prices, rounded revenue share) so the boundary cut
  *    is accumulation-order independent and both engines agree.
  *  - the ranking windows shard by o_orderpriority; within a shard the
  *    ordering key (totalprice, orderkey) is unique, so every rank
  *    function is deterministic.
  */
object Analytics3 {

  /** Q2-style minimum-cost supplier: for each part, the supplier
    * observed at the lowest unit price (reference shape: Q2's
    * correlated `ps_supplycost = (SELECT min ...)`; lineitem stands in
    * for partsupp — the testdata has no partsupp table). Decorrelated:
    * per-(part, supplier) MIN of the ROUNDED unit price (min∘round is
    * accumulation-order independent, unlike avg), per-part min, then
    * join-back on the rounded equality with min-suppkey tie-break. */
  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    // r17: per-part min + join-back-on-equality → a min() window over
    // the SAME key (guide §2.4 — a window partitioned like the
    // preceding aggregation needs no second shuffle, and the final
    // per-part agg reuses the window's hash partitioning): one
    // exchange on l_partkey instead of two plus a broadcast build of
    // the per-part-min table. Row set is identical by construction —
    // `unit_cost = min(unit_cost) over (partition by l_partkey)`
    // selects exactly the rows the equality join kept, on the same
    // rounded values.
    val unit = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(round(col("l_extendedprice") / col("l_quantity"), 4)).as("unit_cost"))
    val wMin = Window.partitionBy(col("l_partkey"))
    val p = Tables.part(s, dir).select("p_partkey", "p_brand")
    unit.withColumn("min_cost", min(col("unit_cost")).over(wMin))
      .filter(col("unit_cost") === col("min_cost"))
      .groupBy(col("l_partkey"))
      .agg(min(col("l_suppkey")).as("s_suppkey"), min(col("unit_cost")).as("min_cost"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_brand"), col("s_suppkey"), col("min_cost"))
      .orderBy("p_partkey")
  }

  /** Q11-style important parts: parts whose revenue share exceeds a
    * floor fraction of GLOBAL revenue — the HAVING-vs-global-scalar
    * pattern. One per-part aggregate, one single-row global aggregate
    * broadcast against it, share compared on the rounded value. The
    * floor is RELATIVE (1.5× the mean per-part share), so the query
    * returns a meaningful head at every scale factor — a fixed
    * absolute share would go empty as the part count grows. */
  def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("value"))
    val total = rev.agg(sum(col("value")).as("total"), count(lit(1)).as("n_parts"))
    rev.crossJoin(broadcast(total))
      .withColumn("share", round(col("value") / col("total"), 6))
      .filter(col("share") > round(lit(1.5) / col("n_parts"), 6))
      .select(col("l_partkey"), col("value"), col("share"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** Ranking-window coverage: revenue quartiles per order priority via
    * ntile(4), with percent_rank / cume_dist boundaries per quartile.
    * The window shards by priority; (totalprice, orderkey) makes the
    * in-shard order total, so ntile boundaries are deterministic. */
  def qNtileWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .groupBy(col("o_orderpriority"), col("quartile"))
      .agg(count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        round(min(col("pr")), 6).as("min_pct_rank"),
        round(max(col("cd")), 6).as("max_cume_dist"))
      .orderBy("o_orderpriority", "quartile")
  }

  /** Q9-style product-type profit: per supplier nation and order year,
    * revenue minus supply cost (p_retailprice × 0.6 × quantity stands
    * in for ps_supplycost — the testdata has no partsupp). The Q9
    * plan shape: one fact pass, part/supplier/nation dims broadcast,
    * orders joined for the year, a single derived-measure aggregate. */
  def q9Profit(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
    val p = Tables.part(s, dir).select("p_partkey", "p_retailprice")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(sum(
        col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          col("p_retailprice") * 0.6 * col("l_quantity")), 2).as("profit"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Fixed-width histogram of order values — the profiling primitive
    * behind every numeric-distribution dashboard. One scan, one
    * partial-agg groupBy on the bucket id; bucket edges are constants
    * so the bin assignment is a pure map, written as explicit
    * floor((x−lo)/w) arithmetic (identical IEEE ops in both engines —
    * DuckDB has no width_bucket) with explicit under/overflow bins:
    * dropping outliers silently is the classic histogram bug. */
  def qHistogram(s: SparkSession, dir: String): DataFrame = {
    val (lo, hi, nb) = (0.0, 400000.0, 8)
    val w = (hi - lo) / nb
    Tables.orders(s, dir)
      .withColumn("bucket",
        when(col("o_totalprice") < lo, 0L)
          .when(col("o_totalprice") >= hi, nb + 1L)
          .otherwise(floor((col("o_totalprice") - lo) / w) + 1))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice")), 2).as("lo_price"),
        round(max(col("o_totalprice")), 2).as("hi_price"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy("bucket")
  }

  /** First-touch attribution: each purchasing user's purchase is
    * credited to the event type of their FIRST event ever (µs-exact,
    * event_id tie-break) — the argmin-by-time pattern. One rank
    * window sharded by user + one semi-join against purchasers; no
    * self-join of the event stream. */
  def qFirstTouch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val purchasers = ev.filter(col("event_type") === "purchase")
      .select("user_id").distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    ev.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .join(purchasers, "user_id", "left_semi")
      .groupBy(col("event_type").as("first_touch"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("first_touch")
  }

  /** Corpus Zipf diagnostics: the log-log slope of token frequency vs
    * rank — natural text sits near slope −1; a synthetic or templated
    * corpus shows up immediately.
    *
    * The naive plan ranks the whole vocabulary in one window — a
    * single-partition sort over ~10⁸ tokens at web scale. This
    * implementation never materializes per-token ranks: every
    * regression moment decomposes over EQUAL-FREQUENCY rank blocks.
    * Within a block lf = ln(freq) is constant, and the rank sum over a
    * block [off+1, off+cnt] is Σ ln r = lnΓ(off+cnt+1) − lnΓ(off+1),
    * so Σ lr·lf, Σ lf, Σ lf² come from the distinct-frequency table —
    * provably ≤ √(2N) rows, because distinct positive frequencies
    * f₁<…<f_F sum to ≤ N total tokens and Σfᵢ ≥ F(F+1)/2. The
    * order-free moments Σ ln r and Σ (ln r)² come from a shuffle-free
    * distributed range scan of 1..V. Corpus-sized work is exactly one
    * partial-agg token count; the only window runs over the √N-bounded
    * block table (constant-keyed so WindowExec never warns). */
  def textZipfFit(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    // one row per distinct frequency value; cached — the corpus pass
    // behind it runs once, the V-count action and the stats reuse it.
    val blocks = graft.functions.Artifacts.frame(s, "zipfBlocks", dir) {
      freq.groupBy("freq").agg(count(lit(1)).as("cnt"))
    }
    // coalesce: sum over an empty block table is null — an empty
    // corpus must yield v=0 (one all-null stats row), not an NPE here.
    val v = blocks.agg(coalesce(sum(col("cnt")), lit(0L))).first().getLong(0)
    val lnGamma = udf((n: Long) =>
      org.apache.commons.math3.special.Gamma.logGamma(n + 1.0))
    // off(f) = tokens with strictly higher freq = the block's rank
    // offset. The cumsum is keyed by pmod(freq,1) ≡ 0: freq is
    // non-nullable, so a plain freq*0 key would constant-fold and
    // EliminateWindowPartitions would strip it back to an undeclared
    // single-partition window; pmod survives the optimizer.
    val w = Window.partitionBy(pmod(col("freq"), lit(1))).orderBy(col("freq").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val blockStats = blocks
      .withColumn("off", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .select(col("cnt"), log(col("freq").cast("double")).as("lf"),
        (lnGamma(col("off") + col("cnt")) - lnGamma(col("off"))).as("slr_blk"))
      .agg(sum(col("cnt") * col("lf")).as("slf"),
        sum(col("cnt") * col("lf") * col("lf")).as("slf2"),
        sum(col("lf") * col("slr_blk")).as("slrlf"))
    val rankStats = s.range(1L, v + 1L).toDF("r")
      .select(log(col("r").cast("double")).as("lr"))
      .agg(sum(col("lr")).as("slr"), sum(col("lr") * col("lr")).as("slr2"))
    // both sides are single-row aggregates; hint the scalar join so it
    // is a BroadcastNestedLoopJoin BY DECLARATION, not by AQE's
    // runtime stats — the plan must never degrade to CartesianProduct
    // on an estimator miss at scale (the bm25 stats×nDocs rule)
    blockStats.crossJoin(broadcast(rankStats))
      .select(lit(v).as("n_tokens"),
        ((lit(v) * col("slrlf") - col("slr") * col("slf")) /
          (lit(v) * col("slr2") - col("slr") * col("slr"))).as("slope"),
        col("slf"), col("slf2"), col("slr"), col("slr2"), col("slrlf"))
      .select(col("n_tokens"),
        round(col("slope"), 4).as("zipf_slope"),
        round((col("slf") - col("slope") * col("slr")) / lit(v).cast("double"), 4)
          .as("zipf_intercept"),
        round(pow(lit(v) * col("slrlf") - col("slr") * col("slf"), 2) /
          ((lit(v) * col("slr2") - col("slr") * col("slr")) *
            (lit(v) * col("slf2") - col("slf") * col("slf"))), 4).as("fit_r2"))
  }

  /** Day-of-week × hour-of-day activity matrix — the seasonality
    * profile behind traffic dashboards and anomaly baselines. One
    * scan, a pure calendar map (weekday 0=Monday — the encoding Spark
    * `weekday` and DuckDB `isodow−1` agree on; `dayofweek` differs
    * between engines), one partial-agg groupBy over ≤ 168 cells. */
  def qDowHourHeatmap(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(weekday(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        round(avg(col("value")), 4).as("avg_value"))
      .orderBy("dow", "hr")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dow_hour_heatmap" -> (qDowHourHeatmap _),
    "q_first_touch" -> (qFirstTouch _),
    "text_zipf_fit" -> (textZipfFit _),
    "q_histogram" -> (qHistogram _),
    "q9_profit" -> (q9Profit _),
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q11_important_parts" -> (q11ImportantParts _),
    "q_ntile_window" -> (qNtileWindow _))

  private val toksSql =
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), tok -> length(tok) > 0)"

  val oracleSql: Map[String, String] = Map(
    "q_dow_hour_heatmap" ->
      """SELECT (isodow(ts) - 1)::BIGINT AS dow, hour(ts)::BIGINT AS hr,
        |  count(*) AS n_events,
        |  round(1e-9 + sum(value), 2) AS sum_value,
        |  round(1e-9 + avg(value), 4) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_first_touch" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events),
        |p AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'purchase'),
        |r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rnk
        |  FROM e)
        |SELECT r.event_type AS first_touch, count(*) AS n_users
        |FROM r JOIN p USING (user_id) WHERE rnk = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_zipf_fit" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
         |f AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
         |r AS (
         |  SELECT ln((row_number() OVER (ORDER BY freq DESC, token))::DOUBLE) AS lr,
         |    ln(freq::DOUBLE) AS lf
         |  FROM f)
         |SELECT count(*) AS n_tokens,
         |  round(1e-9 + regr_slope(lf, lr), 4) AS zipf_slope,
         |  round(1e-9 + regr_intercept(lf, lr), 4) AS zipf_intercept,
         |  round(1e-9 + regr_r2(lf, lr), 4) AS fit_r2
         |FROM r""".stripMargin,
    "q_histogram" ->
      """SELECT (CASE WHEN o_totalprice < 0.0 THEN 0
        |  WHEN o_totalprice >= 400000.0 THEN 9
        |  ELSE floor((o_totalprice - 0.0) / 50000.0) + 1 END)::BIGINT AS bucket,
        |  count(*) AS n_orders,
        |  round(1e-9 + min(o_totalprice), 2) AS lo_price,
        |  round(1e-9 + max(o_totalprice), 2) AS hi_price,
        |  round(1e-9 + sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  round(1e-9 + sum(l_extendedprice * (1 - l_discount)
        |    - p_retailprice * 0.6 * l_quantity), 2) AS profit,
        |  count(*) AS n_lines
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH unit AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(round(1e-9 + l_extendedprice / l_quantity, 4)) AS unit_cost
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (
        |  SELECT l_partkey AS pk, min(unit_cost) AS min_cost
        |  FROM unit GROUP BY 1),
        |pick AS (
        |  SELECT l_partkey, min(l_suppkey) AS s_suppkey, min(unit_cost) AS min_cost
        |  FROM unit JOIN best ON l_partkey = pk AND unit_cost = best.min_cost
        |  GROUP BY 1)
        |SELECT p_partkey, p_brand, s_suppkey, pick.min_cost
        |FROM pick JOIN part ON l_partkey = p_partkey
        |ORDER BY p_partkey""".stripMargin,
    "q11_important_parts" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS value
        |  FROM lineitem GROUP BY 1),
        |total AS (SELECT sum(value) AS total, count(*) AS n_parts FROM rev)
        |SELECT l_partkey, value, round(1e-9 + value / total, 6) AS share
        |FROM rev, total
        |WHERE round(1e-9 + value / total, 6) > round(1e-9 + 1.5 / n_parts, 6)
        |ORDER BY value DESC, l_partkey""".stripMargin,
    "q_ntile_window" ->
      """WITH w AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    ntile(4) OVER win AS quartile,
        |    percent_rank() OVER win AS pr,
        |    cume_dist() OVER win AS cd
        |  FROM orders
        |  WINDOW win AS (PARTITION BY o_orderpriority
        |                 ORDER BY o_totalprice, o_orderkey))
        |SELECT o_orderpriority, quartile::BIGINT AS quartile,
        |  count(*) AS n_orders,
        |  round(1e-9 + min(o_totalprice), 2) AS min_price,
        |  round(1e-9 + max(o_totalprice), 2) AS max_price,
        |  round(1e-9 + min(pr), 6) AS min_pct_rank,
        |  round(1e-9 + max(cd), 6) AS max_cume_dist
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
