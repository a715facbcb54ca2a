package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Core relational surface: scan → filter → join → aggregate → having →
  * top-n. These are the engine's flagship analytical queries, exercising
  * the full physical stack (vectorized parquet scan with pushed filters,
  * broadcast hash join for dimensions, partial+final hash aggregate,
  * top-k sort).
  *
  * Shapes derive from the reference's declared quality/mart queries:
  * grouped HAVING check `config/pipelines/sample_pipeline.yaml:111-113`,
  * fact/dim join `sample_pipeline.yaml:89-99`, plus TPC-H-style pricing
  * summary as the flagship aggregation.
  */
object CoreQueries extends QueryPack {

  /** Flagship: pricing summary (scan + filter + 8-group hash agg).
    * Filter is pushed to the parquet scan; aggregation is partial/final
    * with no raw-row shuffle beyond the 8 groups. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "lineitem")
      .filter($"l_shipdate" <= ts("1998-09-02"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        decSum($"l_quantity").as("sum_qty"),
        decSum($"l_extendedprice").as("sum_base_price"),
        decSum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        decSum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        decAvg($"l_quantity").as("avg_qty"),
        decAvg($"l_extendedprice").as("avg_price"),
        decAvg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Revenue top-10 customers. Shape choices that survive 100 TB:
    *
    *  - lineitem is PRE-AGGREGATED to one revenue row per order BEFORE
    *    the join (Catalyst never pushes an aggregate below a join on its
    *    own): the orderkey shuffle moves ~4× fewer, narrower rows, and
    *    the per-order partial sum combines map-side;
    *  - the per-order sum stays DECIMAL (exact, associative) so the
    *    re-aggregation per customer is bit-identical to the flat
    *    `decSum` over raw rows — the final cast to double happens once;
    *  - `countDistinct(o_orderkey)` becomes a plain `count`: after the
    *    pre-aggregate each order contributes exactly one row, so the
    *    Expand-based distinct rewrite (which doubles the joined stream)
    *    disappears;
    *  - `orders` grows linearly with the fact table, so it is NOT
    *    hint-broadcast — AQE picks the join; `customer` is a true
    *    dimension and keeps its broadcast hint. */
  def q3TopCustomers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer")
    val o = table(s, dir, "orders")
    val l = table(s, dir, "lineitem")
    val perOrder = l.groupBy($"l_orderkey")
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast(DecimalType(18, 6))).as("__rev"))
    perOrder.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey", $"c_name", $"c_mktsegment")
      .agg(sum($"__rev").cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(10)
  }

  /** The reference's grouped-HAVING duplicate probe
    * (`sample_pipeline.yaml:111-113`: GROUP BY ... HAVING COUNT(*) > 1),
    * applied to repeat customers. */
  def q4RepeatCustomers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"), decSum($"o_totalprice").as("total_spend"))
      .filter($"n_orders" > 1)
      .orderBy($"o_custkey")
  }

  /** T6 referential-integrity check (dbt `relationships` test,
    * `sample_pipeline.yaml:73-75`) — orphan foreign keys via LEFT ANTI
    * join (never materializes matches; broadcastable dim side). */
  def t6ReferentialOrphans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val c = table(s, dir, "customer")
    o.join(broadcast(c), $"o_custkey" === $"c_custkey", "left_anti")
      .agg(count(lit(1)).as("orphan_count"))
  }

  /** Multi-dim star join: nation → supplier revenue by region
    * (region/nation/supplier all broadcast; lineitem streams through). */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = table(s, dir, "lineitem")
    val sup = table(s, dir, "supplier")
    val n = table(s, dir, "nation")
    val r = table(s, dir, "region")
    l.join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(decSum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"r_name")
  }

  /** Promo-revenue share (TPC-H Q14 shape): lineitem ⨝ broadcast part,
    * LIKE-predicate conditional aggregation, one date-windowed scan.
    * The ratio is (decimal-exact double) / (decimal-exact double) —
    * one IEEE division, engine-portable. */
  def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = table(s, dir, "lineitem")
      .filter($"l_shipdate" >= ts("1995-01-01") && $"l_shipdate" < ts("1996-01-01"))
    val p = table(s, dir, "part")
    l.join(broadcast(p), $"l_partkey" === $"p_partkey")
      .agg(
        decSum(when($"p_type".startsWith("PROMO"),
          $"l_extendedprice" * (lit(1.0) - $"l_discount")).otherwise(lit(0.0)))
          .as("promo_revenue"),
        decSum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("total_revenue"))
      .withColumn("promo_pct",
        lit(100.0) * $"promo_revenue" / $"total_revenue")
  }

  /** Multi-level ROLLUP(region, nation) revenue: region subtotals and a
    * grand total in ONE pass — Spark's Expand + partial aggregation
    * keeps this a single shuffle regardless of grouping-set count (vs.
    * one job per level). NULLS FIRST on both engines so the subtotal
    * rows (null group keys) sort identically. */
  def q6RollupRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = table(s, dir, "lineitem")
    val sup = table(s, dir, "supplier")
    val n = table(s, dir, "nation")
    val r = table(s, dir, "region")
    // pre-aggregate to the finest grouping level FIRST: Spark's rollup
    // plans an Expand that replicates every input row once per grouping
    // set (3x here), and over the raw fact that triples the rows
    // entering partial aggregation — at 600M lineitems the Expand is
    // the dominant cost. Over the ~regions x nations pre-aggregated
    // frame it is free; decimal sums and counts re-aggregate exactly
    // (associative), so the result is bit-identical.
    val base = l.join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("__rev"),
        count(lit(1)).as("__n"))
    base.rollup($"r_name", $"n_name")
      .agg(sum($"__rev").cast(org.apache.spark.sql.types.DoubleType)
          .as("revenue"),
        sum($"__n").as("n_lines"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  /** CUBE over (region, market segment): all four grouping sets — the
    * cross-dimensional summary ROLLUP's hierarchy can't express (a
    * per-segment total regardless of region IS a cube cell). Same
    * pre-aggregate-then-Expand discipline as q6: Expand replicates
    * input rows once per grouping set (4× for a 2-column cube), so it
    * runs over the regions × segments pre-aggregate, never the raw
    * join — decimal sums and counts re-aggregate exactly. */
  def q21CubeRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val c = table(s, dir, "customer")
    val n = table(s, dir, "nation")
    val r = table(s, dir, "region")
    val base = o.join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"c_mktsegment")
      .agg(sum($"o_totalprice"
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("__rev"),
        count(lit(1)).as("__n"))
    base.cube($"r_name", $"c_mktsegment")
      .agg(sum($"__rev").cast(org.apache.spark.sql.types.DoubleType)
          .as("revenue"),
        sum($"__n").as("n_orders"))
      .orderBy($"r_name".asc_nulls_first, $"c_mktsegment".asc_nulls_first)
  }

  /** Per-customer running revenue: cumulative sum over the order
    * history — partitioned window (never a global sort), deterministic
    * ROWS frame ordered by the unique (date, orderkey). Decimal partial
    * sums make every prefix engine-exact, so all 15k×N rows
    * hash-compare. */
  def wRunningTotal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    table(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
      .withColumn("running_spend",
        sum($"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .over(w).cast("double"))
      .select($"o_custkey", $"o_orderkey",
        fmtTs($"o_orderdate").as("o_orderdate"), $"running_spend")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Market-basket co-occurrence: the 20 part pairs most often bought
    * in the same order. The pair join is an EQUI self-join on the order
    * key (co-partitioned — each order's lines meet in one task, pair
    * count bounded by lines-per-order²), hinted shuffle_hash so both
    * sides reuse ONE exchange; DISTINCT (order, part) first so a part
    * repeated within an order can't double-count. */
  def q7BasketPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE exchange on the order key builds each basket's DISTINCT item
    // set (collect_set dedups inside the aggregate); pairs then explode
    // MAP-SIDE from the basket array. The previous spelling paid TWO
    // corpus-sized exchanges — distinct() on (order, part), then a
    // re-key to the order key for a shuffle_hash self-join — for the
    // same k(k−1)/2 pairs per basket (round 15, guide §2.4: remove
    // shuffles outright). Skew posture unchanged: a hub basket's k²
    // pairs sat in one task under the keyed self-join too.
    val baskets = table(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(collect_set($"l_partkey").as("__parts"))
    baskets
      .select(explode($"__parts").as("part_a"), $"__parts")
      .select($"part_a", explode($"__parts").as("part_b"))
      .filter($"part_a" < $"part_b")
      .groupBy($"part_a", $"part_b")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"n_orders".desc, $"part_a", $"part_b")
      .limit(20)
  }

  /** Status-pivoted spend per order priority: the relational PIVOT
    * surface. Pivot values are DECLARED (`Seq("F","O","P")`) so the
    * plan is a single conditional aggregation — Spark never runs the
    * extra distinct-values job a value-less `.pivot(col)` needs, which
    * at 100 TB would be a full extra scan just to learn column names. */
  def q8PivotStatus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(decSum($"o_totalprice"))
      .select($"o_orderpriority", $"F".as("spend_f"), $"O".as("spend_o"),
        $"P".as("spend_p"))
      .orderBy($"o_orderpriority")
  }

  /** Exact per-group quantiles (p50/p95) that scale: the cuts run over
    * DISTINCT (group, value) pairs with pre-aggregated counts —
    * the raw fact table never sorts. Rank targets use pure integer
    * arithmetic (`ceil(p·n)` as `(k·n + d − 1) div d`), so the chosen
    * value is an actual data element, bit-identical across engines —
    * no interpolation, no floating-point quantile math. Routed through
    * [[graft.operators.Quantiles.rankCuts]]: at the bounded price
    * domain this is the window-over-distincts plan the oracle replays;
    * past `graft.median.distinctBound` distincts per group (a
    * continuous column at scale) the same cuts ride the
    * [[graft.operators.Quantiles.exactQuantiles]] range refinement —
    * count-only shuffles, no one-task group sort. The sketch
    * twin for when exactness isn't required is
    * `Validator.profileFrame(approx = true)`'s `approx_percentile`. */
  def q9GroupQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byPrice = table(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_extendedprice")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    graft.operators.Quantiles.rankCuts(byPrice, "l_returnflag",
        "l_extendedprice", "cnt", Seq(("p50", 1, 2), ("p95", 19, 20)))
      .orderBy($"l_returnflag")
  }

  /** Fixed-bound histogram of order totals: bucket assignment is a
    * map-side `floor(x / width)` (one IEEE divide — deterministic in
    * both engines), so the shuffle moves only (bucket → partial agg)
    * rows. Fixed bounds are the scalable form: a data-driven min/max
    * would need an extra pass before bucketing. */
  def q10PriceHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .select(
        least(floor($"o_totalprice" / 50000.0), lit(9)).cast("bigint").as("bucket"),
        $"o_totalprice")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_orders"), decSum($"o_totalprice").as("spend"))
      .orderBy($"bucket")
  }

  /** Per-customer order-over-order spend delta: LAG over the customer's
    * history — partitioned window (one key shuffle, never global),
    * deterministic total order via the unique (date, orderkey). The
    * delta is computed in exact decimal then cast once to double, so
    * every row hash-compares. */
  def wLagDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val dec = DecimalType(18, 6)
    table(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
      .withColumn("prev_price", lag($"o_totalprice", 1).over(w))
      .withColumn("delta",
        ($"o_totalprice".cast(dec) - $"prev_price".cast(dec)).cast(DoubleType))
      .select($"o_custkey", $"o_orderkey", fmtTs($"o_orderdate").as("o_orderdate"),
        $"prev_price", $"delta")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Ordered string aggregation (LISTAGG shape): each customer's order
    * statuses concatenated in (date, orderkey) order. Spark's
    * `collect_list` is unordered, so the deterministic form collects
    * (date, key, status) structs and sorts INSIDE each group —
    * per-group state is bounded by orders-per-customer, and there is
    * no global sort. The re-pack (sort + extract + join) is the
    * compiled [[graft.functions.SortedStructConcatExpr]] — the
    * interpreted transform/array_sort spelling ran two lambdas per
    * ORDER of the corpus post-shuffle (round 15; same swap as d10's
    * line re-pack, measured 1.6–1.7× at volume, SCALE.md). */
  def q11StatusListagg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(
        graft.functions.NativeText.sortedStructConcat(
          collect_list(struct($"o_orderdate", $"o_orderkey", $"o_orderstatus")),
          ",").as("status_seq"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_custkey")
  }

  /** UNPIVOT (wide → long): three lineitem measures melt into
    * (measure, value) rows, then one grouped profile per measure.
    * `unpivot` is an Expand — map-side row fan-out, no shuffle until
    * the (3-group) aggregate; the scan still prunes to exactly the
    * unpivoted columns. */
  def q12UnpivotMeasures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "lineitem")
      .select($"l_quantity", $"l_extendedprice", $"l_discount")
      .unpivot(Array.empty[org.apache.spark.sql.Column],
        Array($"l_quantity", $"l_extendedprice", $"l_discount"),
        "measure", "value")
      .groupBy($"measure")
      .agg(count(lit(1)).as("n_rows"), decSum($"value").as("total"),
        min($"value").as("min_value"), max($"value").as("max_value"))
      .orderBy($"measure")
  }

  /** Set-operation cohorts: customers active in BOTH 1995 and 1996
    * (INTERSECT semantics) and in 1995 only (EXCEPT semantics). The
    * oracle literally runs INTERSECT/EXCEPT; the engine computes the
    * same sets from ONE scan — per-customer year flags, then two
    * conditional counts. Writing `a.intersect(b)` / `a.except(b)` here
    * would instantiate each year's subtree twice (4 scans + 4 shuffles
    * of the fact, seen with `Inspect shape` — Spark does not reuse
    * exchanges across the two set-op branches); the flag form is one
    * scan, one shuffle, and is the spelling that survives 100 TB. */
  def q13SetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .filter($"o_orderdate" >= ts("1995-01-01") &&
        $"o_orderdate" < ts("1997-01-01"))
      .groupBy($"o_custkey")
      .agg(
        max(when($"o_orderdate" < ts("1996-01-01"), 1).otherwise(0)).as("a95"),
        max(when($"o_orderdate" >= ts("1996-01-01"), 1).otherwise(0)).as("a96"))
      .agg(
        sum(when($"a95" === 1 && $"a96" === 1, 1L).otherwise(0L)).as("both_n"),
        sum(when($"a95" === 1 && $"a96" === 0, 1L).otherwise(0L)).as("only_n"))
      .selectExpr(
        "stack(2, 'both_95_96', both_n, 'only_95', only_n) AS (cohort, n)")
      .orderBy($"cohort")
  }

  /** Ranking windows (NTILE + PERCENT_RANK) over customer spend:
    * deciles and exact percentile position. The ordering key
    * (total_spend, custkey) is unique, so tile/rank assignment is
    * deterministic — and because it is unique, both functions are
    * closed-form in the global row number `rn` and the total count `N`:
    * the first N%10 tiles get ceil(N/10) rows and the rest floor(N/10)
    * (the SQL-standard NTILE fill), and PERCENT_RANK = (rn-1)/(N-1).
    * `rn` comes from [[graft.operators.Keys.globalRankWithCount]]
    * (bucketed distributed ranking with the custkey tiebreak, forced —
    * `smallBytes = 0`), so NO unpartitioned WindowExec exists in this
    * plan at any data size — PlanAuditSpec pins that fleet-wide. N is
    * the sum of the per-bucket counts the rank already collects, so
    * tile/rank arithmetic folds into the projection as literals: no
    * second aggregate branch, no extra scan, no join. */
  def wNtileSpend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perCust = table(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(decSum($"o_totalprice").as("total_spend"))
    val (ranked, n) = graft.operators.Keys.globalRankWithCount(
      perCust, "total_spend", "rn", smallBytes = 0L,
      tieBreakers = Seq($"o_custkey"))
    // shared closed-form expressions (see Keys.ntileExpr for the exact
    // integer-div tile fill); KeysSpec exercises the uneven-N branch on
    // these same expressions
    ranked
      .withColumn("decile", graft.operators.Keys.ntileExpr(n, 10, "rn"))
      .withColumn("pct_rank", graft.operators.Keys.percentRankExpr(n, "rn"))
      .select($"o_custkey", $"total_spend", $"decile", $"pct_rank")
      .orderBy($"o_custkey")
  }

  /** Time-series gap filling: a generated 1995 calendar per priority,
    * left-joined with daily aggregates — missing days surface as
    * explicit zero rows, and `last_active_day` carries forward the most
    * recent day with orders (monotone MAX window, identical semantics
    * in both engines — no `last(ignoreNulls)` edge cases). The calendar
    * side is dims × days (tiny, broadcastable); the fact side is
    * pre-aggregated per day before the join, so the join never sees raw
    * orders. */
  def wGapFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val o = table(s, dir, "orders")
    val daily = o
      .filter($"o_orderdate" >= ts("1995-01-01") && $"o_orderdate" < ts("1996-01-01"))
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("day"))
      .agg(count(lit(1)).as("n_orders"), decSum($"o_totalprice").as("spend"))
    val cal = o.select($"o_orderpriority").distinct()
      .select($"o_orderpriority",
        explode(sequence(to_date(lit("1995-01-01")), to_date(lit("1995-12-31")),
          expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("o_orderpriority", "day"), "left")
      .select($"o_orderpriority", $"day",
        coalesce($"n_orders", lit(0L)).as("n_orders"),
        coalesce($"spend", lit(0.0)).as("spend"))
      .withColumn("last_active_day",
        date_format(max(when($"n_orders" > 0, $"day")).over(w), "yyyy-MM-dd"))
      .select($"o_orderpriority", date_format($"day", "yyyy-MM-dd").as("day"),
        $"n_orders", $"spend", $"last_active_day")
      .orderBy($"o_orderpriority", $"day")
  }

  /** FULL OUTER join: per-customer spend in 1995 vs 1996 — customers
    * active in either year appear, with nulls marking the inactive
    * side. Both inputs pre-aggregate to one row per customer before the
    * join (the only scalable spelling: joining raw orders would shuffle
    * the fact twice). */
  def q15FullOuter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    def spend(year: Int, alias: String) = o
      .filter($"o_orderdate" >= ts(s"$year-01-01") &&
        $"o_orderdate" < ts(s"${year + 1}-01-01"))
      .groupBy($"o_custkey")
      .agg(decSum($"o_totalprice").as(alias))
    spend(1995, "spend_95").join(spend(1996, "spend_96"),
        Seq("o_custkey"), "full_outer")
      .orderBy($"o_custkey")
  }

  /** Semi-join chain (IN-subquery shape): customers who ever ordered a
    * PROMO part — part filter broadcasts into a LEFT SEMI against
    * lineitem, surviving orderkeys semi-join orders, custkeys semi-join
    * customer. Semi joins never materialize match payloads, and each
    * hop only carries the key column forward. */
  def q16SemiChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val promoParts = table(s, dir, "part").filter($"p_type".startsWith("PROMO"))
      .select($"p_partkey")
    val promoOrders = table(s, dir, "lineitem")
      .join(broadcast(promoParts), $"l_partkey" === $"p_partkey", "left_semi")
      .select($"l_orderkey")
    val promoCusts = table(s, dir, "orders")
      .join(promoOrders, $"o_orderkey" === $"l_orderkey", "left_semi")
      .select($"o_custkey")
    table(s, dir, "customer")
      .join(promoCusts, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** Winsorization (robust statistics): clip prices to each group's
    * exact [p05, p95] and report how much mass moved. The thresholds
    * come from the same cumulative-count-over-distinct-values technique
    * as q9 (rank targets in pure integer arithmetic — thresholds are
    * real data elements, engine-exact), broadcast back onto the fact
    * rows, and the clipped sum stays decimal-exact. */
  def q17Winsorize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = table(s, dir, "lineitem").select($"l_returnflag", $"l_extendedprice")
    val byPrice = li.groupBy($"l_returnflag", $"l_extendedprice")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val cuts = graft.operators.Quantiles.rankCuts(byPrice, "l_returnflag",
      "l_extendedprice", "cnt", Seq(("p05", 1, 20), ("p95", 19, 20)))
    // Aggregate from the DISTINCT-price counts, not the raw fact: every
    // output (clip counts, winsorized sum) is a function of
    // (price, cnt), so the fact is scanned ONCE (into the checkpointed
    // byPrice that the cuts probe, the cuts chain, and this join all
    // read) and the join + final aggregate run over per-(flag, price)
    // rows — at 100 TB that is the post-agg cardinality, not 600 M
    // lineitems again. The cuts carry the rankCuts cardinality escape
    // hatch (see q9). The weighted decimal sum (price×cnt in
    // DecimalType(18,6)) is value-identical to decSum over the
    // expanded rows.
    byPrice.join(broadcast(cuts), Seq("l_returnflag"))
      .groupBy($"l_returnflag")
      .agg(
        max($"p05").as("p05"), max($"p95").as("p95"),
        sum(when($"l_extendedprice" < $"p05", $"cnt").otherwise(0L))
          .as("n_clipped_low"),
        sum(when($"l_extendedprice" > $"p95", $"cnt").otherwise(0L))
          .as("n_clipped_high"),
        sum(greatest(least($"l_extendedprice", $"p95"), $"p05")
            .cast("decimal(18,6)") * $"cnt").cast("double")
          .as("winsorized_sum"))
      .orderBy($"l_returnflag")
  }

  /** MAD-based robust outlier detection (the Hampel filter: flag
    * |x − median| > k·MAD — the robust alternative to z-scores, which
    * a single corrupt price can drag arbitrarily). Both medians (the
    * group median and the median absolute deviation) are EXACT lower
    * medians via the q17 cumulative-count-over-distinct-values
    * technique — no sort of the raw fact, every aggregate over
    * post-distinct cardinality, thresholds broadcast back. k = 1.5
    * here: the synthetic uniform price distribution puts all mass
    * inside 3·MAD (uniform's MAD is range/4), so the conventional
    * k = 3 would pin an all-zero column; 1.5 exercises both branches. */
  def q20MadOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the distinct-pair frame feeds BOTH median chains and the final
    // aggregate — checkpoint it (post-distinct cardinality, small) so
    // the fact scans once, not once per consumer
    val byPrice = table(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_extendedprice")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // exact lower median via rankCuts — window-over-distincts at the
    // bounded price domain, range refinement past the cardinality
    // bound (see q9)
    def lowerMedian(df: DataFrame, valCol: String, out: String): DataFrame =
      graft.operators.Quantiles.rankCuts(df, "l_returnflag", valCol,
        "cnt", Seq((out, 1, 2)))
    val med = lowerMedian(byPrice, "l_extendedprice", "med")
    val devs = byPrice.join(broadcast(med), Seq("l_returnflag"))
      .groupBy($"l_returnflag",
        abs($"l_extendedprice" - $"med").as("dev"))
      .agg(sum($"cnt").as("cnt"))
      .localCheckpoint()
    val mad = lowerMedian(devs, "dev", "mad")
    val isOut = abs($"l_extendedprice" - $"med") > $"mad" * 1.5
    byPrice.join(broadcast(med), Seq("l_returnflag"))
      .join(broadcast(mad), Seq("l_returnflag"))
      .groupBy($"l_returnflag")
      .agg(max($"med").as("median"), max($"mad").as("mad"),
        sum($"cnt").as("n"),
        sum(when(isOut, $"cnt").otherwise(0L)).as("n_outliers"),
        min(when(isOut, $"l_extendedprice")).as("min_outlier"),
        max(when(isOut, $"l_extendedprice")).as("max_outlier"))
      .orderBy($"l_returnflag")
  }

  /** Correlated-scalar-subquery shape (TPC-H Q2's MIN-cost pattern):
    * for each small part, the supplier(s) charging the group minimum.
    * The oracle runs the literal correlated subquery; the engine uses
    * the decorrelated spelling Catalyst would rewrite to anyway — a
    * whole-partition MIN window on ONE partkey shuffle, then filter to
    * rows at the minimum. Never a per-part subquery execution. */
  def q18MinPriceSupplier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val smallParts = table(s, dir, "part").filter($"p_size" === 1)
      .select($"p_partkey", $"p_name")
    val li = table(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey", $"l_extendedprice")
    val w = Window.partitionBy($"l_partkey")
    li.join(broadcast(smallParts), $"l_partkey" === $"p_partkey")
      .withColumn("min_price", min($"l_extendedprice").over(w))
      .filter($"l_extendedprice" === $"min_price")
      .groupBy($"p_partkey", $"p_name", $"min_price")
      .agg(min($"l_suppkey").as("supplier"))
      .orderBy($"p_partkey")
  }

  /** Declarative top-n-per-key, auto-rewritten: written as the standard
    * `row_number().over(...) <= 2` window idiom, with
    * [[graft.functions.GraftExtensions]] installed so
    * [[graft.plans.TopKRewriteRule]] swaps the final WindowExec for the
    * bounded-heap operator — the oracle checks the SEMANTICS (DuckDB
    * QUALIFY), TopKRewriteSpec pins the plan. Total order via
    * (price desc, orderkey) so ranks are deterministic. */
  def wTopnOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftExtensions.install(s)
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    table(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2)
      .orderBy($"o_custkey", $"rn")
  }

  /** Join-consistent universe sample of orders ⋈ lineitem
    * ([[graft.operators.Sampling.universeSample]]): BOTH tables keep
    * exactly the 10% key universe (hash of the join key), so the
    * sampled join has no orphans and equals the full join restricted
    * to kept keys — the dry-run-a-100TB-pipeline-on-1%-of-keys
    * operator. The filters are map-side and reach both scans; revenue
    * is the decimal-exact order-free sum. */
  def q19UniverseSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Seq(o, l) = graft.operators.Sampling.universeSample(Seq(
      (table(s, dir, "orders"), "o_orderkey"),
      (table(s, dir, "lineitem"), "l_orderkey")), 0.10)
    o.join(l, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderstatus")
      .agg(countDistinct($"o_orderkey").as("n_orders"),
        count(lit(1)).as("n_items"),
        decSum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("revenue"))
      .orderBy($"o_orderstatus")
  }

  val queries: Map[String, QueryFn] = Map(
    "q19_universe_sample" -> (q19UniverseSample _),
    "q20_mad_outliers" -> (q20MadOutliers _),
    "w_topn_orders" -> (wTopnOrders _),
    "q18_min_price_supplier" -> (q18MinPriceSupplier _),
    "q17_winsorize" -> (q17Winsorize _),
    "w_gap_fill" -> (wGapFill _),
    "q15_full_outer" -> (q15FullOuter _),
    "q16_semi_chain" -> (q16SemiChain _),
    "q12_unpivot_measures" -> (q12UnpivotMeasures _),
    "q13_set_ops" -> (q13SetOps _),
    "w_ntile_spend" -> (wNtileSpend _),
    "q8_pivot_status" -> (q8PivotStatus _),
    "q9_group_quantiles" -> (q9GroupQuantiles _),
    "q10_price_histogram" -> (q10PriceHistogram _),
    "w_lag_delta" -> (wLagDelta _),
    "q11_status_listagg" -> (q11StatusListagg _),
    "q7_basket_pairs" -> (q7BasketPairs _),
    "q6_rollup_revenue" -> (q6RollupRevenue _),
    "q21_cube_revenue" -> (q21CubeRevenue _),
    "w_running_total" -> (wRunningTotal _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_top_customers" -> (q3TopCustomers _),
    "q4_repeat_customers" -> (q4RepeatCustomers _),
    "t6_referential_orphans" -> (t6ReferentialOrphans _),
    "q5_region_revenue" -> (q5RegionRevenue _))

  val oracles: Map[String, String] = Map(
    "w_topn_orders" -> """
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      FROM orders
      QUALIFY rn <= 2
      ORDER BY o_custkey, rn""",
    "q19_universe_sample" -> s"""
      WITH o AS (SELECT * FROM orders
                 WHERE ${bucketSqlOf("o_orderkey")} < 100000),
      l AS (SELECT * FROM lineitem
            WHERE ${bucketSqlOf("l_orderkey")} < 100000)
      SELECT o.o_orderstatus,
             CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             ${decSumSql("l.l_extendedprice * (1.0 - l.l_discount)")}
               AS revenue
      FROM o JOIN l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderstatus
      ORDER BY o.o_orderstatus""",
    "q20_mad_outliers" -> """
      WITH byp AS (
        SELECT l_returnflag, l_extendedprice, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1, 2),
      medc AS (
        SELECT l_returnflag, l_extendedprice,
               SUM(cnt) OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
        FROM byp),
      med AS (
        SELECT l_returnflag,
               MIN(CASE WHEN cum >= (n + 1) // 2 THEN l_extendedprice END)
                 AS med
        FROM medc GROUP BY 1),
      devs AS (
        SELECT b.l_returnflag, abs(b.l_extendedprice - m.med) AS dev,
               CAST(SUM(b.cnt) AS BIGINT) AS cnt
        FROM byp b JOIN med m USING (l_returnflag) GROUP BY 1, 2),
      devc AS (
        SELECT l_returnflag, dev,
               SUM(cnt) OVER (PARTITION BY l_returnflag
                 ORDER BY dev ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
        FROM devs),
      mad AS (
        SELECT l_returnflag,
               MIN(CASE WHEN cum >= (n + 1) // 2 THEN dev END) AS mad
        FROM devc GROUP BY 1)
      SELECT b.l_returnflag, MAX(m.med) AS median, MAX(d.mad) AS mad,
             CAST(SUM(b.cnt) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN abs(b.l_extendedprice - m.med) > d.mad * 1.5
                           THEN b.cnt ELSE 0 END) AS BIGINT) AS n_outliers,
             MIN(CASE WHEN abs(b.l_extendedprice - m.med) > d.mad * 1.5
                      THEN b.l_extendedprice END) AS min_outlier,
             MAX(CASE WHEN abs(b.l_extendedprice - m.med) > d.mad * 1.5
                      THEN b.l_extendedprice END) AS max_outlier
      FROM byp b JOIN med m USING (l_returnflag)
                 JOIN mad d USING (l_returnflag)
      GROUP BY 1 ORDER BY 1""",
    "q18_min_price_supplier" -> """
      SELECT p.p_partkey, p.p_name,
             MIN(l.l_extendedprice) AS min_price,
             MIN(l.l_suppkey) AS supplier
      FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
      WHERE p.p_size = 1
        AND l.l_extendedprice = (
          SELECT MIN(l2.l_extendedprice) FROM lineitem l2
          WHERE l2.l_partkey = p.p_partkey)
      GROUP BY p.p_partkey, p.p_name
      ORDER BY p.p_partkey""",
    "q17_winsorize" -> s"""
      WITH byp AS (
        SELECT l_returnflag, l_extendedprice, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2),
      cum AS (
        SELECT l_returnflag, l_extendedprice,
          SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
        FROM byp),
      cuts AS (
        SELECT l_returnflag,
          MIN(CASE WHEN cum >= (n + 19) // 20 THEN l_extendedprice END) AS p05,
          MIN(CASE WHEN cum >= (19 * n + 19) // 20 THEN l_extendedprice END) AS p95
        FROM cum GROUP BY l_returnflag)
      SELECT li.l_returnflag, c.p05, c.p95,
        CAST(SUM(CASE WHEN li.l_extendedprice < c.p05 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clipped_low,
        CAST(SUM(CASE WHEN li.l_extendedprice > c.p95 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clipped_high,
        ${decSumSql("GREATEST(LEAST(li.l_extendedprice, c.p95), c.p05)")}
          AS winsorized_sum
      FROM lineitem li JOIN cuts c ON li.l_returnflag = c.l_returnflag
      GROUP BY li.l_returnflag, c.p05, c.p95
      ORDER BY li.l_returnflag""",
    "w_gap_fill" -> s"""
      WITH cal AS (
        SELECT p.o_orderpriority, CAST(t.d AS DATE) AS day
        FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
             generate_series(DATE '1995-01-01', DATE '1995-12-31',
                             INTERVAL 1 DAY) AS t(d)),
      daily AS (
        SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
               COUNT(*) AS n_orders,
               ${decSumSql("o_totalprice")} AS spend
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1, 2)
      SELECT c.o_orderpriority, strftime(c.day, '%Y-%m-%d') AS day,
             CAST(COALESCE(d.n_orders, 0) AS BIGINT) AS n_orders,
             COALESCE(d.spend, 0.0) AS spend,
             strftime(MAX(CASE WHEN d.n_orders > 0 THEN c.day END) OVER (
               PARTITION BY c.o_orderpriority ORDER BY c.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               '%Y-%m-%d') AS last_active_day
      FROM cal c
      LEFT JOIN daily d
        ON c.o_orderpriority = d.o_orderpriority AND c.day = d.day
      ORDER BY c.o_orderpriority, c.day""",
    "q15_full_outer" -> s"""
      WITH a AS (
        SELECT o_custkey, ${decSumSql("o_totalprice")} AS spend_95
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY o_custkey),
      b AS (
        SELECT o_custkey, ${decSumSql("o_totalprice")} AS spend_96
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY o_custkey)
      SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
             a.spend_95, b.spend_96
      FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
      ORDER BY o_custkey""",
    "q16_semi_chain" -> """
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE c_custkey IN (
        SELECT o_custkey FROM orders
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          WHERE l_partkey IN (
            SELECT p_partkey FROM part WHERE p_type LIKE 'PROMO%')))
      ORDER BY c_custkey""",
    "q12_unpivot_measures" -> s"""
      WITH long AS (
        SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'l_discount', l_discount FROM lineitem)
      SELECT measure, COUNT(*) AS n_rows,
             ${decSumSql("value")} AS total,
             MIN(value) AS min_value, MAX(value) AS max_value
      FROM long GROUP BY measure ORDER BY measure""",
    "q13_set_ops" -> """
      WITH a95 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'),
      a96 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01')
      SELECT 'both_95_96' AS cohort,
             (SELECT COUNT(*) FROM (SELECT * FROM a95 INTERSECT SELECT * FROM a96)) AS n
      UNION ALL
      SELECT 'only_95',
             (SELECT COUNT(*) FROM (SELECT * FROM a95 EXCEPT SELECT * FROM a96)) AS n
      ORDER BY cohort""",
    "w_ntile_spend" -> s"""
      SELECT o_custkey, total_spend,
             NTILE(10) OVER (ORDER BY total_spend, o_custkey) AS decile,
             PERCENT_RANK() OVER (ORDER BY total_spend, o_custkey) AS pct_rank
      FROM (
        SELECT o_custkey, ${decSumSql("o_totalprice")} AS total_spend
        FROM orders GROUP BY o_custkey)
      ORDER BY o_custkey""",
    "q8_pivot_status" -> s"""
      SELECT o_orderpriority,
        ${decSumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS spend_f,
        ${decSumSql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS spend_o,
        ${decSumSql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS spend_p
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    "q9_group_quantiles" -> """
      WITH byp AS (
        SELECT l_returnflag, l_extendedprice, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2),
      cum AS (
        SELECT l_returnflag, l_extendedprice,
          SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
        FROM byp)
      SELECT l_returnflag,
        MIN(CASE WHEN cum >= (n + 1) // 2 THEN l_extendedprice END) AS p50,
        MIN(CASE WHEN cum >= (19 * n + 19) // 20 THEN l_extendedprice END) AS p95
      FROM cum GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q10_price_histogram" -> s"""
      SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0), 9) AS BIGINT) AS bucket,
             COUNT(*) AS n_orders,
             ${decSumSql("o_totalprice")} AS spend
      FROM orders
      GROUP BY 1
      ORDER BY bucket""",
    "w_lag_delta" -> """
      SELECT o_custkey, o_orderkey,
             strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
             prev_price,
             CAST(CAST(o_totalprice AS DECIMAL(18,6)) -
                  CAST(prev_price AS DECIMAL(18,6)) AS DOUBLE) AS delta
      FROM (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               LAG(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS prev_price
        FROM orders)
      ORDER BY o_custkey, o_orderkey""",
    "q11_status_listagg" -> """
      SELECT o_custkey,
             string_agg(o_orderstatus, ',' ORDER BY o_orderdate, o_orderkey)
               AS status_seq,
             COUNT(*) AS n_orders
      FROM orders
      GROUP BY o_custkey
      ORDER BY o_custkey""",
    "q7_basket_pairs" -> """
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS n_orders
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      ORDER BY n_orders DESC, part_a, part_b
      LIMIT 20""",
    "q6_rollup_revenue" -> s"""
      SELECT r_name, n_name,
        ${decSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
        COUNT(*) AS n_lines
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",
    "q21_cube_revenue" -> s"""
      SELECT r_name, c_mktsegment,
        ${decSumSql("o_totalprice")} AS revenue,
        COUNT(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY CUBE (r_name, c_mktsegment)
      ORDER BY r_name NULLS FIRST, c_mktsegment NULLS FIRST""",
    "w_running_total" -> """
      SELECT o_custkey, o_orderkey,
             strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_spend
      FROM orders
      ORDER BY o_custkey, o_orderkey""",
    "q14_promo_revenue" -> s"""
      SELECT promo_revenue, total_revenue,
             100.0 * promo_revenue / total_revenue AS promo_pct
      FROM (
        SELECT
          ${decSumSql("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS promo_revenue,
          ${decSumSql("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01')""",
    "q1_pricing_summary" -> s"""
      SELECT l_returnflag, l_linestatus,
        ${decSumSql("l_quantity")} AS sum_qty,
        ${decSumSql("l_extendedprice")} AS sum_base_price,
        ${decSumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
        ${decSumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
        ${decAvgSql("l_quantity")} AS avg_qty,
        ${decAvgSql("l_extendedprice")} AS avg_price,
        ${decAvgSql("l_discount")} AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q3_top_customers" -> s"""
      SELECT c_custkey, c_name, c_mktsegment,
        ${decSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
        COUNT(DISTINCT o_orderkey) AS n_orders
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name, c_mktsegment
      ORDER BY revenue DESC, c_custkey
      LIMIT 10""",
    "q4_repeat_customers" -> s"""
      SELECT o_custkey, COUNT(*) AS n_orders,
        ${decSumSql("o_totalprice")} AS total_spend
      FROM orders
      GROUP BY o_custkey
      HAVING COUNT(*) > 1
      ORDER BY o_custkey""",
    "t6_referential_orphans" -> """
      SELECT COUNT(*) AS orphan_count
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)""",
    "q5_region_revenue" -> s"""
      SELECT r_name,
        ${decSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
        COUNT(*) AS n_lines
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
      ORDER BY r_name""")
}
