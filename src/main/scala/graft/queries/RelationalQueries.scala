package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** General relational coverage over the TPC-H-ish tables: multi-way joins
  * with broadcast of small dimensions, grouped aggregation, top-k windows.
  * The reference itself has no joins (SURVEY §2 "no joins at all"), but a
  * complete engine — and the bench — needs them exercised and planned well.
  *
  * Float-sum parity: every SUM over doubles goes through exact DECIMAL and
  * is cast back, so partial-aggregation order (Spark) vs radix-hash order
  * (DuckDB) cannot change a single bit.
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Row-count gate for `broadcast()` hints on graph relations that grow
    * with the corpus (edge lists, surviving-vertex sets — the part
    * vocabulary is SF×200k, so these are corpus-bounded, NOT fixed).
    * 4M rows of packed (long, long) is ~64 MB on the wire — comfortably
    * broadcastable on any executor profile — while at 100× corpus scale
    * the same relation is multi-GB and the hint would OOM the driver. An
    * explicit hint is never demoted by the planner, so the demotion has to
    * live here: above the gate the hint is simply omitted and the
    * planner/AQE picks a shuffle join with identical semantics
    * (GraphMiningSpec/KcoreSpec pin bit-equality of the shuffle path).
    */
  private[graft] val GraphBroadcastRowLimit: Long = 4L * 1000 * 1000

  /** `broadcast(df)` when the counted relation is within `limitRows`,
    * the un-hinted `df` otherwise (planner's choice — shuffle join at
    * scale).
    */
  private[graft] def broadcastIfAtMost(rows: Long, limitRows: Long)(
      df: DataFrame): DataFrame =
    if (rows <= limitRows) broadcast(df) else df

  /** SCALE-ADAPTIVE fan-out of a compute-heavy probe side (guide §2.5/§2.6):
    * a small scratch/fixture relation reads back as 1–3 file splits
    * (split sizing is byte-based), so a probe that FANS OUT — e.g. the
    * random-walk candidate stream, ~9M hash evaluations from a 1M-row
    * edge relation — serializes on a couple of cores no matter how many
    * the session has. When (and only when) the planned scan has fewer
    * partitions than the session's parallelism, hash-repartition on `key`
    * so the downstream per-candidate work uses the machine; on a real
    * cluster the same relation is big enough that the scan already yields
    * ≥ parallelism splits and this is the identity — the repartition is
    * derived from observed input parallelism, never a tuned constant.
    */
  private def fanOutProbe(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target, key) else df
  }

  /** Association-independent sum of a double expression: exact decimal
    * accumulate, cast back to double.
    */
  private def sumExact(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(30, 10))).cast("double")

  private def sumExactSql(e: String): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(30,10))) AS DOUBLE)"

  /** TPC-H Q1-style pricing summary over lineitem. */
  val q1Pricing: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // each sum is exact in decimal; pround at the value's decimal grain
        // absorbs DuckDB's int128→double double-rounding on huge sums
        graft.Parity.pround(sumExact(col("l_quantity")), 2).as("sum_qty"),
        graft.Parity.pround(sumExact(col("l_extendedprice")), 2).as("sum_base_price"),
        graft.Parity.pround(sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
        graft.Parity.pround(sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 6).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1PricingSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |       ${graft.Parity.proundSql(sumExactSql("l_quantity"), 2)} AS sum_qty,
       |       ${graft.Parity.proundSql(sumExactSql("l_extendedprice"), 2)} AS sum_base_price,
       |       ${graft.Parity.proundSql(sumExactSql("l_extendedprice * (1.0 - l_discount)"), 4)} AS sum_disc_price,
       |       ${graft.Parity.proundSql(sumExactSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)"), 6)} AS sum_charge,
       |       count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Q3-style: revenue of a customer segment's orders — two joins, grouped
    * agg, deterministic top-10. The customer dimension grows with SF
    * (SF×150k), so it carries NO broadcast hint: AQE broadcasts it at
    * small SF and falls back to a key-shuffle join at 100 TB — an explicit
    * hint would pin broadcast forever and OOM at scale.
    */
  val q3TopOrders: Q = (s, dir) => {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val orders = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(graft.Parity.pround(sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3TopOrdersSql: String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       |       floor((${sumExactSql("l_extendedprice * (1.0 - l_discount)")}) * 1e4 + 0.5) / 1e4 AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |GROUP BY 1, 2, 3
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  /** Q5-style: revenue by nation through a 5-way join chain. Only nation
    * (25 rows at ANY scale factor) carries a broadcast hint; customer and
    * supplier grow with SF (SF×150k / SF×10k), so they are left to the
    * planner — AQE broadcasts them while they fit under the threshold and
    * shuffles them at 100 TB. TpchAnalogSpec pins the shuffle path
    * bit-equal under `autoBroadcastJoinThreshold=-1`.
    */
  val q5NationRevenue: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val orders = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    val supp = Tables.supplier(s, dir)
    val nation = Tables.nation(s, dir)
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp,
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(graft.Parity.pround(sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("n_name"))
  }

  val q5NationRevenueSql: String =
    s"""SELECT n_name,
       |       floor((${sumExactSql("l_extendedprice * (1.0 - l_discount)")}) * 1e4 + 0.5) / 1e4 AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q10 analog (returned-item reporting): which customers returned
    * the most revenue in a quarter — the classic fact-fact join + selective
    * dims + grouped top-k report. Plan shape: the lineitem⋈orders join
    * shuffles on the order key with BOTH date and returnflag filters
    * pushed to the scans (the quarter prunes orders before the join);
    * nation broadcasts (fixed 25 rows); customer is SF-growing so it is
    * unhinted — planner/AQE's call; the group set is ≤|customers| with
    * map-side partials; top-20 is TakeOrdered, never a global sort.
    */
  val q10Returns: Q = (s, dir) => {
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1996-04-01 00:00:00")
    Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi)),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(graft.Parity.pround(
        sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10ReturnsSql: String =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       |       floor((${sumExactSql("l_extendedprice * (1.0 - l_discount)")}) * 1e4 + 0.5) / 1e4 AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
       |GROUP BY 1, 2, 3, 4
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  /** TPC-H Q4 analog (order-priority checking): per-priority count of the
    * quarter's orders that had at least one returned line — the canonical
    * EXISTS-subquery shape, planned as a LEFT SEMI join so each order is
    * counted once no matter how many lines matched (a plain inner join
    * would double-count). Plan shape: both filters push to the scans (the
    * quarter prunes orders, the returnflag prunes lineitem before the
    * join); the semi join shuffles on the order key carrying only the key
    * column from the lineitem side (semi joins project nothing else); the
    * 5-group aggregate is map-side partial. At 100 TB nothing here is
    * broadcastable — both sides are fact tables — and nothing needs to be:
    * one key-shuffle each, then a 5-row result.
    */
  val q4PrioritySemi: Q = (s, dir) => {
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1996-04-01 00:00:00")
    val returned = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4PrioritySemiSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q16 analog (parts/supplier relationship): how many DISTINCT
    * suppliers ship each (brand, type, size) of mid-size parts, excluding
    * suppliers on the complaint list (negative account balance) — the
    * canonical NOT-IN shape, planned as a LEFT ANTI join. Plan shape: the
    * part filter pushes to its scan; both the complaint list and the
    * size-pruned part set GROW with SF (supplier SF×10k, part SF×200k),
    * so neither carries a broadcast hint — AQE broadcasts them while they
    * fit and the anti/inner joins degrade to key shuffles with identical
    * semantics at 100 TB; the distinct-count is two-phase (partial
    * distinct on (group, suppkey), then count). Top-20 by count keeps the
    * output bounded at any scale.
    */
  val q16SupplierCnt: Q = (s, dir) => {
    val complaints = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val parts = Tables.part(s, dir).filter(col("p_size") <= 8)
    Tables.lineitem(s, dir)
      .join(complaints, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
      .limit(20)
  }

  val q16SupplierCntSql: String =
    """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
      |       count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_size <= 8
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
      |LIMIT 20""".stripMargin

  /** TPC-H Q18 analog (large-volume customers): orders whose total
    * quantity exceeds a threshold, reported with their customer — the
    * HAVING-IN shape. Planned without any subquery re-scan: ONE grouped
    * aggregate over lineitem produces per-order totals, the HAVING filter
    * reduces it to the (rare) large orders, and THAT relation probes into
    * orders and customer. At 100 TB the aggregate is the only guaranteed
    * fact-scale shuffle; the filtered large-order set is ~0.5% of orders,
    * but both it and customer still GROW with SF, so neither join is
    * hinted — AQE broadcasts whichever side fits at runtime and shuffles
    * otherwise; an explicit hint would pin a 10⁸-row broadcast at scale.
    */
  val q18LargeOrders: Q = (s, dir) => {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(graft.Parity.pround(sumExact(col("l_quantity")), 2).as("total_qty"))
      .filter(col("total_qty") > 150.0)
    Tables.orders(s, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(20)
  }

  val q18LargeOrdersSql: String =
    s"""WITH big AS (
       |  SELECT l_orderkey,
       |         ${graft.Parity.proundSql(sumExactSql("l_quantity"), 2)} AS total_qty
       |  FROM lineitem GROUP BY 1
       |  HAVING ${graft.Parity.proundSql(sumExactSql("l_quantity"), 2)} > 150.0)
       |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
       |FROM big
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY total_qty DESC, o_orderkey
       |LIMIT 20""".stripMargin

  /** TPC-H Q2 analog (minimum-cost supplier): for each part, the
    * EUROPE-region supplier(s) offering its minimum unit cost — the
    * correlated-ARGMIN shape (Q15 is a global scalar max; this is a
    * per-group extremum re-joined on key + extremum equality, reporting
    * ALL tying suppliers). Decorrelated the standard way: the unit-cost
    * relation aggregates once per (part, supplier) — the one fact-scale
    * shuffle — the per-part minimum derives from it co-partitioned (part
    * is a grouping-key prefix, no second exchange), and the argmin
    * JOIN-BACK matches on (partkey, cost = min_cost). Region restriction
    * prunes the supplier dimension BEFORE the cost aggregate, so
    * out-of-region costs never contaminate the minimum (the classic Q2
    * decorrelation bug — filtering after the min instead of before).
    * Parity: unit cost is one IEEE division rounded once per row; min of
    * identically-rounded values is identical; the equality join compares
    * those exact doubles.
    */
  val q2MinCost: Q = (s, dir) => {
    val eurSupp = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    // scratch-materialized: consumed by the per-part minimum AND the
    // argmin join-back — without it both re-run the lineitem scan + join
    // + aggregate (the q15 lesson: ReuseExchange does not cover this)
    val ps = graft.Scratch.table(
      Tables.lineitem(s, dir)
        .join(eurSupp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(graft.Parity.pround(
          min(col("l_extendedprice") / col("l_quantity")), 6).as("cost")),
      "q2-ps")
    val mn = ps.groupBy(col("l_partkey").as("pk"))
      .agg(min(col("cost")).as("min_cost"))
    ps.join(mn, col("l_partkey") === col("pk") && col("cost") === col("min_cost"))
      .join(eurSupp, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.part(s, dir).filter(col("p_size") === 15),
        col("l_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_type"), col("cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(20)
  }

  val q2MinCostSql: String =
    s"""WITH eur AS (
       |  SELECT s_suppkey, s_name, s_acctbal, n_name
       |  FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE r_name = 'EUROPE'),
       |ps AS (
       |  SELECT l_partkey, l_suppkey,
       |         ${graft.Parity.proundSql("min(l_extendedprice / l_quantity)", 6)} AS cost
       |  FROM lineitem JOIN eur ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2),
       |mn AS (SELECT l_partkey AS pk, min(cost) AS min_cost FROM ps GROUP BY 1)
       |SELECT s_acctbal, s_name, n_name, p_partkey, p_type, cost
       |FROM ps
       |JOIN mn ON l_partkey = pk AND cost = min_cost
       |JOIN eur ON ps.l_suppkey = eur.s_suppkey
       |JOIN part ON l_partkey = p_partkey
       |WHERE p_size = 15
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
       |LIMIT 20""".stripMargin

  /** TPC-H Q6 analog (forecasting revenue change): one-table predicate
    * revenue — the canonical SCAN-DOMINATED query: every predicate (date
    * range, discount band, quantity cap) pushes to the parquet scan
    * (`PushedFilters` carries all three), the aggregate is a single
    * map-side-combined global sum, and the exchange moves ONE partial row
    * per task. At 100 TB this is the pure IO benchmark: cost = bytes
    * scanned after row-group pruning, nothing else.
    */
  val q6ForecastRevenue: Q = (s, dir) => {
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24.0)
      .agg(graft.Parity.pround(
        sumExact(col("l_extendedprice") * col("l_discount")), 4).as("revenue"))
  }

  val q6ForecastRevenueSql: String =
    s"""SELECT ${graft.Parity.proundSql(
               sumExactSql("l_extendedprice * l_discount"), 4)} AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24.0""".stripMargin

  /** TPC-H Q12 analog (shipping-priority classification): per returnflag,
    * how many lines belong to high- vs low-priority orders — the
    * CONDITIONAL-AGGREGATION join shape (CASE inside sum, one pass, no
    * per-class re-scan). The join shuffles on the order key; both CASE
    * sums ride the same map-side partial aggregate.
    */
  val q12ShipPriority: Q = (s, dir) => {
    val hi = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  val q12ShipPrioritySql: String =
    """SELECT l_returnflag,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q14 analog (promotion effect): the share of a month's revenue
    * from promo-class parts — the CONDITIONAL-RATIO shape: numerator and
    * denominator accumulate in ONE aggregate pass (a CASE'd exact-decimal
    * sum each), then one IEEE division; part grows with SF (SF×200k) so
    * the join is unhinted — AQE broadcasts it at small SF, shuffles on
    * partkey at 100 TB. The ratio is 100·promo/total with both operands
    * rounded through the same expression on both engines before the
    * division.
    */
  val q14PromoEffect: Q = (s, dir) => {
    val lo = java.sql.Timestamp.valueOf("1996-03-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1996-04-01 00:00:00")
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .agg(
        graft.Parity.pround(
          sumExact(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))),
          4).as("promo_revenue"),
        graft.Parity.pround(sumExact(rev), 4).as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        graft.Parity.pround(
          lit(100.0) * col("promo_revenue") / col("total_revenue"), 6)
          .as("promo_pct"))
  }

  val q14PromoEffectSql: String = {
    val rev = "l_extendedprice * (1.0 - l_discount)"
    s"""WITH a AS (
       |  SELECT ${graft.Parity.proundSql(
                 sumExactSql(s"CASE WHEN p_type = 'PROMO' THEN $rev ELSE 0.0 END"),
                 4)} AS promo_revenue,
       |         ${graft.Parity.proundSql(sumExactSql(rev), 4)} AS total_revenue
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00')
       |SELECT promo_revenue, total_revenue,
       |       ${graft.Parity.proundSql("100.0 * promo_revenue / total_revenue", 6)} AS promo_pct
       |FROM a""".stripMargin
  }

  /** TPC-H Q7 analog (volume shipping): bilateral trade — revenue flowing
    * between two nations BY DIRECTION and year. Distinct from [[q5NationRevenue]]
    * because the nation dimension plays TWO ROLES in one query (supplier's
    * nation vs customer's nation, joined independently), the pair filter
    * is the disjunction of both directions, and the year derives from the
    * order date in the grouping key. Both nation joins broadcast (25 rows
    * at any SF); supplier and customer grow with SF, so their joins are
    * unhinted (AQE's call); the fact-fact join shuffles on the order key
    * once; the (2 directions × years) group set is tiny with map-side
    * partials.
    */
  val q7TradeVolume: Q = (s, dir) => {
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .filter((col("supp_nation") === "FRANCE" && col("cust_nation") === "GERMANY") ||
        (col("supp_nation") === "GERMANY" && col("cust_nation") === "FRANCE"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("o_orderdate")).cast("long").as("l_year"))
      .agg(graft.Parity.pround(
        sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7TradeVolumeSql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |       CAST(year(o_orderdate) AS BIGINT) AS l_year,
       |       ${graft.Parity.proundSql(
                 sumExactSql("l_extendedprice * (1.0 - l_discount)"), 4)} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE (n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
       |   OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE')
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** TPC-H Q8 analog (national market share): one nation's share of a
    * REGION's revenue per year — the PER-GROUP conditional ratio
    * ([[q14PromoEffect]] is the global form): numerator (the focal
    * nation's revenue) and denominator (the region's) accumulate in one
    * CASE'd exact-decimal aggregate pass per year, then one IEEE division
    * per group. The supplier nation drives the CASE; the customer nation
    * chain (customer → nation → region) drives the region restriction —
    * the two roles join independently, as in [[q7TradeVolume]]. Nation and
    * region broadcast (fixed-cardinality); the region-pruned customer set
    * and supplier grow with SF, so the semi probe and the supplier join
    * are unhinted — one order-key shuffle; |years| output rows.
    */
  val q8MarketShare: Q = (s, dir) => {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val suppNation = Tables.nation(s, dir)
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val custRegion = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(custRegion, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("sk"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        graft.Parity.pround(
          sumExact(when(col("supp_nation") === "GERMANY", rev).otherwise(lit(0.0))),
          4).as("nation_revenue"),
        graft.Parity.pround(sumExact(rev), 4).as("region_revenue"))
      .select(col("o_year"), col("nation_revenue"), col("region_revenue"),
        graft.Parity.pround(
          col("nation_revenue") / col("region_revenue"), 6).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  val q8MarketShareSql: String = {
    val rev = "l_extendedprice * (1.0 - l_discount)"
    s"""WITH eurcust AS (
       |  SELECT c_custkey FROM customer
       |  JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE r_name = 'EUROPE'),
       |a AS (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |         ${graft.Parity.proundSql(
                   sumExactSql(s"CASE WHEN n_name = 'GERMANY' THEN $rev ELSE 0.0 END"),
                   4)} AS nation_revenue,
       |         ${graft.Parity.proundSql(sumExactSql(rev), 4)} AS region_revenue
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE o_custkey IN (SELECT c_custkey FROM eurcust)
       |  GROUP BY 1)
       |SELECT o_year, nation_revenue, region_revenue,
       |       ${graft.Parity.proundSql("nation_revenue / region_revenue", 6)} AS mkt_share
       |FROM a ORDER BY o_year""".stripMargin
  }

  /** TPC-H Q13 analog (customer order distribution): how many customers
    * placed 0, 1, 2, … urgent orders — the canonical LEFT OUTER JOIN +
    * two-level aggregate, and the one join shape where INNER is WRONG: the
    * zero-order customers (203 at sf0.01) exist only because unmatched
    * customer rows survive the outer join with a NULL order key that
    * `count(o_orderkey)` then skips. The join predicate carries the
    * priority filter INSIDE the outer join condition (a WHERE would turn
    * it back into an inner join by discarding the NULL rows). Plan shape:
    * one shuffle on custkey for the outer join + first aggregate (both
    * partial-aggregated map-side), then the second aggregate's group count
    * is ≤ max-orders-per-customer — a few dozen groups at any scale.
    */
  val q13OrderDist: Q = (s, dir) => {
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    Tables.customer(s, dir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13OrderDistSql: String =
    """WITH co AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
      |  GROUP BY 1)
      |SELECT c_count, count(*) AS custdist
      |FROM co GROUP BY 1
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q15 analog (top supplier): the supplier(s) whose quarterly
    * revenue equals the maximum — the VIEW + scalar-subquery shape. The
    * revenue relation is computed ONCE (one suppkey-shuffle aggregate over
    * the quarter's pruned lineitem scan) and consumed twice: once for its
    * global max (a 1-row aggregate, broadcast back) and once as the probe
    * side of the equality filter — no re-scan of lineitem for the subquery.
    * Both engines round revenue through the same IEEE expression BEFORE
    * the max/equality, so "ties with the max" is exact, not ulp-lucky.
    * At 100 TB: the revenue relation is |suppliers|-sized, the max is one
    * row (the only hinted broadcast); supplier itself grows with SF so its
    * join is unhinted — nothing scales with the fact table except the
    * first pruned scan.
    */
  val q15TopSupplier: Q = (s, dir) => {
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1996-04-01 00:00:00")
    // scratch-materialized: consumed by BOTH the scalar max and the
    // equality probe — without it each branch re-runs the pruned lineitem
    // scan + aggregate (ReuseExchange does not fire across the differing
    // parent aggregates; verified on the executed plan)
    val rev = graft.Scratch.table(
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
        .groupBy(col("l_suppkey"))
        .agg(graft.Parity.pround(
          sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("total_rev")),
      "q15-rev")
    val mx = rev.agg(max(col("total_rev")).as("mx"))
    rev.join(broadcast(mx), col("total_rev") === col("mx"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  val q15TopSupplierSql: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |         ${graft.Parity.proundSql(
                   sumExactSql("l_extendedprice * (1.0 - l_discount)"), 4)} AS total_rev
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
       |  GROUP BY 1)
       |SELECT s_suppkey, s_name, total_rev
       |FROM rev JOIN supplier ON l_suppkey = s_suppkey
       |WHERE total_rev = (SELECT max(total_rev) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q17 analog (small-quantity-order revenue): revenue from brand
    * lines whose quantity is under half the part's own average — the
    * CORRELATED-AVERAGE shape. Decorrelated the way every engine wants it:
    * the per-part average is ONE grouped aggregate over lineitem (not a
    * per-row subquery re-scan), joined back on the part key. The per-part
    * relation grows with the part vocabulary (∝ SF), so it is NOT
    * broadcast — it meets the brand-pruned lines in a co-partitioned
    * shuffle join on partkey ([[GraphBroadcastRowLimit]] reasoning; the
    * planner may still pick broadcast at small SF via AQE, which is its
    * call, not a hint). Numeric parity: the average is
    * exact-decimal-sum ÷ count — ONE IEEE division on both engines —
    * and the final sum is exact-decimal before the single rounding.
    */
  val q17SmallQty: Q = (s, dir) => {
    val pa = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("pk"))
      .agg((sumExact(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    val brandLines = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).filter(col("p_brand") === "Brand#12"),
        col("l_partkey") === col("p_partkey"))
    brandLines.join(pa, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(graft.Parity.pround(sumExact(col("l_extendedprice")) / lit(7.0), 4)
        .as("avg_yearly"))
  }

  val q17SmallQtySql: String =
    s"""WITH pa AS (
       |  SELECT l_partkey AS pk,
       |         ${sumExactSql("l_quantity")} / count(*) AS avg_qty
       |  FROM lineitem GROUP BY 1)
       |SELECT ${graft.Parity.proundSql(
                 s"(${sumExactSql("l_extendedprice")}) / 7.0", 4)} AS avg_yearly
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN pa ON pk = l_partkey
       |WHERE p_brand = 'Brand#12' AND l_quantity < 0.5 * avg_qty""".stripMargin

  /** TPC-H Q19 analog (discounted revenue, disjunctive predicate): revenue
    * over an OR of three (brand, size, quantity) conjunctions — the shape
    * that tests DISJUNCTION HANDLING in the planner. What should happen
    * (and the captured plan confirms): the per-table halves of the OR are
    * factored out and pushed to each scan — part prunes on
    * `brand IN (…) AND size ≤ 15`, lineitem on `quantity BETWEEN 1 AND 30`
    * — so the join only sees rows that could satisfy SOME branch, and the
    * full cross-table OR is evaluated once as the join filter. Part is
    * brand-pruned to a fraction of a dimension but still SF-growing, so
    * the join is unhinted (AQE broadcasts it while it fits); one scan of
    * each table, no union-of-three-queries rewrite (which would scan
    * lineitem three times).
    */
  val q19Disjunctive: Q = (s, dir) => {
    val branch1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
      col("l_quantity").between(1, 11)
    val branch2 = col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
      col("l_quantity").between(10, 20)
    val branch3 = col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
      col("l_quantity").between(20, 30)
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir)
          .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#3")),
        col("l_partkey") === col("p_partkey"))
      .filter(branch1 || branch2 || branch3)
      .agg(graft.Parity.pround(
        sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
  }

  val q19DisjunctiveSql: String =
    s"""SELECT ${graft.Parity.proundSql(
                 sumExactSql("l_extendedprice * (1.0 - l_discount)"), 4)} AS revenue
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       |       AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       |       AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** TPC-H Q21 analog (suppliers who kept orders waiting): count, per
    * supplier, the returned lines in multi-supplier orders where that
    * supplier was the ONLY one with a return — the DOUBLE-CORRELATED
    * EXISTS + NOT EXISTS shape, planned as one LEFT SEMI and one LEFT ANTI
    * self-join of lineitem, both keyed on the order key with the
    * supplier-inequality as the non-equi residual. Both self-join sides
    * are the SAME fact table co-partitioned on l_orderkey, so the three
    * relations (probe, semi, anti) share one shuffle key end-to-end —
    * at 100 TB this runs as two sort-merge passes over an orderkey-bucketed
    * layout with zero broadcast of anything fact-sized. Row multiplicity
    * matters: numwait counts LINES, not orders, so the probe keeps
    * duplicate (orderkey, suppkey) rows — semi/anti joins never multiply
    * them.
    */
  val q21WaitingSupplier: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val probe = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey"))
    val anyOther = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
    val otherReturned = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
    probe
      .join(anyOther,
        col("l_orderkey") === col("ok2") && col("l_suppkey") =!= col("sk2"),
        "left_semi")
      .join(otherReturned,
        col("l_orderkey") === col("ok3") && col("l_suppkey") =!= col("sk3"),
        "left_anti")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val q21WaitingSupplierSql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY 1
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  /** TPC-H Q22 analog (global sales opportunity): per-nation count and
    * balance of above-average-balance customers who never placed an urgent
    * order — the GLOBAL-SCALAR-SUBQUERY + NOT EXISTS shape. The average is
    * a 1-row aggregate broadcast into every row's comparison (never a
    * per-row re-scan); the NOT EXISTS is a LEFT ANTI join against the
    * urgent-order keys, shuffling on custkey (orders is a fact table — the
    * anti side is NOT broadcast; the filter prunes it to the urgent fifth
    * first). Parity: the average is exact-decimal-sum ÷ count (one IEEE
    * division both engines), the balance comparison is against that exact
    * double, and the final sum rounds once.
    */
  val q22NoUrgent: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg((sumExact(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
    val urgentCust = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(urgentCust, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
        graft.Parity.pround(sumExact(col("c_acctbal")), 2).as("totacctbal"))
      .orderBy(col("n_name"))
  }

  val q22NoUrgentSql: String =
    s"""WITH a AS (
       |  SELECT ${sumExactSql("c_acctbal")} / count(*) AS avg_bal
       |  FROM customer WHERE c_acctbal > 0.0)
       |SELECT n_name, count(*) AS numcust,
       |       ${graft.Parity.proundSql(sumExactSql("c_acctbal"), 2)} AS totacctbal
       |FROM customer CROSS JOIN a
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE c_acctbal > avg_bal
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |                  WHERE o_custkey = c_custkey
       |                    AND o_orderpriority = '1-URGENT')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q9 analog (product-type profit decomposition): profit per
    * (supplier nation, order year) over a name-pruned part slice — THE
    * join-order stress shape: lineitem meets FOUR other relations (part,
    * supplier, orders, nation), two of them SF-growing (part SF×200k,
    * supplier SF×10k), one fact-scale (orders), one fixed (nation). The
    * testdata has no partsupp table, so supply cost derives from the part
    * dimension (`p_retailprice·quantity·0.1` — deterministic and
    * schema-compatible, same role as ps_supplycost·quantity). Plan shape:
    * the name filter prunes part at its scan; only nation is hinted
    * (25 rows at any SF) — the part/supplier joins are AQE's call (they
    * broadcast at bench SF, shuffle at 100 TB); orders joins on the order
    * key — the planner must ORDER these well, which is exactly what Q9
    * exists to stress; the (nation × year) group set is ≤25·|years| with
    * map-side partials.
    */
  val q9Profit: Q = (s, dir) => {
    val profit = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("p_retailprice") * col("l_quantity") * lit(0.1)
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).filter(col("p_name").contains("red")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(graft.Parity.pround(sumExact(profit), 4).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9ProfitSql: String =
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |       ${graft.Parity.proundSql(
                 sumExactSql(
                   "l_extendedprice * (1.0 - l_discount) - p_retailprice * l_quantity * 0.1"),
                 4)} AS sum_profit
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_name LIKE '%red%'
       |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin

  /** TPC-H Q11 analog (important stock identification): the parts whose
    * value through ONE nation's suppliers exceeds a multiple of the
    * average — the GROUP-HAVING-AGAINST-GLOBAL-SCALAR shape: the same
    * grouped relation feeds both the per-group rows and the global
    * aggregate the HAVING compares against. Without partsupp, part value
    * is `Σ extendedprice·quantity` over the focal nation's lines — same
    * two-pass structure as ps_supplycost·ps_availqty. Plan shape: the
    * per-part value relation is scratch-materialized ONCE and consumed
    * twice (per-group probe + 1-row global sum/count) — never two
    * fact-scale scans; the supplier restriction is a left-semi probe
    * BEFORE the aggregate (the SF-growing supplier side is unhinted); the
    * threshold comparison is a broadcast of one row crossed into
    * |parts|-scale rows. Threshold 3× the mean keeps the report a
    * stable tail at any SF (value concentration is scale-invariant).
    */
  val q11ImportantParts: Q = (s, dir) => {
    val natSupp = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_9")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val pv = graft.Scratch.table(
      Tables.lineitem(s, dir)
        .join(natSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(graft.Parity.pround(
          sumExact(col("l_extendedprice") * col("l_quantity")), 2).as("part_value")),
      "q11-pv")
    val total = pv.agg(
      graft.Parity.pround(sumExact(col("part_value")), 2).as("total_value"),
      count(lit(1)).as("n_parts"))
    pv.crossJoin(broadcast(total))
      .filter(col("part_value") >
        col("total_value") * lit(3.0) / col("n_parts").cast("double"))
      .select(col("l_partkey"), col("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  val q11ImportantPartsSql: String =
    s"""WITH pv AS (
       |  SELECT l_partkey,
       |         ${graft.Parity.proundSql(
                   sumExactSql("l_extendedprice * l_quantity"), 2)} AS part_value
       |  FROM lineitem
       |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
       |                      JOIN nation ON s_nationkey = n_nationkey
       |                      WHERE n_name = 'NATION_9')
       |  GROUP BY 1),
       |t AS (SELECT ${graft.Parity.proundSql(
                 sumExactSql("part_value"), 2)} AS total_value,
       |             count(*) AS n_parts FROM pv)
       |SELECT l_partkey, part_value
       |FROM pv CROSS JOIN t
       |WHERE part_value > total_value * 3.0 / CAST(n_parts AS DOUBLE)
       |ORDER BY part_value DESC, l_partkey""".stripMargin

  /** TPC-H Q20 analog (excess-stock suppliers): the focal nation's
    * suppliers holding a (part, supplier) pair whose 1996 shipments
    * dominated its all-time volume, restricted to a name-pruned part
    * slice — the NESTED SEMI-JOIN CHAIN with a correlated quantity bound:
    * supplier ⋉ (pairs ⋉ part) where the bound compares two aggregates of
    * the SAME fact table (the year's quantity vs all-time quantity per
    * pair — the partsupp-free analog of availqty > ½·year-shipments).
    * Plan shape: both pair aggregates group on the identical
    * (partkey, suppkey) key, so they meet co-partitioned after ONE
    * shuffle each with no re-exchange; the part prune is a left-semi
    * probe (part is SF-growing → unhinted); the outer supplier semi
    * probes with the ≤|pairs| qualifying key set; nothing fact-sized is
    * ever broadcast. Semis never multiply rows — each supplier reports
    * once no matter how many qualifying pairs it holds.
    */
  val q20ExcessSuppliers: Q = (s, dir) => {
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    val li = Tables.lineitem(s, dir)
    val pairsAll = li.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(graft.Parity.pround(sumExact(col("l_quantity")), 2).as("qty_all"))
    val pairs96 = li
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .agg(graft.Parity.pround(sumExact(col("l_quantity")), 2).as("qty96"))
    val qualifying = pairsAll
      .join(pairs96, col("l_partkey") === col("pk") && col("l_suppkey") === col("sk"))
      .filter(col("qty96") > lit(0.5) * col("qty_all"))
      .join(Tables.part(s, dir).filter(col("p_name").startsWith("small"))
          .select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_suppkey"))
    Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_9")),
        col("s_nationkey") === col("n_nationkey"))
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }

  val q20ExcessSuppliersSql: String =
    s"""WITH pa AS (
       |  SELECT l_partkey, l_suppkey,
       |         ${graft.Parity.proundSql(sumExactSql("l_quantity"), 2)} AS qty_all
       |  FROM lineitem GROUP BY 1, 2),
       |p96 AS (
       |  SELECT l_partkey, l_suppkey,
       |         ${graft.Parity.proundSql(sumExactSql("l_quantity"), 2)} AS qty96
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  GROUP BY 1, 2)
       |SELECT s_suppkey, s_name, s_acctbal
       |FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |WHERE n_name = 'NATION_9'
       |  AND EXISTS (
       |    SELECT 1 FROM pa JOIN p96 USING (l_partkey, l_suppkey)
       |    WHERE pa.l_suppkey = s_suppkey AND qty96 > 0.5 * qty_all
       |      AND EXISTS (SELECT 1 FROM part
       |                  WHERE p_partkey = pa.l_partkey
       |                    AND p_name LIKE 'small%'))
       |ORDER BY s_name""".stripMargin

  /** Top-3 orders per customer by total price — per-group top-k via
    * row_number (the QUALIFY rewrite, SURVEY §2.3 note).
    */
  val topOrdersPerCustomer: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  val topOrdersPerCustomerSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders)
      |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin

  /** The same per-customer top-3 through the custom bounded-heap aggregate
    * ([[graft.functions.TopKByAgg]], a TypedImperativeAggregate): O(k)
    * state per group, map-side partial top-k, no sort — the shape that
    * wins over the window plan when one key holds a billion rows and k is
    * 3 (the exchange carries one k-bounded buffer per (partition, group),
    * never k full rows, and the window path's per-partition sort
    * disappears). Shares the windowed query's oracle, which proves the
    * fused operator bit-equal to the row_number plan (the
    * `ohlc_1h_fused` pattern).
    */
  val topOrdersHeap: Q = (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(graft.functions.TopKBy.topkByScore(
        col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), col("col.id").as("o_orderkey"),
        col("col.score").as("o_totalprice"),
        (col("pos") + lit(1)).as("rk"))
      .orderBy(col("o_custkey"), col("rk"))

  /** As-of join demo: every event gets the latest hourly per-type summary
    * at or before its timestamp (graft.relational.AsOfJoin; DuckDB's native
    * ASOF JOIN is the oracle).
    */
  val asofJoin: Q = (s, dir) => {
    import graft.forex.Resample
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val hourly = ev
      .groupBy(col("event_type"),
        Resample.bucket(col("ts"), Resample.byName("1h")).as("h_bucket"))
      .agg(max(col("value")).as("h_high"), count(lit(1)).as("h_events"))
    graft.relational.AsOfJoin.backward(
        ev, hourly, leftTs = "ts", rightTs = "h_bucket",
        keys = Seq("event_type"), rightPayload = Seq("h_bucket", "h_high", "h_events"))
      .orderBy(col("event_id"))
  }

  /** The same as-of join through the NATIVE custom plan
    * ([[graft.plans.AsOfJoinNative]]: AsOfJoinNode → AsOfJoinStrategy →
    * AsOfJoinExec) — a co-partitioned streaming merge with one buffered
    * right row per task instead of the union + window carry. Shares
    * `asof_join`'s DuckDB ASOF-JOIN oracle, which proves the whole custom
    * operator (logical node, strategy, physical merge) bit-equal to both
    * the composed form and the reference semantics.
    */
  val asofJoinNative: Q = (s, dir) => {
    import graft.forex.Resample
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val hourly = ev
      .groupBy(col("event_type"),
        Resample.bucket(col("ts"), Resample.byName("1h")).as("h_bucket"))
      .agg(max(col("value")).as("h_high"), count(lit(1)).as("h_events"))
    graft.plans.AsOfJoinNative.backward(
        ev, hourly, leftTs = "ts", rightTs = "h_bucket",
        keys = Seq("event_type"), rightPayload = Seq("h_bucket", "h_high", "h_events"))
      .orderBy(col("event_id"))
  }

  val asofJoinSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
      |hourly AS (
      |  SELECT event_type,
      |         make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS h_bucket,
      |         max(value) AS h_high, count(*) AS h_events
      |  FROM ev GROUP BY 1, 2)
      |SELECT e.event_id, e.ts, e.event_type, e.value, h.h_bucket, h.h_high, h.h_events
      |FROM ev e ASOF LEFT JOIN hourly h
      |  ON e.event_type = h.event_type AND e.ts >= h.h_bucket
      |ORDER BY e.event_id""".stripMargin

  /** As-of join with a STALENESS TOLERANCE (the pandas `merge_asof
    * tolerance` / kdb `wj` window contract): the backward match is kept
    * only when it is at most 8h old, else the row keeps left-join nulls —
    * "enrich with the latest summary, but never with one too stale to
    * trust". Because backward as-of picks the LATEST match ≤ ts, a match
    * outside tolerance proves NO match is inside it, so post-nulling the
    * payload IS tolerance semantics — no second probe needed. The right
    * side keeps only ≥5-event buckets (a quality floor), which is what
    * makes all three outcomes — fresh, stale-nulled, never-matched — live
    * at gate scale. Runs through the NATIVE custom operator
    * ([[graft.plans.AsOfJoinNative]]), so the tolerance arm also re-proves
    * the custom plan under a second oracle.
    *
    * Scale shape: identical to `asof_join_native` (co-partitioned merge,
    * one buffered right row per task) plus a per-row projection.
    */
  val asofTolerance: Q = (s, dir) => {
    import graft.forex.Resample
    val tolUs = 8L * 3600L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val hourly = ev
      .groupBy(col("event_type"),
        Resample.bucket(col("ts"), Resample.byName("1h")).as("h_bucket"))
      .agg(max(col("value")).as("h_high"), count(lit(1)).as("h_events"))
      .filter(col("h_events") >= 5L)
    val joined = graft.plans.AsOfJoinNative.backward(
      ev, hourly, leftTs = "ts", rightTs = "h_bucket",
      keys = Seq("event_type"), rightPayload = Seq("h_bucket", "h_high", "h_events"))
    val fresh = col("h_bucket").isNotNull &&
      (unix_micros(col("ts")) - unix_micros(col("h_bucket"))) <= lit(tolUs)
    joined.select(col("event_id"), col("ts"), col("event_type"), col("value"),
        when(fresh, col("h_bucket")).as("h_bucket"),
        when(fresh, col("h_high")).as("h_high"),
        when(fresh, col("h_events")).as("h_events"))
      .orderBy(col("event_id"))
  }

  val asofToleranceSql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
      |hourly AS (
      |  SELECT event_type,
      |         make_timestamp(epoch_us(ts) - epoch_us(ts) % 3600000000) AS h_bucket,
      |         max(value) AS h_high, count(*) AS h_events
      |  FROM ev GROUP BY 1, 2 HAVING count(*) >= 5),
      |j AS (
      |  SELECT e.event_id, e.ts, e.event_type, e.value,
      |         h.h_bucket, h.h_high, h.h_events
      |  FROM ev e ASOF LEFT JOIN hourly h
      |    ON e.event_type = h.event_type AND e.ts >= h.h_bucket)
      |SELECT event_id, ts, event_type, value,
      |       CASE WHEN h_bucket IS NOT NULL
      |             AND epoch_us(ts) - epoch_us(h_bucket)
      |                 <= CAST(28800000000 AS BIGINT)
      |            THEN h_bucket END AS h_bucket,
      |       CASE WHEN h_bucket IS NOT NULL
      |             AND epoch_us(ts) - epoch_us(h_bucket)
      |                 <= CAST(28800000000 AS BIGINT)
      |            THEN h_high END AS h_high,
      |       CASE WHEN h_bucket IS NOT NULL
      |             AND epoch_us(ts) - epoch_us(h_bucket)
      |                 <= CAST(28800000000 AS BIGINT)
      |            THEN h_events END AS h_events
      |FROM j ORDER BY event_id""".stripMargin

  /** Per-type event KPIs: counts, exact distinct users, exact interpolated
    * percentiles (Spark `percentile` and DuckDB `quantile_cont` share the
    * p·(n−1) interpolation and produce identical doubles — verified), value
    * sums via exact decimal.
    */
  val eventsKpi: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        graft.Parity.pround(expr("percentile(value, 0.5)"), 6).as("value_p50"),
        graft.Parity.pround(expr("percentile(value, 0.95)"), 6).as("value_p95"),
        graft.Parity.pround(sumExact(col("value")), 2).as("value_sum"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"))
      .orderBy(col("event_type"))

  val eventsKpiSql: String =
    s"""SELECT event_type,
       |       count(*) AS n_events,
       |       count(DISTINCT user_id) AS n_users,
       |       ${graft.Parity.proundSql("quantile_cont(CAST(value AS DOUBLE), 0.5)", 6)} AS value_p50,
       |       ${graft.Parity.proundSql("quantile_cont(CAST(value AS DOUBLE), 0.95)", 6)} AS value_p95,
       |       ${graft.Parity.proundSql(sumExactSql("value"), 2)} AS value_sum,
       |       min(CAST(ts AS TIMESTAMP)) AS first_ts,
       |       max(CAST(ts AS TIMESTAMP)) AS last_ts
       |FROM events
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** CDC snapshot diff — the warehouse change-feed primitive: two per-key
    * snapshot aggregates (key = (user_id, event_type); month halves as the
    * two snapshot states), one FULL OUTER join on the key, and a four-way
    * added / removed / changed / unchanged classification with the numeric
    * delta. The key is (user, type) and the snapshots are two single DAYS —
    * sparse enough (≲1 event per key-day) that keys genuinely appear and
    * disappear between snapshots, populating added/removed/changed at any
    * sf; 'unchanged' additionally needs a bit-equal payload (equal count AND
    * equal rounded total), naturally rare for float payloads but kept in the
    * rule because it is the class a real CDC feed suppresses.
    *
    * Scale shape: each snapshot is one hash aggregate partitioned by the
    * key; the diff is one co-partitioned shuffle join — no driver state, no
    * window. Totals go through exact DECIMAL then pround, so 'unchanged'
    * (equality on count AND total) and `delta` (one IEEE subtraction on
    * identical doubles) are deterministic cross-engine.
    */
  val snapshotDiff: Q = (s, dir) => {
    // day restriction via Tables.eventsDay: the range predicate lands on
    // the RAW nanos column, so it reaches the parquet scan as a pushed
    // filter (row-group pruning) instead of a post-read DataFilter
    def snap(p: String, day: String): DataFrame =
      Tables.eventsDay(s, dir, java.time.LocalDate.parse(day))
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as(s"${p}_n"),
          graft.Parity.pround(sumExact(col("value")), 2).as(s"${p}_total"))
    val a = snap("a", "2024-01-05")
    val b = snap("b", "2024-01-20")
    a.join(b, Seq("user_id", "event_type"), "full_outer")
      .withColumn("status",
        when(col("a_n").isNull, lit("added"))
          .when(col("b_n").isNull, lit("removed"))
          .when(col("a_n") === col("b_n") && col("a_total") === col("b_total"),
            lit("unchanged"))
          .otherwise(lit("changed")))
      .withColumn("delta",
        coalesce(col("b_total"), lit(0.0)) - coalesce(col("a_total"), lit(0.0)))
      .select(col("user_id"), col("event_type"), col("status"),
        col("a_n"), col("b_n"), col("a_total"), col("b_total"), col("delta"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Sequential conversion funnel view → click → purchase: a user counts
    * for step k only with a step-k event strictly AFTER their step-(k−1)
    * entry time — the time-ordered semantics that separates a funnel from
    * three independent counts (a purchase before the first view must NOT
    * count). Each stage is a user-keyed aggregate joined to the previous
    * stage's entry times; all three stages hash-partition on user_id, so
    * the chain reuses one partitioning end-to-end and the final rollup is
    * three scalar counts. Conversion rate is each step's user count over
    * the previous step's (exact long counts, one double division).
    */
  /** Column PROFILING in one pass — the Deequ/dbt-docs statistics table a
    * pipeline computes before trusting a new source: per numeric column,
    * row count, null count, distinct count, min/max/exact-decimal mean.
    * The melt (`stack`) runs INSIDE the scan's codegen span, so profiling
    * C columns costs ONE table pass emitting C rows per input row into a
    * C-group aggregate with map-side partials — not C separate scans (the
    * naive profiler) and not a driver loop over columns. distinct-counts
    * are two-phase (partial distinct on (column, value)).
    */
  val tableProfile: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val stacked = li.select(expr(
      s"stack(${cols.length}, " +
        cols.map(c => s"'$c', `$c`").mkString(", ") +
        ") AS (col_name, val)"))
    stacked.groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("val").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("val")).as("n_distinct"),
        min(col("val")).as("min_val"), max(col("val")).as("max_val"),
        graft.Parity.pround(
          sumExact(col("val")) / count(col("val")), 6).as("mean_val"))
      .orderBy(col("col_name"))
  }

  val tableProfileSql: String = {
    def one(c: String): String =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |       count(DISTINCT $c) AS n_distinct,
         |       min($c) AS min_val, max($c) AS max_val,
         |       ${graft.Parity.proundSql(
                   s"${sumExactSql(c)} / count($c)", 6)} AS mean_val
         |FROM lineitem""".stripMargin
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Sequence-PATTERN matching with per-step time bounds — MATCH_RECOGNIZE
    * lite: every `view → next click within 1h → next purchase within 1h`
    * chain, per user. [[funnelSteps]] counts users passing unordered step
    * gates; THIS matches concrete event sequences: each view binds to the
    * NEXT click strictly after it (nearest-successor semantics — if the
    * nearest is outside the window, no later one can be inside), and that
    * click binds to its next purchase, via two composed FORWARD as-of
    * joins ([[graft.relational.AsOfJoin.forwardWithTs]]) — each one key
    * shuffle + one ordered window, never an events×events time-range
    * join. The tolerance filter AFTER the as-of is exact (same argument as
    * `asof_tolerance`: the nearest match out of bounds proves no
    * in-bounds match exists). Output: per-user completed-chain counts —
    * bounded by |users|.
    */
  val funnelSequence: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    def typed(t: String, out: String) =
      ev.filter(col("event_type") === t).select(col("user_id"), col("ts").as(out))
    val hourUs = 3600000000L
    // one chain per DISTINCT (user, view time): the oracle groups by
    // (user_id, view_ts) and the streaming Funnel state machine dedups
    // same-timestamp views, so duplicate view rows must not multiply
    // chains here either (the fixture has none today; this pins the
    // semantics rather than relying on that)
    val s1 = graft.relational.AsOfJoin.forwardWithTs(
        typed("view", "view_ts").dropDuplicates("user_id", "view_ts"),
        typed("click", "ts"),
        "view_ts", "ts", Seq("user_id"), Seq.empty, "click_ts")
      .filter(col("click_ts").isNotNull &&
        unix_micros(col("click_ts")) - unix_micros(col("view_ts")) <= hourUs)
    val s2 = graft.relational.AsOfJoin.forwardWithTs(
        s1, typed("purchase", "ts"),
        "click_ts", "ts", Seq("user_id"), Seq.empty, "purchase_ts")
      .filter(col("purchase_ts").isNotNull &&
        unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")) <= hourUs)
    s2.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_chains"),
        min(col("view_ts")).as("first_chain_start"),
        max(col("purchase_ts")).as("last_chain_end"))
      .orderBy(col("user_id"))
  }

  val funnelSequenceSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      |v AS (SELECT user_id, ts AS view_ts FROM ev WHERE event_type = 'view'),
      |c AS (SELECT user_id, ts FROM ev WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts FROM ev WHERE event_type = 'purchase'),
      |s1 AS (
      |  SELECT v.user_id, v.view_ts, min(c.ts) AS click_ts
      |  FROM v JOIN c ON c.user_id = v.user_id AND c.ts > v.view_ts
      |  GROUP BY 1, 2),
      |s1f AS (
      |  SELECT * FROM s1
      |  WHERE epoch_us(click_ts) - epoch_us(view_ts) <= 3600000000),
      |s2 AS (
      |  SELECT s.user_id, s.view_ts, s.click_ts, min(p.ts) AS purchase_ts
      |  FROM s1f s JOIN p ON p.user_id = s.user_id AND p.ts > s.click_ts
      |  GROUP BY 1, 2, 3),
      |s2f AS (
      |  SELECT * FROM s2
      |  WHERE epoch_us(purchase_ts) - epoch_us(click_ts) <= 3600000000)
      |SELECT user_id, count(*) AS n_chains,
      |       min(view_ts) AS first_chain_start,
      |       max(purchase_ts) AS last_chain_end
      |FROM s2f GROUP BY 1 ORDER BY 1""".stripMargin

  val funnelSteps: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val u1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val u2 = ev.filter(col("event_type") === "click")
      .join(u1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val u3 = ev.filter(col("event_type") === "purchase")
      .join(u2, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val counts = Seq(("1_view", u1), ("2_click", u2), ("3_purchase", u3))
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("n_users")).select(lit(name).as("step"), col("n_users"))
      }.reduce(_.unionAll(_))
    val w = Window.orderBy(col("step"))
    // ANSI guard: an empty previous step must yield rate 0, not 0/0
    // (default ANSI mode throws on double division by zero)
    val prev = coalesce(lag(col("n_users"), 1).over(w), col("n_users")).cast("double")
    counts
      .withColumn("conv_rate", graft.Parity.pround(
        when(prev > lit(0.0), col("n_users").cast("double") / prev)
          .otherwise(lit(0.0)),
        6))
      .orderBy(col("step"))
  }

  val funnelStepsSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
       |u1 AS (
       |  SELECT user_id, min(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
       |u2 AS (
       |  SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN u1 USING (user_id)
       |  WHERE e.event_type = 'click' AND e.ts > u1.t1 GROUP BY 1),
       |u3 AS (
       |  SELECT e.user_id, min(e.ts) AS t3 FROM ev e JOIN u2 USING (user_id)
       |  WHERE e.event_type = 'purchase' AND e.ts > u2.t2 GROUP BY 1),
       |steps AS (
       |  SELECT '1_view' AS step, count(*) AS n_users FROM u1
       |  UNION ALL
       |  SELECT '2_click', count(*) FROM u2
       |  UNION ALL
       |  SELECT '3_purchase', count(*) FROM u3)
       |SELECT step, n_users,
       |       ${graft.Parity.proundSql(
                 "CASE WHEN CAST(coalesce(lag(n_users) OVER (ORDER BY step), n_users) AS DOUBLE) > 0.0 " +
                   "THEN CAST(n_users AS DOUBLE) / CAST(coalesce(lag(n_users) OVER (ORDER BY step), n_users) AS DOUBLE) " +
                   "ELSE 0.0 END",
                 6)} AS conv_rate
       |FROM steps ORDER BY step""".stripMargin

  /** Cohort retention matrix: users grouped by first-seen day (cohort),
    * activity counted as distinct active users per (cohort, day-offset) —
    * the standard retention triangle. Two user-keyed aggregates (first
    * seen; distinct active days) share one hash partitioning; the matrix
    * itself is bounded by days² regardless of user count.
    */
  val retentionCohorts: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val firstSeen = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
    ev.distinct()
      .join(firstSeen, "user_id")
      .select(col("cohort_day"), datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val retentionCohortsSql: String =
    s"""WITH ev AS (
       |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
       |fs AS (
       |  SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY 1)
       |SELECT fs.cohort_day, CAST(ev.d - fs.cohort_day AS BIGINT) AS day_offset,
       |       count(*) AS n_users
       |FROM ev JOIN fs USING (user_id)
       |GROUP BY 1, 2
       |ORDER BY cohort_day, day_offset""".stripMargin

  /** Incremental materialized-view maintenance: the per-(user, event_type)
    * aggregate is maintained by applying ONE day's delta to the base
    * aggregate (full outer join + additive merge) instead of recomputing
    * over history — the core pattern behind every incremental pipeline at
    * 100 TB, where the base is a stored table and only the delta is
    * scanned. The ORACLE is the full recompute over the whole range, so
    * the hash gate literally proves incremental == recompute.
    *
    * Exactness: counts add as longs; per-row values quantize to
    * DECIMAL(30,10), Spark's `sum` accumulates them in DECIMAL(38,10), and
    * each side's total is cast back DOWN to DECIMAL(30,10) (exact while
    * |total| < 10²⁰) before the merge add — so the add is typed
    * DECIMAL(31,10) with no precision-loss rescale (a direct
    * (38,10)+(38,10) would exceed precision 38 and Spark would re-scale the
    * result to (38,9), silently rounding the 10th digit). Decimal addition
    * is associative — splitting the sum at the day boundary cannot change
    * it — and only the merged total is cast to double and rounded. Merging
    * double partials instead would NOT equal the one-shot sum (float
    * addition is not associative).
    *
    * Scale shape: base and delta each aggregate with map-side partials
    * and shuffle once on the compound key; the merge join reuses that
    * partitioning (both sides hash-partitioned identically). The delta
    * side's day restriction lands on the raw nanos column → pushed
    * parquet filter ([[Tables.eventsDay]]).
    */
  val incrementalMv: Q = (s, dir) => {
    val day = java.time.LocalDate.parse("2024-01-20")
    val zero = lit(java.math.BigDecimal.ZERO).cast(MvDec)
    mvAgg(Tables.eventsBefore(s, dir, day), "b")
      .join(mvAgg(Tables.eventsDay(s, dir, day), "d"),
        Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n"),
        graft.Parity.pround(
          (coalesce(col("b_t"), zero) + coalesce(col("d_t"), zero)).cast("double"),
          2).as("total"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Scale every MV total lives at: per-row values quantize here, every
    * aggregate's DECIMAL(38,10) sum is cast back down to this before any
    * merge arithmetic (exact while |total| < 10²⁰), keeping merge adds at
    * DECIMAL(31,10) — under precision 38, so Spark never takes the
    * precision-loss path that re-scales (38,10)+(38,10) to (38,9).
    */
  private val MvDec = DecimalType(30, 10)

  /** The shared MV aggregate: per-key count + exact-decimal value total
    * (map-side partials, one shuffle on the compound key).
    */
  private def mvAgg(df: DataFrame, p: String): DataFrame =
    df.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as(s"${p}_n"),
        sum(col("value").cast(MvDec)).cast(MvDec).as(s"${p}_t"))

  val incrementalMvSql: String =
    s"""SELECT user_id, event_type, count(*) AS n,
       |       ${graft.Parity.proundSql(sumExactSql("value"), 2)} AS total
       |FROM events
       |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-20'
       |GROUP BY user_id, event_type
       |ORDER BY user_id, event_type""".stripMargin

  /** Incremental MV maintenance under RETRACTIONS: corrections / late
    * deletes are the first thing a real incremental-pipeline user hits
    * after inserts (the reference's whole materialization model is
    * incremental MERGE, stg_eurusd.sql:3-10 — a correction batch is the
    * other half of that contract). The MV state (per-(user, event_type)
    * count + exact-decimal total, as maintained by [[incrementalMv]]) is
    * updated by a DELETE batch — here "all `error` events of 2024-01-10
    * were bogus" — as keyed NEGATIVE deltas: `n' = n − d_n`,
    * `total' = total − d_total`, groups draining to zero rows drop out.
    * No recompute over history: the base side is the stored aggregate and
    * only the retraction batch is scanned (day-pruned pushed filter via
    * [[Tables.eventsDay]]).
    *
    * The ORACLE is the full recompute over base-minus-deleted, so the hash
    * gate literally proves retraction == recompute. Exactness: counts
    * subtract as longs; totals subtract in DECIMAL(31,10) (both sides'
    * sums downcast to [[MvDec]] first — exact, associative: removing a
    * subset's exact sum equals summing the remaining rows) and only the
    * final value is cast to double + rounded.
    *
    * Scale shape: identical to [[incrementalMv]] — two one-shuffle
    * aggregates co-partitioned on the compound key, merge join reuses the
    * partitioning; the delta side is one day-partition.
    */
  /** Core of [[incrementalMvDeletes]]: MV state minus a retraction batch,
    * as keyed negative deltas; groups draining to zero rows drop out.
    * Contract: the retraction batch must be a subset of the rows the base
    * aggregate saw (callers guarantee it by deriving deletes from a
    * day-slice of the base range). A non-subset batch fails LOUDLY: any
    * key whose count would go negative hits `raise_error` at execution
    * time, so a caller contract violation is distinguishable from a
    * legitimately drained group (which exits silently via the `n > 0`
    * filter). Exposed package-wide because the drop-out and error arms
    * need synthetic fixtures — no group in the driver data ever fully
    * drains, so without IncrementalMvSpec those branches would be
    * exercised by zero tests.
    */
  private[graft] def mvApplyRetractions(base: DataFrame, deletes: DataFrame): DataFrame = {
    val zero = lit(java.math.BigDecimal.ZERO).cast(MvDec)
    val n = col("b_n") - coalesce(col("d_n"), lit(0L))
    mvAgg(base, "b")
      .join(mvAgg(deletes, "d"), Seq("user_id", "event_type"), "left_outer")
      .select(col("user_id"), col("event_type"),
        when(n < 0L, raise_error(concat(
          lit("mvApplyRetractions: retraction batch is not a subset of base for ("),
          col("user_id").cast("string"), lit(", "), col("event_type"), lit(")"))))
          .otherwise(n).as("n"),
        graft.Parity.pround(
          (col("b_t") - coalesce(col("d_t"), zero)).cast("double"), 2).as("total"))
      .filter(col("n") > 0L)
      .orderBy(col("user_id"), col("event_type"))
  }

  val incrementalMvDeletes: Q = (s, dir) => {
    val asOf = java.time.LocalDate.parse("2024-01-20")
    val delDay = java.time.LocalDate.parse("2024-01-10")
    mvApplyRetractions(
      Tables.eventsBefore(s, dir, asOf.plusDays(1)),
      Tables.eventsDay(s, dir, delDay).filter(col("event_type") === lit("error")))
  }

  val incrementalMvDeletesSql: String =
    s"""SELECT user_id, event_type, count(*) AS n,
       |       ${graft.Parity.proundSql(sumExactSql("value"), 2)} AS total
       |FROM events
       |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-20'
       |  AND NOT (CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '2024-01-10'
       |           AND event_type = 'error')
       |GROUP BY user_id, event_type
       |ORDER BY user_id, event_type""".stripMargin

  /** Core of [[incrementalMvUpdates]]: MV state plus an UPDATE batch — the
    * third arm of the CDC triad and the reference's own materialization
    * contract (dbt incremental MERGE compiles to `WHEN MATCHED THEN
    * UPDATE`, stg_eurusd.sql:3-10): a correction that *changes* a row's
    * value rather than removing it. The batch carries (key, value,
    * new_value) per corrected row and applies as a keyed delta in ONE
    * pass: `Δn = 0`, `Δtotal = Σ dec(new_value) − Σ dec(value)` — exactly
    * the retract-then-insert composition, fused (IncrementalMvSpec proves
    * the equivalence against a row-level recompute). Both per-key sums are
    * [[MvDec]]-quantized and downcast before the subtraction, so the delta
    * and the merge add stay ≤ DECIMAL(31,10) — exact, no precision-loss
    * rescale, which is what makes `stored + Δ = full recompute` hold
    * bit-for-bit (the driver's oracle hash proves it).
    *
    * Contract: every update key must exist in base (callers guarantee it
    * by deriving the batch from a day-slice of the base range); an
    * unmatched key fails loudly via `raise_error` instead of being
    * silently dropped.
    *
    * Scale shape: identical to [[incrementalMv]] — two one-shuffle
    * aggregates co-partitioned on the compound key, merge join reuses the
    * partitioning; the update side is one pushed-filter day-partition.
    */
  private[graft] def mvApplyUpdates(base: DataFrame, updates: DataFrame): DataFrame = {
    val zero = lit(java.math.BigDecimal.ZERO).cast(MvDec)
    val delta = updates.groupBy(col("user_id"), col("event_type"))
      .agg((sum(col("new_value").cast(MvDec)).cast(MvDec) -
        sum(col("value").cast(MvDec)).cast(MvDec)).as("u_dt"))
    mvAgg(base, "b")
      .join(delta, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        when(col("b_n").isNull, raise_error(concat(
          lit("mvApplyUpdates: update batch references a key absent from base ("),
          col("user_id").cast("string"), lit(", "), col("event_type"), lit(")"))))
          .otherwise(col("b_n")).as("n"),
        graft.Parity.pround(
          (col("b_t") + coalesce(col("u_dt"), zero)).cast("double"), 2).as("total"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Incremental MV maintenance under UPDATES — "all `error` events of
    * 2024-01-10 had their value re-stated ×0.5". The restated value is
    * computed in DOUBLE (`value * 0.5` — halving a double is exact, and
    * the identical IEEE op runs on both engines) and quantizes to
    * [[MvDec]] like any inserted row, so update == retract+insert by
    * construction. The ORACLE is the full recompute over the corrected
    * base, so the hash gate literally proves update == recompute.
    */
  val incrementalMvUpdates: Q = (s, dir) => {
    val asOf = java.time.LocalDate.parse("2024-01-20")
    val updDay = java.time.LocalDate.parse("2024-01-10")
    mvApplyUpdates(
      Tables.eventsBefore(s, dir, asOf.plusDays(1)),
      Tables.eventsDay(s, dir, updDay)
        .filter(col("event_type") === lit("error"))
        .select(col("user_id"), col("event_type"), col("value"),
          (col("value") * lit(0.5)).as("new_value")))
  }

  val incrementalMvUpdatesSql: String =
    s"""SELECT user_id, event_type, count(*) AS n,
       |       ${graft.Parity.proundSql(sumExactSql(
             "CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '2024-01-10' " +
               "AND event_type = 'error' THEN value * 0.5 ELSE value END"), 2)} AS total
       |FROM events
       |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-20'
       |GROUP BY user_id, event_type
       |ORDER BY user_id, event_type""".stripMargin

  /** The full MERGE contract in ONE pass: a mixed CDC batch of tagged
    * rows — `op ∈ {insert, delete, update}` with (key, value[, new_value])
    * — applied to the MV state as a single keyed delta, exactly what the
    * reference's incremental MERGE does per run (dbt-bigquery compiles
    * `WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT`,
    * stg_eurusd.sql:3-10; retractions are the CDC completion of that
    * contract). Per key:
    * `Δn = #inserts − #deletes`,
    * `Δtotal = Σ dec(ins.value) − Σ dec(del.value) + Σ (dec(upd.new) − dec(upd.old))`
    * — one aggregate over the batch, one co-partitioned merge join, all
    * arithmetic in [[MvDec]]-downcast decimals (exact, ≤ DECIMAL(31,10),
    * no precision-loss rescale). New keys may appear (net inserts);
    * drained keys drop out; contract violations fail loudly — an unknown
    * `op`, an over-delete, or a delete/update touching a key absent from
    * base all `raise_error` instead of producing silently wrong state.
    * IncrementalMvSpec proves batch == row-level recompute on a fixture
    * exercising all three ops at once; the driver oracle proves it on
    * real data (full recompute over corrected base).
    *
    * Scale shape: identical to [[incrementalMv]] — the batch aggregates
    * with map-side partials and shuffles once on the compound key; the
    * base side is the stored aggregate; at 100 TB the batch is the day's
    * CDC feed, never a history rescan.
    */
  private[graft] def mvApplyCdc(base: DataFrame, batch: DataFrame): DataFrame = {
    val zero = lit(java.math.BigDecimal.ZERO).cast(MvDec)
    val dv = col("value").cast(MvDec)
    val signed = when(col("op") === lit("insert"), dv)
      .when(col("op") === lit("delete"), -dv)
      .when(col("op") === lit("update"), col("new_value").cast(MvDec) - dv)
      .otherwise(raise_error(concat(lit("mvApplyCdc: unknown op '"),
        col("op"), lit("'"))))
    val delta = batch.groupBy(col("user_id"), col("event_type"))
      .agg(
        sum(when(col("op") === lit("insert"), 1L)
          .when(col("op") === lit("delete"), -1L).otherwise(0L)).as("c_dn"),
        sum(signed).cast(MvDec).as("c_dt"))
    val n = coalesce(col("b_n"), lit(0L)) + coalesce(col("c_dn"), lit(0L))
    mvAgg(base, "b")
      .join(delta, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        when(n < 0L, raise_error(concat(
          lit("mvApplyCdc: deletes exceed base rows for ("),
          col("user_id").cast("string"), lit(", "), col("event_type"), lit(")"))))
          .when(col("b_n").isNull && coalesce(col("c_dn"), lit(0L)) <= 0L,
            raise_error(concat(
              lit("mvApplyCdc: delete/update on a key absent from base ("),
              col("user_id").cast("string"), lit(", "), col("event_type"), lit(")"))))
          .otherwise(n).as("n"),
        graft.Parity.pround(
          (coalesce(col("b_t"), zero) + coalesce(col("c_dt"), zero)).cast("double"),
          2).as("total"))
      .filter(col("n") > 0L)
      .orderBy(col("user_id"), col("event_type"))
  }

  /** One CDC run over the MV: day 2024-01-20 arrives as INSERTS, the
    * `error` events of 2024-01-10 are DELETED, and the `click` events of
    * 2024-01-05 are re-stated ×0.5 as UPDATES — all applied in one pass by
    * [[mvApplyCdc]]. The ORACLE is the full recompute over the corrected
    * range, so the hash gate proves the one-pass mixed apply equals the
    * recompute.
    */
  val incrementalMvCdc: Q = (s, dir) => {
    val baseEnd = java.time.LocalDate.parse("2024-01-19")
    val nn = lit(null).cast("double")
    val inserts = Tables.eventsDay(s, dir, java.time.LocalDate.parse("2024-01-20"))
      .select(col("user_id"), col("event_type"), lit("insert").as("op"),
        col("value"), nn.as("new_value"))
    val deletes = Tables.eventsDay(s, dir, java.time.LocalDate.parse("2024-01-10"))
      .filter(col("event_type") === lit("error"))
      .select(col("user_id"), col("event_type"), lit("delete").as("op"),
        col("value"), nn.as("new_value"))
    val updates = Tables.eventsDay(s, dir, java.time.LocalDate.parse("2024-01-05"))
      .filter(col("event_type") === lit("click"))
      .select(col("user_id"), col("event_type"), lit("update").as("op"),
        col("value"), (col("value") * lit(0.5)).as("new_value"))
    mvApplyCdc(Tables.eventsBefore(s, dir, baseEnd.plusDays(1)),
      inserts.unionAll(deletes).unionAll(updates))
  }

  val incrementalMvCdcSql: String =
    s"""SELECT user_id, event_type, count(*) AS n,
       |       ${graft.Parity.proundSql(sumExactSql(
             "CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '2024-01-05' " +
               "AND event_type = 'click' THEN value * 0.5 ELSE value END"), 2)} AS total
       |FROM events
       |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-20'
       |  AND NOT (CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '2024-01-10'
       |           AND event_type = 'error')
       |GROUP BY user_id, event_type
       |ORDER BY user_id, event_type""".stripMargin

  val snapshotDiffSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
       |  FROM events),
       |a AS (
       |  SELECT user_id, event_type, count(*) AS a_n,
       |         ${graft.Parity.proundSql(sumExactSql("value"), 2)} AS a_total
       |  FROM ev WHERE CAST(ts AS DATE) = DATE '2024-01-05' GROUP BY 1, 2),
       |b AS (
       |  SELECT user_id, event_type, count(*) AS b_n,
       |         ${graft.Parity.proundSql(sumExactSql("value"), 2)} AS b_total
       |  FROM ev WHERE CAST(ts AS DATE) = DATE '2024-01-20' GROUP BY 1, 2)
       |SELECT user_id, event_type,
       |       CASE WHEN a_n IS NULL THEN 'added'
       |            WHEN b_n IS NULL THEN 'removed'
       |            WHEN a_n = b_n AND a_total = b_total THEN 'unchanged'
       |            ELSE 'changed' END AS status,
       |       a_n, b_n, a_total, b_total,
       |       coalesce(b_total, 0.0) - coalesce(a_total, 0.0) AS delta
       |FROM a FULL JOIN b USING (user_id, event_type)
       |ORDER BY user_id, event_type""".stripMargin

  /** Gap-based sessionization (30 min) via the custom-state
    * flatMapGroupsWithState operator, batch-executed; the oracle is the
    * classic lag + cumulative-flag SQL sessionization.
    */
  val sessionizeEvents: Q = (s, dir) =>
    graft.streaming.Sessionize.sessionizeBatch(
        Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
        gapMs = 30L * 60000L)
      .orderBy(col("user_id"), col("session_start"))

  /** Same sessionization via the built-in `session_window` grouping
    * (engine-maintained merge state — see Sessionize.sessionizeWindowed);
    * all three forms share one oracle.
    */
  val sessionizeWindow: Q = (s, dir) =>
    graft.streaming.Sessionize.sessionizeWindowed(
        Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
        gapMs = 30L * 60000L)
      .orderBy(col("user_id"), col("session_start"))

  val sessionizeEventsSql: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
       |m AS (
       |  SELECT user_id, ts, value,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)),
       |s AS (
       |  SELECT user_id, ts, value,
       |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, value
       |                          ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM m)
       |SELECT user_id,
       |       min(ts) AS session_start,
       |       max(ts) AS session_end,
       |       count(*) AS n_events,
       |       ${sumExactSql("value")} AS value_sum
       |FROM s GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin

  /** Reshape: daily event counts pivoted to one column per event_type
    * (Spark `pivot`; oracle uses portable conditional aggregation).
    */
  val eventsPivot: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"))
      .groupBy(col("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy(col("day"))

  val eventsPivotSql: String =
    """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |       count(*) FILTER (event_type = 'click') AS click,
      |       count(*) FILTER (event_type = 'error') AS error,
      |       count(*) FILTER (event_type = 'purchase') AS purchase,
      |       count(*) FILTER (event_type = 'signup') AS signup,
      |       count(*) FILTER (event_type = 'view') AS view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Hierarchical subtotals via ROLLUP (flag → flag+status → grand total).
    * NULL subtotal markers sort differently across engines (Spark NULLS
    * FIRST vs DuckDB NULLS LAST by default) — pinned explicitly.
    */
  val lineitemRollup: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        graft.Parity.pround(sumExact(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val lineitemRollupSql: String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       |       ${graft.Parity.proundSql(sumExactSql("l_quantity"), 2)} AS sum_qty
       |FROM lineitem
       |GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Full multi-dimensional subtotal lattice via CUBE over
    * (event_type, day) with `grouping_id` disambiguating which dimensions
    * each row rolls up (both engines put the FIRST cube column in the most
    * significant bit). One shuffle; Spark expands the grouping sets with
    * map-side partial aggregation, so the lattice costs one pass over the
    * fact table — the OLAP dashboard query shape at warehouse scale.
    */
  val eventsCube: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"), col("value"))
      .cube(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"),
        graft.Parity.pround(sumExact(col("value")), 2).as("sum_value"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("event_type").asc_nulls_first, col("d").asc_nulls_first)

  val eventsCubeSql: String =
    s"""WITH t AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, value
       |  FROM events)
       |SELECT event_type, d, count(*) AS n,
       |       ${graft.Parity.proundSql(sumExactSql("value"), 2)} AS sum_value,
       |       CAST(GROUPING(event_type, d) AS BIGINT) AS gid
       |FROM t GROUP BY CUBE (event_type, d)
       |ORDER BY gid, event_type ASC NULLS FIRST, d ASC NULLS FIRST""".stripMargin

  /** Explicit GROUPING SETS — the third subtotal-lattice arm (cube:
    * `events_cube`; rollup: `lineitem_rollup`): exactly the three
    * groupings a reporting layer asks for — (type, day), (type), (day) —
    * no grand total, which neither cube nor rollup can express without
    * post-filtering. Same Expand-based plan: one scan, grouping-set
    * multiplication inside codegen, one map-side-combined aggregate.
    */
  val eventsGroupingSets: Q = (s, dir) => {
    Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"), col("value"))
      .createOrReplaceTempView("graft_gsets_events")
    s.sql(
      s"""SELECT event_type, d, count(*) AS n,
         |       ${graft.Parity.proundSql(sumExactSql("value"), 2)} AS sum_value,
         |       CAST(grouping_id(event_type, d) AS BIGINT) AS gid
         |FROM graft_gsets_events
         |GROUP BY GROUPING SETS ((event_type, d), (event_type), (d))
         |ORDER BY gid, event_type ASC NULLS FIRST, d ASC NULLS FIRST""".stripMargin)
  }

  val eventsGroupingSetsSql: String =
    s"""WITH t AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, value
       |  FROM events)
       |SELECT event_type, d, count(*) AS n,
       |       ${graft.Parity.proundSql(sumExactSql("value"), 2)} AS sum_value,
       |       CAST(GROUPING(event_type, d) AS BIGINT) AS gid
       |FROM t GROUP BY GROUPING SETS ((event_type, d), (event_type), (d))
       |ORDER BY gid, event_type ASC NULLS FIRST, d ASC NULLS FIRST""".stripMargin

  /** Semi-structured column extraction: events.props carries a JSON
    * payload; parse it with a declared schema (`from_json` — codegen'd
    * Jackson parse, schema-on-read at the silver boundary like the
    * reference's API-response parse) and aggregate the extracted field.
    * Per-row parse, zero shuffle before the aggregate.
    */
  val jsonPropsKpi: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val jsonPropsKpiSql: String =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Ranking-window breadth: ntile / percent_rank / cume_dist / first_value
    * over one per-customer ordered window. percent_rank and cume_dist are
    * exact integer ratios ((rank-1)/(n-1), seen/n) so doubles match
    * bit-for-bit cross-engine; the window order is total (price DESC, key)
    * so every rank is deterministic.
    */
  val windowRanks: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        first_value(col("o_orderkey")).over(w).as("top_order"))
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  }

  val windowRanksSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |       percent_rank() OVER w AS pct_rank,
      |       cume_dist() OVER w AS cume,
      |       first_value(o_orderkey) OVER w AS top_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  /** RFM customer segmentation — recency/frequency/monetary quintiles,
    * the classic warehouse segmentation, built on EXACT GLOBAL QUANTILES
    * computed scale-safely: quintile boundaries are rank selections over
    * the [[graft.relational.GlobalIndex]] two-phase global index (range
    * repartition + offset arithmetic), NEVER a single-partition
    * `ntile() OVER ()` — at 100 TB that window funnels every customer
    * through one task; the index form keeps the sort parallel and the
    * boundary extraction is a 4-row conditional aggregate per measure.
    * Assignment is then a broadcast of 12 boundary scalars and a pure
    * per-row CASE (equal values always land in one bucket — value-based,
    * deterministic, unlike rank-split ntile ties). Output: segment label
    * (R/F/M quintile triple) → customer count + exact-decimal average
    * monetary, ≤125 rows at any scale.
    */
  val rfmSegments: Q = (s, dir) => {
    val maxDate = Tables.orders(s, dir)
      .agg(max(col("o_orderdate")).as("mx"))
    val rfm = graft.Scratch.table(
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("freq"),
          graft.Parity.pround(sumExact(col("o_totalprice")), 2).as("mon"))
        .crossJoin(broadcast(maxDate))
        .select(col("o_custkey"),
          datediff(col("mx"), col("last_order")).cast("long").as("rec"),
          col("freq"), col("mon")),
      "rfm-base")
    // exact quintile boundaries per measure: value at global rank
    // ceil(k·n/5), k = 1..4, under the (measure, custkey) total order
    def boundaries(measure: String): DataFrame = {
      val idxed = graft.relational.GlobalIndex.withGlobalIndex(
        rfm.select(col("o_custkey"), col(measure)), Seq(measure, "o_custkey"))
      val n = col("n")
      val withN = idxed.crossJoin(
        broadcast(rfm.agg(count(lit(1)).as("n"))))
      // 4 boundary scalars as one row: max(value where idx == ceil(k n/5))
      val bs = (1 to 4).map { k =>
        max(when(col("idx") === floor((n * k + lit(4L)) / lit(5L)).cast("long"),
          col(measure))).as(s"${measure}_b$k")
      }
      withN.agg(bs.head, bs.tail: _*)
    }
    val withBounds = rfm
      .crossJoin(broadcast(boundaries("rec")))
      .crossJoin(broadcast(boundaries("freq")))
      .crossJoin(broadcast(boundaries("mon")))
    def quint(measure: String) =
      lit(1L) + (1 to 4).map(k =>
        when(col(measure) > col(s"${measure}_b$k"), 1L).otherwise(0L))
        .reduce(_ + _)
    withBounds
      .select(concat(lit("R"), quint("rec"), lit("F"), quint("freq"),
        lit("M"), quint("mon")).as("segment"), col("mon"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        graft.Parity.pround(sumExact(col("mon")) / count(lit(1)), 4)
          .as("avg_monetary"))
      .orderBy(col("segment"))
  }

  val rfmSegmentsSql: String = {
    // DuckDB can afford the naive global row_number at gate scale; the
    // Spark side proves the two-phase rewrite equals it
    s"""WITH mx AS (SELECT max(o_orderdate) AS mxd FROM orders),
       |rfm AS (
       |  SELECT o_custkey,
       |         CAST(date_diff('day', max(o_orderdate), (SELECT mxd FROM mx)) AS BIGINT) AS rec,
       |         count(*) AS freq,
       |         ${graft.Parity.proundSql(sumExactSql("o_totalprice"), 2)} AS mon
       |  FROM orders GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM rfm),
       |recb AS (
       |  SELECT ${(1 to 4).map(k =>
                   s"max(CASE WHEN idx = (n.n * $k + 4) // 5 THEN rec END) AS rec_b$k")
                   .mkString(", ")}
       |  FROM (SELECT rec, row_number() OVER (ORDER BY rec, o_custkey) AS idx FROM rfm)
       |  CROSS JOIN n),
       |freqb AS (
       |  SELECT ${(1 to 4).map(k =>
                   s"max(CASE WHEN idx = (n.n * $k + 4) // 5 THEN freq END) AS freq_b$k")
                   .mkString(", ")}
       |  FROM (SELECT freq, row_number() OVER (ORDER BY freq, o_custkey) AS idx FROM rfm)
       |  CROSS JOIN n),
       |monb AS (
       |  SELECT ${(1 to 4).map(k =>
                   s"max(CASE WHEN idx = (n.n * $k + 4) // 5 THEN mon END) AS mon_b$k")
                   .mkString(", ")}
       |  FROM (SELECT mon, row_number() OVER (ORDER BY mon, o_custkey) AS idx FROM rfm)
       |  CROSS JOIN n),
       |seg AS (
       |  SELECT 'R' || CAST(1 + (rec > rec_b1)::INT + (rec > rec_b2)::INT
       |                     + (rec > rec_b3)::INT + (rec > rec_b4)::INT AS VARCHAR)
       |      || 'F' || CAST(1 + (freq > freq_b1)::INT + (freq > freq_b2)::INT
       |                     + (freq > freq_b3)::INT + (freq > freq_b4)::INT AS VARCHAR)
       |      || 'M' || CAST(1 + (mon > mon_b1)::INT + (mon > mon_b2)::INT
       |                     + (mon > mon_b3)::INT + (mon > mon_b4)::INT AS VARCHAR)
       |         AS segment,
       |         mon
       |  FROM rfm CROSS JOIN recb CROSS JOIN freqb CROSS JOIN monb)
       |SELECT segment, count(*) AS n_customers,
       |       ${graft.Parity.proundSql(
                 s"(${sumExactSql("mon")}) / count(*)", 4)} AS avg_monetary
       |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Tie-aware ranking — rank / dense_rank over an intentionally
    * NON-unique order (integer quantities, heavy ties), the two window
    * functions [[windowRanks]]'s total-order family cannot exercise:
    * rank's gap semantics (1 + rows strictly ahead) and dense_rank's
    * gapless semantics (1 + DISTINCT values ahead) only differ when ties
    * exist. Rows collapse to one output row per (flag, quantity) tie
    * group — rank is constant within the group by definition, which the
    * aggregate makes explicit (min = the value) and keeps the output a
    * 150-row relation at any SF. One window sort + one map-side-partial
    * aggregate, both partitioned by returnflag.
    */
  val windowTies: Q = (s, dir) => {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_quantity").desc)
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity"),
        rank().over(w).cast("long").as("qty_rank"),
        dense_rank().over(w).cast("long").as("qty_dense"))
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("n_ties"),
        min(col("qty_rank")).as("qty_rank"),
        min(col("qty_dense")).as("qty_dense"))
      .orderBy(col("l_returnflag"), col("l_quantity").desc)
  }

  val windowTiesSql: String =
    """WITH r AS (
      |  SELECT l_returnflag, l_quantity,
      |         CAST(rank() OVER w AS BIGINT) AS qty_rank,
      |         CAST(dense_rank() OVER w AS BIGINT) AS qty_dense
      |  FROM lineitem
      |  WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity DESC))
      |SELECT l_returnflag, l_quantity, count(*) AS n_ties,
      |       min(qty_rank) AS qty_rank, min(qty_dense) AS qty_dense
      |FROM r GROUP BY 1, 2
      |ORDER BY l_returnflag, l_quantity DESC""".stripMargin

  /** Distributed global row numbering ([[graft.relational.GlobalIndex]]):
    * a dense 1-based index over the (orderdate, orderkey) total order,
    * WITHOUT the single-task global window the naive
    * `row_number() OVER (ORDER BY …)` plans to. Range repartition keeps
    * the sort parallel; per-partition counts (one row per partition)
    * prefix-sum into offsets that broadcast back; index = offset + local
    * row number. The oracle IS the naive form — DuckDB can afford it at
    * gate scale — proving the two-phase rewrite exact.
    */
  val globalIndexQ: Q = (s, dir) =>
    graft.relational.GlobalIndex.withGlobalIndex(
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
        Seq("o_orderdate", "o_orderkey"))
      .orderBy(col("idx"))

  val globalIndexSql: String =
    """SELECT o_orderkey, o_orderdate, o_totalprice,
      |       row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS idx
      |FROM orders ORDER BY idx""".stripMargin

  /** Semi/anti-join coverage: customers that placed no orders (NOT EXISTS →
    * left_anti) and parts never ordered at all vs parts with line items
    * (EXCEPT / INTERSECT on key sets).
    */
  val customersWithoutOrders: Q = (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  val customersWithoutOrdersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  val partKeySets: Q = (s, dir) => {
    val ordered = Tables.lineitem(s, dir).select(col("l_partkey").as("p_partkey"))
    val parts = Tables.part(s, dir).select(col("p_partkey"))
    val never = parts.exceptAll(ordered.distinct()).withColumn("status", lit("never_ordered"))
    val both = parts.intersect(ordered).withColumn("status", lit("ordered"))
    never.unionByName(both).orderBy(col("status"), col("p_partkey"))
  }

  val partKeySetsSql: String =
    """WITH ordered AS (SELECT DISTINCT l_partkey AS p_partkey FROM lineitem),
      |parts AS (SELECT p_partkey FROM part)
      |SELECT p_partkey, 'never_ordered' AS status FROM (SELECT * FROM parts EXCEPT ALL SELECT * FROM ordered)
      |UNION ALL
      |SELECT p_partkey, 'ordered' AS status FROM (SELECT * FROM parts INTERSECT SELECT * FROM ordered)
      |ORDER BY status, p_partkey""".stripMargin

  /** Aggregation-side skew mitigation: two-phase salted sum over the hot
    * event_type keys. Exact-DECIMAL partials are association-independent, so
    * salting cannot change the result by a bit — the oracle is the PLAIN
    * single-phase sum, proving the salted plan computes the same answer.
    */
  val skewSaltedSum: Q = (s, dir) =>
    graft.relational.Skew.saltedSumExact(
        Tables.events(s, dir), Seq(col("event_type")), col("value"), col("event_id"))
      .select(col("event_type"),
        graft.Parity.pround(col("sum_value"), 6).as("sum_value"))
      .orderBy(col("event_type"))

  val skewSaltedSumSql: String =
    s"""SELECT event_type,
       |       ${graft.Parity.proundSql("CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE)", 6)} AS sum_value
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Join-side skew mitigation for big-skewed x small-dim: the fact side is
    * salted with a content-derived salt, the broadcast dimension is
    * replicated buckets-x, so one hot key (5 event types carry ALL fact
    * rows here — maximal skew) spreads across 16 tasks instead of
    * straggling on one reducer. The oracle is the PLAIN join + aggregate:
    * replication must not duplicate or drop a single row, and exact-DECIMAL
    * sums make the answer association-independent.
    */
  val skewSaltedJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("type_weight", length(col("event_type")).cast("long"))
    graft.relational.Skew.saltedJoinSmall(
        ev, dim, "event_type", saltSource = col("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Parity.pround(
          sumExact(col("value") * col("type_weight").cast("double")), 2)
          .as("weighted_sum"))
      .orderBy(col("event_type"))
  }

  val skewSaltedJoinSql: String =
    s"""WITH dim AS (
       |  SELECT DISTINCT event_type,
       |         CAST(length(event_type) AS BIGINT) AS type_weight
       |  FROM events)
       |SELECT e.event_type, count(*) AS n,
       |       ${graft.Parity.proundSql(
      sumExactSql("e.value * CAST(d.type_weight AS DOUBLE)"), 2)} AS weighted_sum
       |FROM events e JOIN dim d ON e.event_type = d.event_type
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Same sessionization through the whale-user-safe declarative rewrite
    * (window lag + cumulative flag, spillable external sort) — the 100 TB
    * batch path. Shares the stateful operator's oracle: both plans must
    * produce the identical session table.
    */
  val sessionizeRelational: Q = (s, dir) =>
    graft.streaming.Sessionize.sessionizeRelational(
        Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
        gapMs = 30L * 60000L)
      .orderBy(col("user_id"), col("session_start"))

  /** Point-in-interval range join (time-binned equi-join, never a nested
    * loop): events join back into their own 30-minute sessions on
    * (user_id, containment). Self-validating data: sessions partition each
    * user's events, so the range-join count per session must equal the
    * session's own n_events — and the oracle recomputes the join with a raw
    * BETWEEN predicate in DuckDB.
    */
  val rangeJoinSessions: Q = (s, dir) => {
    val events = Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
    val sessions = graft.streaming.Sessionize
      .sessionizeRelational(events, gapMs = 30L * 60000L)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
    graft.relational.RangeJoin.pointInInterval(
        events.select(col("user_id"), col("ts")), sessions, Seq("user_id"),
        "ts", "session_start", "session_end", binWidthUs = 1800000000L)
      .groupBy(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .agg(count(lit(1)).as("n_in_range"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** The SAME containment join through the native custom operator
    * ([[graft.plans.IntervalJoinNative]]: IntervalJoinNode → Strategy →
    * IntervalJoinExec interval sweep) — no binning, no interval
    * replication, no residual filter; shares [[rangeJoinSessions]]'
    * raw-BETWEEN DuckDB oracle, proving the sweep bit-equal to the
    * composed time-binned plan.
    */
  val rangeJoinNative: Q = (s, dir) => {
    val events = Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
    val sessions = graft.streaming.Sessionize
      .sessionizeRelational(events, gapMs = 30L * 60000L)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
    graft.plans.IntervalJoinNative.contains(
        events.select(col("user_id"), col("ts")), sessions, Seq("user_id"),
        "ts", "session_start", "session_end",
        Seq("session_start", "session_end", "n_events"))
      .groupBy(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .agg(count(lit(1)).as("n_in_range"))
      .orderBy(col("user_id"), col("session_start"))
  }

  val rangeJoinSessionsSql: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
       |m AS (
       |  SELECT user_id, ts, value,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)),
       |s AS (
       |  SELECT user_id, ts, value,
       |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, value
       |                          ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM m),
       |sessions AS (
       |  SELECT user_id,
       |         min(ts) AS session_start,
       |         max(ts) AS session_end,
       |         count(*) AS n_events
       |  FROM s GROUP BY user_id, sid)
       |SELECT ss.user_id, ss.session_start, ss.session_end, ss.n_events,
       |       count(*) AS n_in_range
       |FROM sessions ss
       |JOIN e ON e.user_id = ss.user_id
       |      AND e.ts >= ss.session_start AND e.ts <= ss.session_end
       |GROUP BY 1, 2, 3, 4
       |ORDER BY ss.user_id, ss.session_start""".stripMargin

  /** Bloom-pruned exact semi join (graft.relational.BloomPrune): lineitems
    * of URGENT orders, pruned through a distributed bloom sketch before the
    * confirming semi join. The oracle is the PLAIN semi join — blooms have
    * no false negatives and the confirm join kills false positives, so
    * pruning must be result-invisible; only shuffle volume changes.
    */
  val bloomSemiJoin: Q = (s, dir) => {
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    graft.relational.BloomPrune
      .semiJoin(Tables.lineitem(s, dir), "l_orderkey", urgent, "o_orderkey",
        expectedItems = 100000L)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_items"),
        graft.Parity.pround(sumExact(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  val bloomSemiJoinSql: String =
    s"""SELECT l_returnflag, count(*) AS n_items,
       |       ${graft.Parity.proundSql(sumExactSql("l_extendedprice"), 2)} AS sum_price
       |FROM lineitem
       |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
       |                     WHERE o_orderpriority = '1-URGENT')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** PageRank authority over the customer↔supplier trade graph — the
    * iterative whole-graph operator curation stacks run for authority
    * weighting (OPIC-style seed ranking over a link graph). The graph is
    * bipartite and undirected (each distinct customer–supplier pair from
    * orders⋈lineitem contributes both directions; supplier ids NEGATED so
    * the two key spaces cannot collide at any scale factor), so every vertex has out-degree ≥ 1 and the
    * damped update needs no dangling-mass term:
    * `r'(v) = 0.15 + 0.85 · Σ_{u→v} r(u)/outdeg(u)`, `rounds` rounds from
    * r₀ = 1.
    *
    * Cross-engine parity WITHOUT a per-group fold: each per-edge
    * contribution (a double division — identical IEEE op on identical
    * inputs) is quantized to an exact INTEGER via `floor(contrib·scale +
    * 0.5)` — the [[graft.Parity.pround]] expression, bit-identical on both
    * engines — and the per-vertex sum runs over those integers in
    * DECIMAL(20,0): exact, associative, order-FREE. (A direct
    * `CAST(contrib AS DECIMAL(p,s))` would NOT be portable: Spark rounds
    * the shortest decimal representation, DuckDB the full binary expansion
    * — they disagree whenever the repr ends in '5' at the rounding digit.)
    *
    * The quantization scale is AUTO-SIZED from |V| ([[prQuantScale]]) so
    * the integer sum converts back to double exactly — scaled per-vertex
    * in-mass < 2⁵³ — for ALL graph shapes: total rank mass is invariantly
    * ≤ 2|V| (proof in [[prQuantScale]]), per-vertex in-mass is at most the
    * total mass, and the scale is the largest power of 10 with
    * scale·2|V| ≤ 2⁵³. At every bench scale factor this yields the same
    * 1e10 the DuckDB oracle hard-codes (|V| ≤ ~4.5·10⁵ ⇒ scale = 1e10, the
    * cap); an adversarial giant-star graph no longer breaks the bit
    * guarantee — it just gets a coarser (still exact) quantization.
    * base + damp·sum are then identical IEEE ops. Only the final rank is
    * rounded further.
    *
    * Scale shape: edges + out-degrees are derived once and
    * scratch-materialized (at 100 TB: a bucketed table partitioned by
    * src); each round is one src-keyed join of the rank vector (|V| rows,
    * co-partitioned) plus one dst-keyed `sum` over |E| with MAP-SIDE
    * partial aggregation — per-task state is O(1) per distinct dst, so a
    * whale vertex with a billion in-edges costs nothing beyond its share
    * of the shuffle (unlike a collect_list fold, whose per-group state is
    * O(in-degree)). Ranks re-materialize through scratch every 10 rounds
    * (the `bpe_train` lineage-bound pattern, TextQueries — cadence 10
    * measured ~0.5 s faster than 5 at sf0.1: two fewer blocking
    * materializations outweigh the deeper per-job plan), keeping plan
    * depth bounded for any round count.
    */
  /** The scratch-materialized (src, dst, outdeg) edge table of the
    * customer↔supplier trade graph (at 100 TB: a bucketed table
    * partitioned by src).
    */
  /** As a SHARED fixture (r15): seven iterative-graph queries (both
    * pagerank runs, ppr_segment, graph_random_walks,
    * degree_assortativity, label_prop, modularity_score) consume this
    * relation, and each was re-running the orders⋈lineitem scan +
    * distinct + degree join to get it — one (JVM, dir) build now serves
    * them all from parquet (longs round-trip bit-exactly; row order is
    * irrelevant to every consumer, all set-based joins/aggregates).
    */
  private def pagerankEdges(s: SparkSession, dir: String): DataFrame =
    graft.Scratch.fixture(s, s"trade-edges|$dir") {
      val pairs = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), (-col("l_suppkey")).as("p"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("p").as("dst"))
        .union(pairs.select(col("p").as("src"), col("c").as("dst")))
      edges.join(edges.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
    }

  /** Largest power-of-10 quantization scale whose per-vertex integer sums
    * provably fit in 2⁵³ (so DECIMAL(20,0)→double converts exactly), for
    * ANY graph shape up to |E| ≤ 2⁵²/29 ≈ 1.5·10¹⁴ edges (≫ 100 TB of
    * edge data).
    *
    * Bound: per-vertex in-mass ≤ total rank mass T (every term of one
    * vertex's in-sum appears in T's edge decomposition with non-negative
    * coefficients), and T stays ≤ 2|V|: each round
    * T' = 0.15|V| + 0.85·(T + q), where q ≤ |E|/(2·scale) is the worst-case
    * total quantization drift (each per-edge contribution rounds to the
    * nearest scale⁻¹, error ≤ ½·scale⁻¹). From T₀ = |V| the iteration
    * approaches its fixpoint monotonically, so
    * T ≤ |V| + (0.85/0.15)·|E|/(2·scale) < |V| + 2.9·|E|/scale. The chosen
    * scale is within 10× of 2⁵²/|V| (or the 1e10 cap, which is smaller),
    * so 2.9·|E|/scale ≤ 29·|E|·|V|/2⁵² ≤ |V| whenever |E| ≤ 2⁵²/29 —
    * giving T ≤ 2|V| and scale·in-mass ≤ scale·2|V| ≤ 2⁵³ since
    * scale ≤ 2⁵²/|V|. Capped at 1e10 — the value the DuckDB oracle
    * hard-codes, unchanged whenever |V| ≤ 2⁵²/10¹⁰ ≈ 4.5·10⁵ (all bench
    * scale factors; at the cap the drift term is microscopic and the same
    * argument closes trivially).
    */
  private def prQuantScale(nVertices: Long): Double = {
    val maxScale = math.pow(2, 52) / math.max(1L, nVertices).toDouble
    math.pow(10, math.min(10, math.floor(math.log10(maxScale)).toInt))
  }

  /** One damped PageRank round: src-keyed join of the rank vector against
    * the edge table, then a dst-keyed exact integer-quantized sum with
    * map-side partials (per-task state O(1) per distinct dst — a whale
    * vertex with a billion in-edges costs only its shuffle share, unlike a
    * collect_list fold whose per-group state is O(in-degree)).
    */
  private def prRound(eo: DataFrame, ranks: DataFrame, scale: Double,
      bcRanks: DataFrame => DataFrame = identity): DataFrame =
    eo.join(bcRanks(ranks), eo("src") === ranks("v"))
      .select(col("dst"),
        (col("rank") / col("outdeg").cast("double")).as("contrib"))
      .groupBy(col("dst"))
      // floor() on a double is LongType in Spark; DECIMAL(20,0) partials
      // keep the sum exact past BIGINT range at any scale
      .agg(sum(floor(col("contrib") * lit(scale) + lit(0.5))
        .cast(DecimalType(20, 0))).as("si"))
      .select(col("dst").as("v"),
        (lit(3.0 / 20.0) + lit(17.0 / 20.0) *
          (col("si").cast("double") / lit(scale))).as("rank"))

  // plan-capture accessors (graft.PlanDump): the per-round subplans are
  // hidden from the final frame's explain by scratch materialization
  private[graft] def pagerankEdgesForPlans(s: SparkSession, dir: String): DataFrame =
    pagerankEdges(s, dir)
  private[graft] def prRoundForPlans(eo: DataFrame, ranks: DataFrame,
      scale: Double): DataFrame = prRound(eo, ranks, scale)
  private[graft] def walkStepForPlans(frontier: DataFrame, edges: DataFrame,
      t: Int): DataFrame = walkStep(frontier, edges, t)

  private def prFinish(ranks: DataFrame): DataFrame =
    ranks.select(col("v"),
        when(col("v") < 0L, lit("supplier")).otherwise(lit("customer"))
          .as("node_type"),
        graft.Parity.pround(col("rank"), 6).as("rank"))
      .orderBy(col("v"))

  private[graft] def pagerankRanks(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    val eo = pagerankEdges(s, dir)
    val verts = eo.select(col("src").as("v")).distinct()
    val nV = verts.count()
    val scale = prQuantScale(nV)
    // SIZE-GATED broadcast of the |V|-row rank vector (r17): between
    // scratch points the unmaterialized rounds' size estimates compound
    // multiplicatively, so the planner gave up on the rank side and
    // broadcast the EDGE fixture instead — a ~|E|-row hash-relation build
    // per round (plan: 9 of 10 rounds BuildLeft on the edges subtree).
    // The rank vector is |V| rows by construction every round; gate on
    // the |V| count already computed for the quantization scale
    // (graph_triangles' broadcastIfAtMost pattern). Past the gate the
    // hint vanishes and the planner picks shuffle joins, as before.
    val bc = broadcastIfAtMost(nV, GraphBroadcastRowLimit) _
    var ranks = verts.withColumn("rank", lit(1.0))
    for (round <- 1 to rounds) {
      ranks = prRound(eo, ranks, scale, bc)
      if (round % 10 == 0 && round < rounds)
        ranks = graft.Scratch.table(ranks, "pr-ranks")
    }
    prFinish(ranks)
  }

  /** Convergence-terminated PageRank: iterate until the EXACT quantized L1
    * rank delta drops below `eps` (or `maxRounds` as a cap) and report how
    * many rounds ran. The stop test has no doubles in it: per-vertex ranks
    * are re-quantized to scale-integers (`floor(r·scale + 0.5)`, exact —
    * that is the grid the ranks already live on up to the base/damp affine
    * map) and Σ|Δ| accumulates in DECIMAL(20,0); the loop stops when
    * Σ|Δ|/scale < eps. Deterministic on every engine and partitioning —
    * the same property that makes the fixed-round oracle hash-stable.
    *
    * Each round's rank vector is scratch-materialized before the delta
    * action — the delta is a second consumer of the same round, and
    * without materialization each round's action would replay the whole
    * lineage (O(rounds²) work); with it, plan depth stays O(1) per round
    * at any round count.
    *
    * Scale shape per round: identical to [[pagerankRanks]] (one
    * co-partitioned join + one map-side-partial sum) plus one |V|-row
    * co-partitioned self-join for the delta — still no per-group state
    * anywhere. The returned frame is formatted exactly like the
    * fixed-round queries, and PagerankSpec pins
    * `pagerankRanksUntil(...) == pagerankRanks(_, _, roundsRun)`.
    */
  def pagerankRanksUntil(
      s: SparkSession, dir: String, eps: Double, maxRounds: Int): (DataFrame, Int) = {
    val eo = pagerankEdges(s, dir)
    val verts = eo.select(col("src").as("v")).distinct()
    val nV = verts.count()
    val scale = prQuantScale(nV)
    // same |V|-gated rank-side broadcast as pagerankRanks (see there)
    val bc = broadcastIfAtMost(nV, GraphBroadcastRowLimit) _
    def q(c: org.apache.spark.sql.Column) =
      floor(c * lit(scale) + lit(0.5)).cast(DecimalType(20, 0))
    var ranks = graft.Scratch.table(verts.withColumn("rank", lit(1.0)), "pr-r0")
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = graft.Scratch.table(prRound(eo, ranks, scale, bc), "pr-it")
      rounds += 1
      val l1Scaled = Option(next.select(col("v"), col("rank").as("r_new"))
        .join(ranks.select(col("v"), col("rank").as("r_old")), "v")
        .agg(sum(abs(q(col("r_new")) - q(col("r_old")))).as("d"))
        .head().getDecimal(0))
      // sum over zero vertices is NULL ⇒ empty graph ⇒ trivially converged
      converged = l1Scaled.forall(_.doubleValue() / scale < eps)
      ranks = next
    }
    (prFinish(ranks), rounds)
  }

  val pagerankAuthority: Q = (s, dir) => pagerankRanks(s, dir, 5)

  /** 4× the rounds of [[pagerankAuthority]] — the scaling row that pins
    * near-flat per-round cost (the `bpe_train20` pattern): wall time should
    * stay ≲4× the 5-round query because every round is the same
    * one-join-one-sum shape and lineage is re-materialized every 10 rounds.
    */
  val pagerankAuthority20: Q = (s, dir) => pagerankRanks(s, dir, 20)

  /** PERSONALIZED PageRank: proximity to a seed SEGMENT (nation-7
    * customers) instead of global authority — the "expand a cohort"
    * primitive recommendation/audience pipelines run on the trade graph.
    * Same damped iteration as [[pagerankAuthority]] with two changes:
    * restart mass 0.15 is paid only to seeds (split 1/|S|), and r₀ = e_S.
    * All the global version's exactness machinery carries over verbatim —
    * per-edge contributions quantize to integers at [[prQuantScale]] and
    * sum order-free in DECIMAL(20,0); the seed base term is two IEEE
    * double divisions evaluated identically on both engines. Per-vertex
    * in-mass is ≤ the global bound (total mass ≤ 1 + 0.85·drift), so the
    * scale argument holds a fortiori.
    *
    * Scale shape: identical per-round cost to the global rank — one
    * co-partitioned join + one map-side-partial sum — because the DST
    * vertex's seed flag is baked into the scratch edge table at build
    * time (one extra int per edge; grouping by (dst, dst_seed) keeps one
    * group per dst since the flag is functionally dependent on it), so
    * NO per-round join against a base vector exists. The seed set is
    * NEVER collected to the driver (only its count — a watermark-pattern
    * scalar); membership rides as a column.
    */
  val pprSegment: Q = (s, dir) => {
    val eo = pagerankEdges(s, dir)
    val verts = eo.select(col("src").as("v")).distinct()
    val seedCust = Tables.customer(s, dir)
      .filter(col("c_nationkey") === 7).select(col("c_custkey").as("v"))
    val baseDf = graft.Scratch.table(
      verts.join(seedCust.withColumn("sflag", lit(1)), Seq("v"), "left")
        .select(col("v"), coalesce(col("sflag"), lit(0)).as("is_seed")),
      "ppr-base")
    // dst seed flag folded into the edge relation once — each round then
    // needs no base join (the flag travels with the edge row)
    val eoS = graft.Scratch.table(
      eo.join(baseDf.select(col("v").as("dst"), col("is_seed").as("dst_seed")),
        Seq("dst")),
      "ppr-edges")
    val nSeeds = baseDf.filter(col("is_seed") === 1).count()
    require(nSeeds > 0, "ppr_segment: empty seed segment")
    val scale = prQuantScale(verts.count())
    var ranks = baseDf.select(col("v"),
      when(col("is_seed") === 1, lit(1.0) / lit(nSeeds.toDouble))
        .otherwise(lit(0.0)).as("rank"))
    // same |V|-gated rank-side broadcast as pagerankRanks: without it the
    // planner broadcast-builds the scratch edge relation every round
    val bcR = broadcastIfAtMost(verts.count(), GraphBroadcastRowLimit) _
    for (_ <- 1 to 5) {
      ranks = eoS.join(bcR(ranks), eoS("src") === ranks("v"))
        .select(col("dst"), col("dst_seed"),
          (col("rank") / col("outdeg").cast("double")).as("contrib"))
        .groupBy(col("dst"), col("dst_seed"))
        .agg(sum(floor(col("contrib") * lit(scale) + lit(0.5))
          .cast(DecimalType(20, 0))).as("si"))
        .select(col("dst").as("v"),
          (when(col("dst_seed") === 1,
            lit(3.0 / 20.0) / lit(nSeeds.toDouble)).otherwise(lit(0.0)) +
            lit(17.0 / 20.0) *
            (col("si").cast("double") / lit(scale))).as("rank"))
    }
    prFinish(ranks)
  }

  val pprSegmentSql: String = {
    def fold(prev: String): String =
      s"""SELECT b.v,
         |       (CASE WHEN b.is_seed = 1
         |             THEN CAST(3 AS DOUBLE) / CAST(20 AS DOUBLE) / sn.n
         |             ELSE CAST(0 AS DOUBLE) END) +
         |       (CAST(17 AS DOUBLE) / CAST(20 AS DOUBLE)) *
         |       (CAST(sum(CAST(floor((r.rank / CAST(eo.outdeg AS DOUBLE)) * 1e10 + 0.5)
         |                      AS DECIMAL(20,0))) AS DOUBLE) / 1e10) AS rank
         |FROM eo JOIN $prev r ON eo.src = r.v
         |JOIN base b ON b.v = eo.dst CROSS JOIN sn
         |GROUP BY b.v, b.is_seed, sn.n""".stripMargin
    val folds = (1 to 5)
      .map(i => s"r$i AS (${fold(s"r${i - 1}")})").mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS c, -l_suppkey AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT c AS src, p AS dst FROM pairs
       |  UNION ALL
       |  SELECT p AS src, c AS dst FROM pairs),
       |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |eo AS (SELECT e.src, e.dst, o.outdeg FROM edges e JOIN outdeg o USING (src)),
       |verts AS (SELECT DISTINCT src AS v FROM edges),
       |base AS (
       |  SELECT v, CASE WHEN v IN (SELECT c_custkey FROM customer
       |                            WHERE c_nationkey = 7)
       |            THEN 1 ELSE 0 END AS is_seed
       |  FROM verts),
       |sn AS (SELECT CAST(sum(is_seed) AS DOUBLE) AS n FROM base),
       |r0 AS (
       |  SELECT v, CASE WHEN is_seed = 1
       |                 THEN CAST(1 AS DOUBLE) / (SELECT n FROM sn)
       |                 ELSE CAST(0 AS DOUBLE) END AS rank
       |  FROM base),
       |$folds
       |SELECT v,
       |       CASE WHEN v < 0 THEN 'supplier' ELSE 'customer' END AS node_type,
       |       ${graft.Parity.proundSql("rank", 6)} AS rank
       |FROM r5 ORDER BY v""".stripMargin
  }

  private def pagerankSql(rounds: Int): String = {
    def fold(prev: String): String =
      s"""SELECT eo.dst AS v,
         |       CAST(3 AS DOUBLE) / CAST(20 AS DOUBLE) +
         |       (CAST(17 AS DOUBLE) / CAST(20 AS DOUBLE)) *
         |       (CAST(sum(CAST(floor((r.rank / CAST(eo.outdeg AS DOUBLE)) * 1e10 + 0.5)
         |                      AS DECIMAL(20,0))) AS DOUBLE) / 1e10) AS rank
         |FROM eo JOIN $prev r ON eo.src = r.v
         |GROUP BY eo.dst""".stripMargin
    val folds = (1 to rounds)
      .map(i => s"r$i AS (${fold(s"r${i - 1}")})").mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS c, -l_suppkey AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT c AS src, p AS dst FROM pairs
       |  UNION ALL
       |  SELECT p AS src, c AS dst FROM pairs),
       |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |eo AS (SELECT e.src, e.dst, o.outdeg FROM edges e JOIN outdeg o USING (src)),
       |r0 AS (SELECT DISTINCT src AS v, CAST(1 AS DOUBLE) AS rank FROM edges),
       |$folds
       |SELECT v,
       |       CASE WHEN v < 0 THEN 'supplier' ELSE 'customer' END AS node_type,
       |       ${graft.Parity.proundSql("rank", 6)} AS rank
       |FROM r$rounds ORDER BY v""".stripMargin
  }

  val pagerankAuthoritySql: String = pagerankSql(5)
  val pagerankAuthority20Sql: String = pagerankSql(20)

  /** Deterministic random walks over the trade graph — the corpus-scale
    * SAMPLING primitive graph-embedding pipelines (DeepWalk / node2vec)
    * feed on: one length-4 walk started from EVERY vertex, emitted as
    * (walk_id, step, node) context rows. "Random" is the portable-hash
    * trick the sampling family uses everywhere instead of rand(): the
    * next hop from the frontier is the neighbor minimizing
    * hash32(walk_id ‖ step ‖ dst) — uniform-ish over neighbors, diverging
    * across walks and across revisits, and exactly reproducible on both
    * engines (and across retries, which rand() is not).
    *
    * Scale shape: walks advance ALL vertices simultaneously — each step is
    * one frontier⋈edges join on the vertex key (the pagerank round shape)
    * collapsed by ONE map-side-combined `min_by(dst, (h, dst))` aggregate
    * (argmin over the hash with a dst tiebreak — exactly "min hash, then
    * min dst at that hash" in a single partial-aggregable pass) instead
    * of a per-walk ranking window: a hub vertex with 10⁹ neighbors costs
    * its shuffle share, never one task's window buffer. Only the
    * |V|-sized FRONTIER is scratch-materialized per step (it has two
    * consumers: the next round's join and the output union) — the
    * |frontier|·degree candidate stream stays in flight, never on disk.
    * Steps are a fixed small hyperparameter; output is (L+1)·|V| rows.
    */
  /** One walk advance: frontier⋈edges candidates, collapsed per walk by
    * the portable-hash argmin (min hash, then min dst). Factored out of
    * [[graphRandomWalks]] so the step plan is capturable/optimizable in
    * one place — the expression is byte-identical to the inline original.
    */
  private def walkStep(frontier: DataFrame, edges: DataFrame,
      t: Int): DataFrame =
    frontier.join(edges, col("cur") === col("src"))
      .select(col("walk_id"), col("dst"),
        graft.functions.PortableHash.hash32(
          concat_ws("|", col("walk_id"), lit(t), col("dst"))).as("h"))
      .groupBy(col("walk_id"))
      // hash-aggregable argmin (r17): min_by(dst, struct(h, dst)) carries
      // a struct buffer and planned as Sort + SortAggregate over the full
      // ~9M-row candidate stream per hub step; LexMinLong is the same
      // argmin with a flat (double, long) buffer — HashAggregate +
      // map-side partials + codegen, no sort. h < 2^32 is exact in
      // double; ties resolve on the exact long dst, so the selected hop
      // is bit-identical (shared oracle unchanged).
      .agg(graft.functions.LexMinAggregate
        .argMinLong(col("h"), col("dst")).as("cur"))

  val graphRandomWalks: Q = (s, dir) => {
    val walkLen = 4
    // fan the edge relation out to the session's parallelism before the
    // per-candidate hash (r17): the fixture reads back as 1–3 file
    // splits, so the ~9M portable-hash evaluations of a hub step ran on
    // 2–3 cores (measured: the hash alone was 3.6 s of the 3.9 s step);
    // one 1M-row hash exchange buys 32-way candidate hashing. No-op on
    // scans that already plan ≥ parallelism splits (real-scale tables).
    val edges = fanOutProbe(
      pagerankEdges(s, dir).select(col("src"), col("dst")), col("src"))
    // the start frontier has the same two consumers every later frontier
    // has (round-1 join + output union) — scratch it for the same reason.
    // CLOSED (r16 bounded investigation, SCALE.md "random-walk cost"):
    // the per-round scratch is the RIGHT physical shape — the fused/lazy
    // form (no scratch, exchange-reuse across the union's branches) was
    // measured SLOWER (20.6 s vs 17.5 s same host, sf0.1) because the
    // expensive hub-parity step subtrees re-evaluate under the union and
    // AQE plans each branch independently; and the dominant cost is not
    // the scratch at all but the candidate stream itself — the trade
    // graph is bipartite, so supplier-parity hops park ~15k walks on
    // ~1k hub suppliers and the frontier⋈edges explosion is
    // Σ walks(v)·deg(v) ≈ 9M oracle-pinned portable-hash evaluations
    // (steps 2/4 ≈ 7-8 s; customer-parity steps 1/3 ≈ 600k rows, ~1-2 s).
    // The hash is the VALUE contract (DuckDB replays it bit-for-bit), so
    // a cheaper hash is not an available lever. Do not re-litigate.
    var frontier = graft.Scratch.table(
      edges.select(col("src")).distinct()
        .select(col("src").as("walk_id"), col("src").as("cur")),
      "walk-frontier-0")
    val steps = scala.collection.mutable.ArrayBuffer[DataFrame](
      frontier.select(col("walk_id"), lit(0L).as("step"), col("cur").as("node")))
    for (t <- 1 to walkLen) {
      frontier = graft.Scratch.table(walkStep(frontier, edges, t),
        s"walk-frontier-$t")
      steps += frontier.select(col("walk_id"), lit(t.toLong).as("step"),
        col("cur").as("node"))
    }
    steps.reduce(_ unionAll _).orderBy(col("walk_id"), col("step"))
  }

  val graphRandomWalksSql: String = {
    def step(t: Int): String =
      s"""c$t AS (SELECT f.walk_id, e.dst,
         |        ${graft.functions.PortableHash.hash32Sql(
                s"CAST(f.walk_id AS VARCHAR) || '|$t|' || CAST(e.dst AS VARCHAR)")} AS h
         |        FROM s${t - 1} f JOIN edges e ON f.cur = e.src),
         |m$t AS (SELECT walk_id, min(h) AS mh FROM c$t GROUP BY 1),
         |s$t AS (SELECT c.walk_id, min(c.dst) AS cur
         |        FROM c$t c JOIN m$t m ON c.walk_id = m.walk_id AND c.h = m.mh
         |        GROUP BY 1)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS c, -l_suppkey AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT c AS src, p AS dst FROM pairs
       |  UNION ALL
       |  SELECT p AS src, c AS dst FROM pairs),
       |s0 AS (SELECT DISTINCT src AS walk_id, src AS cur FROM edges),
       |${(1 to 4).map(step).mkString(",\n")}
       |SELECT walk_id, CAST(0 AS BIGINT) AS step, walk_id AS node FROM s0
       |${(1 to 4).map(t =>
          s"UNION ALL SELECT walk_id, CAST($t AS BIGINT) AS step, cur AS node FROM s$t")
          .mkString("\n")}
       |ORDER BY walk_id, step""".stripMargin
  }

  /** Sorted-neighborhood entity resolution (Hernández–Stolfo) over the
    * customer relation: sort by the blocking key (name, custkey
    * tiebreak), then compare each record only against its next `w = 3`
    * neighbors in that order, matching when the segments agree and the
    * name edit distance is ≤ 2. The candidate space is w·n — LINEAR in
    * the corpus where naive pairwise ER is quadratic — and that is the
    * whole point of the method.
    *
    * Scale shape: the global sort order comes from [[graft.relational
    * .GlobalIndex.withGlobalIndex]] (range-partitioned parallel rank,
    * never one task's window); each record then EXPLODES its w probe
    * ranks and the candidate pairing is a rank-keyed equi-join —
    * co-partitioned on a dense integer key, so neighbors that straddle a
    * range-partition boundary still meet (the classic flaw of a
    * per-partition sliding window) and the join is an even shuffle by
    * construction (ranks are unique — zero skew). Levenshtein runs on
    * the w·n candidate rows only.
    */
  val erSortedNeighborhood: Q = (s, dir) => {
    val w = 3
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val idxed = graft.Scratch.table(
      graft.relational.GlobalIndex.withGlobalIndex(
        cust, Seq("c_name", "c_custkey"), idxName = "rnk"),
      "er-snm-ranked")
    val probes = idxed
      .withColumn("probe",
        explode(sequence(col("rnk") + lit(1L), col("rnk") + lit(w.toLong))))
    val right = idxed.select(col("rnk").as("probe"),
      col("c_custkey").as("custkey_b"), col("c_name").as("name_b"),
      col("c_mktsegment").as("seg_b"))
    // thresholded levenshtein: the DP runs a bounded band and bails at
    // distance > 2 (returns -1) — on long keys the per-pair cost is
    // O(len·threshold), not O(len²)
    probes.join(right, "probe")
      .withColumn("dist",
        levenshtein(col("c_name"), col("name_b"), 2).cast("long"))
      .filter(col("c_mktsegment") === col("seg_b") &&
        col("dist") >= 0L && col("dist") <= 2L)
      .select(col("c_custkey").as("custkey_a"), col("custkey_b"),
        col("c_name").as("name_a"), col("name_b"), col("dist"))
      .orderBy(col("custkey_a"), col("custkey_b"))
  }

  val erSortedNeighborhoodSql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_name, c_mktsegment,
      |         row_number() OVER (ORDER BY c_name, c_custkey) AS rnk
      |  FROM customer)
      |SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
      |       a.c_name AS name_a, b.c_name AS name_b,
      |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      |FROM c a JOIN c b
      |  ON b.rnk - a.rnk BETWEEN 1 AND 3
      | AND a.c_mktsegment = b.c_mktsegment
      |WHERE levenshtein(a.c_name, b.c_name) <= 2
      |ORDER BY custkey_a, custkey_b""".stripMargin

  /** Join-key skew profile — the diagnostic a pipeline runs BEFORE
    * choosing a join/partitioning strategy at 100 TB: for each candidate
    * lineitem join key, the distinct-key count, max per-key multiplicity,
    * skew ratio (max/mean — how much heavier the heaviest key is than the
    * average), top-10 heavy-hitter share, and the Herfindahl–Hirschman
    * concentration index Σ share². skew_ratio ≈ 1 and tiny HHI → hash
    * partitioning balances; a large ratio → that key needs salting or
    * AQE skew-join.
    *
    * Scale shape: ONE lineitem scan fans each row out to its three
    * (key_name, key) facts via explode; per-key counts are a map-side-
    * combined hash aggregate, scratch-materialized once for its two
    * consumers. The top-10 rank window is partitioned by key_name and
    * filtered to rank ≤ 10, which WindowGroupLimit prunes to 10 rows per
    * partition BEFORE any sort buffer grows (never a full per-key sort).
    * All sums are exact integers (Σ cnt² stays in DECIMAL(38,0) —
    * overflow-safe to ~10⁹-multiplicity keys); each reported ratio is a
    * single IEEE division of exact integers, so the oracle matches
    * bit-for-bit with no quantized-sum machinery.
    */
  val skewProfile: Q = (s, dir) => {
    val keys = Tables.lineitem(s, dir).select(explode(array(
        struct(lit("l_orderkey").as("key_name"), col("l_orderkey").as("key")),
        struct(lit("l_partkey").as("key_name"), col("l_partkey").as("key")),
        struct(lit("l_suppkey").as("key_name"), col("l_suppkey").as("key"))))
        .as("s"))
      .select(col("s.key_name").as("key_name"), col("s.key").as("key"))
    val counts = graft.Scratch.table(
      keys.groupBy(col("key_name"), col("key")).agg(count(lit(1)).as("cnt")),
      "skew-key-counts")
    val top10 = counts
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("key_name"))
          .orderBy(col("cnt").desc, col("key"))))
      .filter(col("rk") <= 10)
      .groupBy(col("key_name")).agg(sum(col("cnt")).as("top10"))
    counts.groupBy(col("key_name"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("total_rows"),
        max(col("cnt")).as("max_cnt"),
        // cast BEFORE squaring: a >3e9-multiplicity key would wrap the
        // Long product before a cast-after-multiply could rescue it
        sum(col("cnt").cast(DecimalType(19, 0)) * col("cnt")).as("sumsq"))
      .join(top10, "key_name")
      .select(col("key_name"), col("n_keys"), col("total_rows"), col("max_cnt"),
        // products computed in DOUBLE (exact-int conversions, fixed IEEE
        // op order on both engines): max_cnt·n_keys and total² overflow
        // BIGINT precisely at the corpus scale this profiles
        graft.Parity.pround(
          (col("max_cnt").cast("double") * col("n_keys").cast("double")) /
            col("total_rows").cast("double"), 6).as("skew_ratio"),
        graft.Parity.pround(
          col("top10").cast("double") / col("total_rows").cast("double"), 6)
          .as("top10_share"),
        graft.Parity.pround(
          col("sumsq").cast("double") /
            (col("total_rows").cast("double") *
              col("total_rows").cast("double")), 6)
          .as("hhi"))
      .orderBy(col("key_name"))
  }

  val skewProfileSql: String =
    s"""WITH k AS (
       |  SELECT 'l_orderkey' AS key_name, l_orderkey AS key FROM lineitem
       |  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
       |  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
       |c AS (SELECT key_name, key, CAST(count(*) AS BIGINT) AS cnt
       |      FROM k GROUP BY 1, 2),
       |t10 AS (SELECT key_name, CAST(sum(cnt) AS BIGINT) AS top10 FROM (
       |          SELECT key_name, cnt,
       |                 row_number() OVER (PARTITION BY key_name
       |                                    ORDER BY cnt DESC, key) AS rk
       |          FROM c) WHERE rk <= 10 GROUP BY 1),
       |st AS (SELECT key_name, CAST(count(*) AS BIGINT) AS n_keys,
       |              CAST(sum(cnt) AS BIGINT) AS total_rows,
       |              max(cnt) AS max_cnt,
       |              CAST(sum(CAST(cnt AS DECIMAL(19,0)) * cnt) AS DECIMAL(38,0)) AS sumsq
       |       FROM c GROUP BY 1)
       |SELECT st.key_name, n_keys, total_rows, max_cnt,
       |       ${graft.Parity.proundSql(
                 "(CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)) / CAST(total_rows AS DOUBLE)",
                 6)} AS skew_ratio,
       |       ${graft.Parity.proundSql(
                 "CAST(top10 AS DOUBLE) / CAST(total_rows AS DOUBLE)",
                 6)} AS top10_share,
       |       ${graft.Parity.proundSql(
                 "CAST(sumsq AS DOUBLE) / (CAST(total_rows AS DOUBLE) * CAST(total_rows AS DOUBLE))",
                 6)} AS hhi
       |FROM st JOIN t10 USING (key_name) ORDER BY key_name""".stripMargin

  /** Exact join-cardinality profile — [[skewProfile]]'s companion
    * planning diagnostic: for each candidate equi-join, the EXACT output
    * cardinality |A⋈B| = Σ_k c_A(k)·c_B(k) computed from the two per-key
    * COUNT relations, never by materializing the join. The expansion
    * factor (join rows per left row) is the number a pipeline checks
    * before running a fan-out join at 100 TB — an unexpected 50×
    * expansion is tomorrow's full-disk shuffle.
    *
    * Scale shape: each side collapses to its key-count relation first
    * (map-side-combined aggregate — orders of magnitude smaller than the
    * table), the two count relations meet co-partitioned on the key, and
    * the Σ c_A·c_B products accumulate in DECIMAL(38,0) (two billion-row
    * sides sharing a hot key overflow BIGINT). Output: one row per
    * profiled join.
    */
  val joinSizeEstimate: Q = (s, dir) => {
    def profile(name: String, left: DataFrame, right: DataFrame,
        key: String): DataFrame = {
      val ca = left.groupBy(col(key)).agg(count(lit(1)).as("ca"))
      val cb = right.groupBy(col(key)).agg(count(lit(1)).as("cb"))
      // cast BEFORE the product — two ~4e9-multiplicity sides sharing a
      // key would wrap the Long multiply before a cast-after could help
      val agg = ca.join(cb, key)
        .agg(sum(col("ca").cast(DecimalType(19, 0)) * col("cb"))
          .as("join_rows"))
      val totals = left.agg(count(lit(1)).as("left_rows"))
        .crossJoin(right.agg(count(lit(1)).as("right_rows")))
      agg.crossJoin(totals).select(
        lit(name).as("join_name"),
        col("left_rows"), col("right_rows"),
        coalesce(col("join_rows"), lit(0)).cast("long").as("join_rows"),
        graft.Parity.pround(
          coalesce(col("join_rows"), lit(0)).cast("double") /
            col("left_rows").cast("double"), 6).as("expansion"))
    }
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    val c = Tables.customer(s, dir)
      .withColumnRenamed("c_custkey", "o_custkey")
    profile("customer_orders", c, o, "o_custkey")
      .unionAll(profile("orders_lineitem",
        o.withColumnRenamed("o_orderkey", "l_orderkey"), l, "l_orderkey"))
      .unionAll(profile("lineitem_lineitem_samesupp", l, l, "l_suppkey"))
      .orderBy(col("join_name"))
  }

  val joinSizeEstimateSql: String = {
    def one(name: String, lt: String, rt: String, lk: String,
        rk: String): String =
      s"""SELECT '$name' AS join_name,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $lt) AS left_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $rt) AS right_rows,
         |  COALESCE(CAST((SELECT sum(CAST(ca AS DECIMAL(19,0)) * cb) FROM
         |     (SELECT $lk AS k, CAST(count(*) AS BIGINT) AS ca
         |      FROM $lt GROUP BY 1) a
         |     JOIN
         |     (SELECT $rk AS k, CAST(count(*) AS BIGINT) AS cb
         |      FROM $rt GROUP BY 1) b USING (k)) AS BIGINT), 0) AS join_rows,
         |  ${graft.Parity.proundSql(
             s"""CAST(COALESCE((SELECT sum(CAST(ca AS DECIMAL(19,0)) * cb) FROM
                |     (SELECT $lk AS k, CAST(count(*) AS BIGINT) AS ca
                |      FROM $lt GROUP BY 1) a
                |     JOIN
                |     (SELECT $rk AS k, CAST(count(*) AS BIGINT) AS cb
                |      FROM $rt GROUP BY 1) b USING (k)), 0) AS DOUBLE)
                | / (SELECT CAST(count(*) AS DOUBLE) FROM $lt)""".stripMargin,
             6)} AS expansion""".stripMargin
    s"""${one("customer_orders", "customer", "orders", "c_custkey", "o_custkey")}
       |UNION ALL
       |${one("orders_lineitem", "orders", "lineitem", "o_orderkey", "l_orderkey")}
       |UNION ALL
       |${one("lineitem_lineitem_samesupp", "lineitem", "lineitem",
           "l_suppkey", "l_suppkey")}
       |ORDER BY join_name""".stripMargin
  }

  /** First-order Markov transition matrix over user event journeys — the
    * behavioral model a funnel/attribution analysis generalizes to: for
    * every ordered pair of event types, how often does `prev` lead
    * directly to `cur` within a user's stream, and with what conditional
    * probability p(cur | prev). The matrix drives journey simulation,
    * anomaly scoring (improbable transitions), and next-event prediction.
    *
    * Scale shape: ONE hash exchange on user_id feeds the lag window
    * (partition = a user's event count — the sessionize whale bound);
    * transition counts are a map-side-combined aggregate into a
    * |types|²-bounded group set; row totals derive from the COUNT
    * relation, not a second corpus pass; p is a single IEEE division of
    * exact integers. The (ts, event_id) order key makes the lag
    * deterministic under same-timestamp events.
    */
  val markovTransitions: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = ev
      .select(col("user_id"), lag(col("event_type"), 1).over(w).as("prev"),
        col("event_type").as("cur"))
      .filter(col("prev").isNotNull)
    val cnt = trans.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cnt"))
    val tot = cnt.groupBy(col("prev")).agg(sum(col("cnt")).as("tot"))
    cnt.join(tot, "prev")
      .select(col("prev"), col("cur"), col("cnt"),
        graft.Parity.pround(
          col("cnt").cast("double") / col("tot").cast("double"), 6).as("p"))
      .orderBy(col("prev"), col("cur"))
  }

  val markovTransitionsSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
      |  FROM events),
      |tr AS (SELECT prev, cur FROM (
      |         SELECT lag(event_type) OVER (PARTITION BY user_id
      |                                      ORDER BY ts, event_id) AS prev,
      |                event_type AS cur
      |         FROM e)
      |       WHERE prev IS NOT NULL),
      |c AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS cnt
      |      FROM tr GROUP BY 1, 2),
      |t AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY 1)
      |SELECT c.prev, c.cur, c.cnt,
      |       floor((CAST(c.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS p
      |FROM c JOIN t USING (prev) ORDER BY prev, cur""".stripMargin

  /** Top navigation paths — the most frequent length-3 event-type
    * sequences across user journeys ([[markovTransitions]] is the
    * order-1 view; this is the sequence-mining tier that catches what a
    * transition matrix factorizes away, e.g. view→click→purchase vs
    * view→click→error). Same shape: one per-user ordered window (the
    * user-key whale bound the markov/sessionize family already pins),
    * then a map-side-combined count into a ≤|types|³-bounded relation;
    * the global top-10 is an ORDER BY … LIMIT (per-task heaps + a 10-row
    * driver merge), never a full sort.
    */
  val topPaths: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("e1"), col("e2"), col("e3"))
      .limit(10)
  }

  val topPathsSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
      |  FROM events),
      |seq AS (SELECT e1, e2, e3 FROM (
      |          SELECT event_type AS e1,
      |                 lead(event_type, 1) OVER w AS e2,
      |                 lead(event_type, 2) OVER w AS e3
      |          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |        WHERE e2 IS NOT NULL AND e3 IS NOT NULL)
      |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS cnt
      |FROM seq GROUP BY 1, 2, 3
      |ORDER BY cnt DESC, e1, e2, e3 LIMIT 10""".stripMargin

  /** Association-rule mining (market-basket support/confidence/lift) over
    * order baskets — the classic co-occurrence analysis a curation pipeline
    * runs to find correlated attributes. Baskets are orders; items are the
    * part BRANDS in the order (25 distinct, so pair space is bounded at
    * 600 directed pairs regardless of corpus size — the item-vocabulary
    * bound every production basket miner relies on).
    *
    * Shape: one unhinted join to the SF-growing part dimension (AQE
    * broadcasts it while it fits, partkey-shuffles at scale), one distinct
    * (basket, item) projection, then a SELF-JOIN ON THE BASKET KEY —
    * co-partitioned, one shuffle on o_orderkey, never item×item across
    * baskets. Item frequencies and the basket count ride in as broadcast
    * relations; support/confidence/lift are per-row arithmetic after that.
    * At 100 TB the pair aggregate is map-side combined into ≤600 groups.
    */
  val assocRules: Q = (s, dir) => {
    val items = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("item"))
      .distinct()
    val consts = items.agg(countDistinct(col("ok")).as("n_baskets"))
    val itemN = items.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val a = items.select(col("ok"), col("item").as("antecedent"))
    val b = items.select(col("ok"), col("item").as("consequent"))
    a.join(b, Seq("ok"))
      .filter(col("antecedent") =!= col("consequent"))
      .groupBy(col("antecedent"), col("consequent"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 5)
      .join(broadcast(itemN.withColumnRenamed("item", "antecedent")
        .withColumnRenamed("n_item", "n_a")), Seq("antecedent"))
      .join(broadcast(itemN.withColumnRenamed("item", "consequent")
        .withColumnRenamed("n_item", "n_b")), Seq("consequent"))
      .crossJoin(broadcast(consts))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        graft.Parity.pround(
          col("n_ab").cast("double") / col("n_baskets").cast("double"), 6).as("support"),
        graft.Parity.pround(
          col("n_ab").cast("double") / col("n_a").cast("double"), 6).as("confidence"),
        graft.Parity.pround(
          (col("n_ab").cast("double") / col("n_a").cast("double")) /
            (col("n_b").cast("double") / col("n_baskets").cast("double")), 6).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(20)
  }

  val assocRulesSql: String =
    s"""WITH d AS (
       |  SELECT DISTINCT l_orderkey AS ok, p_brand AS item
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |consts AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM d),
       |ni AS (SELECT item, count(*) AS n_item FROM d GROUP BY 1),
       |pairs AS (
       |  SELECT d1.item AS antecedent, d2.item AS consequent, count(*) AS n_ab
       |  FROM d d1 JOIN d d2 ON d1.ok = d2.ok AND d1.item <> d2.item
       |  GROUP BY 1, 2 HAVING count(*) >= 5)
       |SELECT antecedent, consequent, n_ab,
       |       ${graft.Parity.proundSql(
                 "CAST(n_ab AS DOUBLE) / CAST(c.n_baskets AS DOUBLE)", 6)} AS support,
       |       ${graft.Parity.proundSql(
                 "CAST(n_ab AS DOUBLE) / CAST(na.n_item AS DOUBLE)", 6)} AS confidence,
       |       ${graft.Parity.proundSql(
                 "(CAST(n_ab AS DOUBLE) / CAST(na.n_item AS DOUBLE)) / (CAST(nb.n_item AS DOUBLE) / CAST(c.n_baskets AS DOUBLE))",
                 6)} AS lift
       |FROM pairs
       |JOIN ni na ON pairs.antecedent = na.item
       |JOIN ni nb ON pairs.consequent = nb.item
       |CROSS JOIN consts c
       |ORDER BY lift DESC, antecedent, consequent
       |LIMIT 20""".stripMargin

  /** Per-vertex triangle counting on the parts-co-ordered graph (two parts
    * are adjacent when some order contains both) — the local clustering
    * signal dedup/community pipelines use to separate clique-like duplicate
    * clusters from star-like hub artifacts.
    *
    * The enumeration is DEGREE-ORDERED ORIENTATION (the standard
    * MapReduce/GraphX formulation): each undirected edge is directed from
    * its lower-(degree, id) endpoint to the higher, making out-degrees
    * bounded by O(√m) on any graph, so the wedge join `o(a,b) ⋈ o(b,c)`
    * generates O(m^1.5) candidates worst-case — the known optimal bound —
    * instead of Σ deg² (which a hub vertex makes quadratic). Wedges are
    * closed by one join against the oriented edge set; each triangle is
    * found exactly once and credits all three corners via explode. The
    * only shuffles are the edge-distinct and the final 20k-group
    * aggregate when the edge list fits the broadcast gate; on a graph too
    * big to broadcast (the edge relation grows with the part vocabulary,
    * which grows ∝ SF) the SAME two joins run un-hinted as shuffle joins
    * with identical semantics — [[broadcastIfAtMost]] is the size gate,
    * and GraphMiningSpec proves the shuffle path bit-equal.
    *
    * Oracle note: the DuckDB mirror enumerates by id order (u<v<w), which
    * finds the same triangle set — orientation only changes WHICH copy of
    * each triangle is generated, not the multiset of corners credited.
    */
  /** The parts-co-order HALF-EDGE relation (u < v, distinct) as a SHARED
    * fixture (r15): four graph queries (graph_triangles, bfs_hops,
    * sssp_weighted, kcore_parts) consume exactly this set, and each was
    * re-running the lineitem self-join + distinct to derive it — the
    * heaviest shared derivation in the graph family. One (JVM, dir)
    * build; longs round-trip parquet bit-exactly and every consumer is
    * set-based, so values are unchanged.
    */
  private def partsHalfEdges(s: SparkSession, dir: String): DataFrame =
    graft.Scratch.fixture(s, s"parts-co-edges|$dir") {
      val d = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("it"))
        .distinct()
      d.as("d1").join(d.as("d2"), Seq("ok"))
        .filter(col("d1.it") < col("d2.it"))
        .select(col("d1.it").as("u"), col("d2.it").as("v"))
        .distinct()
    }

  def graphTriangles(s: SparkSession, dir: String,
      broadcastRowLimit: Long = GraphBroadcastRowLimit): DataFrame = {
    // the shared fixture doubles as the old per-query scratch: the degree
    // aggregate, the orientation join, and the broadcast gate's count all
    // read the same files
    val edges = partsHalfEdges(s, dir)
    val m = edges.count()
    // SIZE-GATED broadcast: at bench SF the edge list is a few hundred k
    // rows and every probe below is a broadcast-hash join, so the wedge
    // stream flows scan→probe→probe→partial-agg in one codegen pipeline
    // with no exchange; past the gate the hints vanish and the planner
    // (with AQE) picks shuffle joins — degrees and the oriented edge set
    // both scale with m, so both ride the same gate
    val bc = broadcastIfAtMost(m, broadcastRowLimit) _
    val deg = edges.select(col("u").as("x")).unionAll(edges.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val ranked = edges
      .join(bc(deg.select(col("x").as("u"), col("deg").as("du"))), Seq("u"))
      .join(bc(deg.select(col("x").as("v"), col("deg").as("dv"))), Seq("v"))
    // scratch-materialized: three consumers below (probe side + two
    // broadcasts) would otherwise each re-derive the orientation lineage
    val oriented = graft.Scratch.table(ranked.select(
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("src"), col("v").as("dst")))
        .otherwise(struct(col("v").as("src"), col("u").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")), "tri-oriented")
    // spread the PROBE side (r18): the oriented scratch reads back as ~10
    // file splits, so the dominant pipeline — wedge fan-out + two broadcast
    // probes + partial agg, measured 4.9 s of the 6.9 s wall — ran on 10 of
    // 32 cores. Observed-splits-gated (identity at any scale where the
    // relation already plans >= parallelism splits); consumers are
    // aggregates, so row order is immaterial. (An r17 attempt predating the
    // portable-hash and argmin fixes measured this neutral; re-measured
    // after them it is the remaining serialization.)
    val wedges = Tables.spread(oriented).as("e1")
      .join(bc(oriented).as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val tris = wedges.join(
      bc(oriented.select(col("src").as("a"), col("dst").as("c"))).as("e3"),
      Seq("a", "c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("p_partkey"))
      .groupBy(col("p_partkey")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("p_partkey"))
      .limit(20)
  }

  val graphTrianglesSql: String =
    s"""WITH d AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS it FROM lineitem),
       |ed AS (
       |  SELECT DISTINCT d1.it AS u, d2.it AS v
       |  FROM d d1 JOIN d d2 ON d1.ok = d2.ok AND d1.it < d2.it),
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM ed e1 JOIN ed e2 ON e1.v = e2.u
       |  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v),
       |corners AS (
       |  SELECT unnest([a, b, c]) AS p_partkey FROM tri)
       |SELECT p_partkey, count(*) AS n_triangles
       |FROM corners GROUP BY 1
       |ORDER BY n_triangles DESC, p_partkey
       |LIMIT 20""".stripMargin

  /** Multi-source BFS on the parts-co-ordered graph: minimum hop distance
    * from a deterministic 3-vertex seed set (the three smallest vertex ids
    * in the edge relation), reported as a per-hop histogram — the
    * reachability primitive curation pipelines use to expand a trusted
    * seed set outward ("everything within k hops of known-good documents")
    * and the fourth member of the iterative-graph family (PageRank =
    * value iteration, label-prop = plurality iteration, k-core = peeling,
    * BFS = frontier expansion).
    *
    * Min-hop semantics make the loop monotone: a vertex enters `dist`
    * exactly once, at its first (= minimum) hop, enforced by the anti-join
    * of each frontier's neighbors against everything already labeled. The
    * loop runs to a hop CAP (keeps the oracle a finite CTE chain, the
    * [[kcoreParts]] pattern) with FIXPOINT early exit — an empty frontier
    * proves every later frontier is empty, so exiting early is
    * bit-identical to running the cap out.
    *
    * Scale shape per round: one co-partitioned join of the frontier
    * against the edge table (scratch-materialized once, both directions;
    * at 100 TB: a bucketed table on src), one distinct, one anti-join
    * against the accumulated label set — all key-shuffles, nothing
    * broadcast (frontiers start seed-sized but grow toward |V|, so hints
    * would be the graph_triangles mistake; the planner/AQE picks the
    * strategy). The frontier count is the per-round driver scalar (the
    * fixpoint check), and `dist` scratch-materializes per round, capping
    * lineage depth at one round.
    */
  def bfsHops(s: SparkSession, dir: String, maxHops: Int = 4): DataFrame = {
    val half = partsHalfEdges(s, dir)
      .select(col("u").as("src"), col("v").as("dst"))
    // undirected: both directions are two cheap scans of the half-edge
    // fixture per probe (the expensive self-join+distinct is in the files)
    val edges = half.unionAll(
      half.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = edges.select(col("src").as("x")).distinct()
      .orderBy(col("x")).limit(3)
    var dist = graft.Scratch.table(
      seeds.select(col("x"), lit(0L).as("hop")), "bfs-d0")
    var frontier = dist.select(col("x"))
    var hop = 1
    var done = false
    while (!done && hop <= maxHops) {
      val next = frontier.join(edges, frontier("x") === edges("src"))
        .select(col("dst").as("x")).distinct()
        .join(dist, Seq("x"), "left_anti")
        .select(col("x"), lit(hop.toLong).as("hop"))
      val fresh = graft.Scratch.table(next, s"bfs-d$hop")
      if (fresh.isEmpty) done = true
      else {
        // dist stays a LAZY union of the per-hop scratch tables (r17):
        // the accumulator was re-written to scratch every round, a write
        // + read-back job per hop that bought nothing — each hop's
        // frontier is already materialized, hop count is bounded, and
        // every consumer (the anti-join probe, the final rollup) reads
        // the same rows either way.
        dist = dist.unionAll(fresh)
        frontier = fresh.select(col("x"))
        hop += 1
      }
    }
    dist.groupBy(col("hop"))
      .agg(count(lit(1)).as("n_parts"),
        min(col("x")).as("min_part"), max(col("x")).as("max_part"))
      .orderBy(col("hop"))
  }

  val bfsHopsSql: String = {
    def round(i: Int): String =
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS x FROM f${i - 1} f JOIN e ON f.x = e.src
         |  WHERE e.dst NOT IN (SELECT x FROM d${i - 1})),
         |d$i AS MATERIALIZED (
         |  SELECT x, hop FROM d${i - 1}
         |  UNION ALL SELECT x, CAST($i AS BIGINT) AS hop FROM f$i)""".stripMargin
    val rounds = 4
    val chain = (1 to rounds).map(round).mkString(",\n")
    s"""WITH dd AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS it FROM lineitem),
       |half AS MATERIALIZED (
       |  SELECT DISTINCT d1.it AS src, d2.it AS dst
       |  FROM dd d1 JOIN dd d2 ON d1.ok = d2.ok AND d1.it < d2.it),
       |e AS MATERIALIZED (
       |  SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half),
       |d0 AS MATERIALIZED (
       |  SELECT x, CAST(0 AS BIGINT) AS hop FROM (
       |    SELECT DISTINCT src AS x FROM e ORDER BY 1 LIMIT 3)),
       |f0 AS (SELECT x FROM d0),
       |$chain
       |SELECT hop, count(*) AS n_parts, min(x) AS min_part, max(x) AS max_part
       |FROM d$rounds GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Community QUALITY measurement — Newman modularity per community over
    * the [[labelProp]] partition of the trade graph: `Q_c = m_c/m −
    * (d_c/2m)²` (intra-edge fraction minus the random-graph expectation).
    * This is the evaluation step community detection needs before anyone
    * trusts the labels — a partition with near-zero modularity is noise
    * regardless of how pretty the label counts look.
    *
    * Scale shape: the label vector joins the edge table TWICE (src label,
    * dst label) — both co-partitioned key joins; intra-edge and degree
    * sums are map-side-combined aggregates into a |communities|-sized
    * relation; per-community arithmetic is one division, one square, one
    * subtract — identical IEEE op order both engines, from exact integer
    * counts (every directed edge count is even by symmetry, so the /2
    * halving is exact). Output is the 20 largest communities — bounded at
    * any graph size; the global Q is the reader's exact decimal sum away.
    */
  val modularityScore: Q = (s, dir) => {
    val edges = pagerankEdges(s, dir).select(col("src"), col("dst"))
    val labels = labelPropagate(edges, maxRounds = 4)._1
      .select(col("v"), col("label"))
    val m = edges.count() / 2L // both directions materialized
    val labeled = edges
      .join(labels.select(col("v").as("sv"), col("label").as("src_label")),
        col("src") === col("sv"))
      .join(labels.select(col("v").as("dv"), col("label").as("dst_label")),
        col("dst") === col("dv"))
    // directed same-label edges: each undirected intra edge counted twice
    val intra = labeled.filter(col("src_label") === col("dst_label"))
      .groupBy(col("src_label").as("community"))
      .agg((count(lit(1)) / 2L).cast("long").as("intra_edges"))
    // deg(v) = directed out-count (symmetric edges); d_c = sum over members
    val degSum = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
      .join(labels, Seq("v"))
      .groupBy(col("label").as("community"))
      .agg(sum(col("deg")).as("degree_sum"), count(lit(1)).as("n_nodes"))
    degSum.join(intra, Seq("community"), "left_outer")
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        graft.Parity.pround(
          coalesce(col("intra_edges"), lit(0L)).cast("double") / lit(m.toDouble) -
            (col("degree_sum").cast("double") / lit(2.0 * m)) *
              (col("degree_sum").cast("double") / lit(2.0 * m)), 12)
          .as("q_contrib"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(20)
  }

  val modularityScoreSql: String = {
    def round(prev: String, i: Int): String =
      s"""l$i AS MATERIALIZED (
         |  SELECT dst AS v, label FROM (
         |    SELECT dst, label,
         |           row_number() OVER (PARTITION BY dst
         |                              ORDER BY cnt DESC, label ASC) AS rn
         |    FROM (SELECT e.dst, l.label, count(*) AS cnt
         |          FROM e JOIN $prev l ON e.src = l.v
         |          GROUP BY e.dst, l.label))
         |  WHERE rn = 1)""".stripMargin
    val chain = (1 to 4).map(i => round(s"l${i - 1}", i)).mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS c, -l_suppkey AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS MATERIALIZED (
       |  SELECT c AS src, p AS dst FROM pairs
       |  UNION ALL
       |  SELECT p AS src, c AS dst FROM pairs),
       |l0 AS (SELECT DISTINCT src AS v, src AS label FROM e),
       |$chain,
       |m AS (SELECT count(*) / 2 AS m FROM e),
       |lab AS (SELECT v, label FROM l4),
       |intra AS (
       |  SELECT ls.label AS community, CAST(count(*) / 2 AS BIGINT) AS intra_edges
       |  FROM e
       |  JOIN lab ls ON e.src = ls.v
       |  JOIN lab ld ON e.dst = ld.v
       |  WHERE ls.label = ld.label
       |  GROUP BY 1),
       |degs AS (
       |  SELECT l.label AS community, CAST(sum(d.deg) AS BIGINT) AS degree_sum,
       |         count(*) AS n_nodes
       |  FROM (SELECT src AS v, count(*) AS deg FROM e GROUP BY 1) d
       |  JOIN lab l ON d.v = l.v
       |  GROUP BY 1)
       |SELECT d.community, d.n_nodes,
       |       coalesce(i.intra_edges, 0) AS intra_edges, d.degree_sum,
       |       ${graft.Parity.proundSql(
                 "CAST(coalesce(i.intra_edges, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)" +
                   " - (CAST(d.degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))" +
                   " * (CAST(d.degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))",
                 12)} AS q_contrib
       |FROM degs d LEFT JOIN intra i ON d.community = i.community
       |CROSS JOIN m
       |ORDER BY d.n_nodes DESC, d.community
       |LIMIT 20""".stripMargin
  }

  /** Weighted single-source shortest paths (hop-bounded Bellman–Ford) on
    * the parts-co-ordered graph — the fifth iterative-graph primitive
    * (BFS relaxes hop counts; this relaxes WEIGHTED distances, so a long
    * cheap path can beat a short expensive one). Edge weights are pure
    * integer arithmetic over the endpoint ids (`1 + (src+dst) mod 7`) —
    * deterministic, engine-portable, and integral so min-plus relaxation
    * is exact (no float accumulation anywhere in the loop).
    *
    * Each round is one min-plus relaxation: `dist' = min(dist,
    * min over edges (dist[src] + w))` — one co-partitioned join of the
    * dist vector against the scratch edge table plus one min-aggregate
    * with map-side partials, both key-shuffles, nothing broadcast (the
    * dist vector grows toward |V| — the graph_triangles pre-gate
    * mistake). Monotonicity gives the fixpoint argument: distances only
    * decrease, so once a round changes nothing, no later round can
    * (early exit ≡ running the cap out, the [[bfsHops]] argument), and
    * the changed-count is the per-round driver scalar. `dist`
    * re-materializes per round, capping lineage depth.
    */
  def ssspWeighted(s: SparkSession, dir: String, maxRounds: Int = 4): DataFrame = {
    val half = partsHalfEdges(s, dir)
      .select(col("u").as("src"), col("v").as("dst"))
    val edges = half
      .unionAll(half.select(col("dst").as("src"), col("src").as("dst")))
      .withColumn("w", lit(1L) + pmod(col("src") + col("dst"), lit(7L)))
    val seeds = edges.select(col("src").as("x")).distinct()
      .orderBy(col("x")).limit(3)
    var dist = graft.Scratch.table(
      seeds.select(col("x"), lit(0L).as("d")), "sssp-d0")
    var round = 1
    var done = false
    while (!done && round <= maxRounds) {
      val relaxed = dist.join(edges, dist("x") === edges("src"))
        .select(col("dst").as("x"), (col("d") + col("w")).as("d"))
      // the fixpoint flag rides INSIDE the round's one scratch write (the
      // labelPropagate pattern, r17): the old form ran a second
      // join-and-count job per round over the just-written table; now the
      // old distance joins into the same write and the check is a
      // columnar scan of the chg column.
      val mat = graft.Scratch.table(
        dist.unionAll(relaxed).groupBy(col("x")).agg(min(col("d")).as("d"))
          .join(dist.select(col("x"), col("d").as("d0")), Seq("x"), "left_outer")
          .select(col("x"), col("d"),
            (col("d0").isNull || col("d") < col("d0")).as("chg")),
        s"sssp-d$round")
      val changed = !mat.filter(col("chg")).isEmpty
      dist = mat.select(col("x"), col("d"))
      if (!changed) done = true else round += 1
    }
    dist.groupBy(col("d"))
      .agg(count(lit(1)).as("n_parts"),
        min(col("x")).as("min_part"), max(col("x")).as("max_part"))
      .orderBy(col("d"))
  }

  val ssspWeightedSql: String = {
    def round(i: Int): String =
      s"""d$i AS MATERIALIZED (
         |  SELECT x, min(dd) AS d FROM (
         |    SELECT x, d AS dd FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS x, p.d + e.w AS dd
         |    FROM d${i - 1} p JOIN e ON p.x = e.src) GROUP BY 1)""".stripMargin
    val chain = (1 to 4).map(round).mkString(",\n")
    s"""WITH dd AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS it FROM lineitem),
       |half AS MATERIALIZED (
       |  SELECT DISTINCT d1.it AS src, d2.it AS dst
       |  FROM dd d1 JOIN dd d2 ON d1.ok = d2.ok AND d1.it < d2.it),
       |e AS MATERIALIZED (
       |  SELECT src, dst, 1 + (src + dst) % 7 AS w FROM (
       |    SELECT src, dst FROM half
       |    UNION ALL SELECT dst AS src, src AS dst FROM half)),
       |d0 AS MATERIALIZED (
       |  SELECT x, CAST(0 AS BIGINT) AS d FROM (
       |    SELECT DISTINCT src AS x FROM e ORDER BY 1 LIMIT 3)),
       |$chain
       |SELECT d, count(*) AS n_parts, min(x) AS min_part, max(x) AS max_part
       |FROM d4 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Distribution window functions — ntile / percent_rank / cume_dist
    * over a deterministic total order (totalprice with the unique order
    * key as tiebreak), completing the window-function surface beyond
    * row_number/lag/rank. Both engines share the textbook definitions
    * (ntile's ⌈n/k⌉-then-⌊n/k⌋ buckets, percent_rank = (rank−1)/(n−1),
    * cume_dist = rank_with_ties/n), and the ratios are small-integer
    * divisions — bit-identical, pround only as belt-and-braces.
    *
    * Scale shape: o_orderpriority is a 5-VALUE vocabulary, so a
    * `PARTITION BY o_orderpriority` window would put 1/5 of all orders in
    * ONE task's sort at any scale — instead the per-priority rank derives
    * from the [[graft.relational.GlobalIndex]] per-group form (range
    * partitions over (priority, price, key) cut WITHIN a priority; rank =
    * idx − min idx per group + 1, offsets broadcast back), and all three
    * distribution functions are then pure per-row arithmetic on
    * (rank, group size): the order key is unique, so rank == rank-with-
    * ties, percent_rank = (rn−1)/(n−1), cume_dist = rn/n, and ntile's
    * first-(n mod k)-buckets-get-⌈n/k⌉ layout is two integer ceilings.
    * The oracle keeps DuckDB's native window functions — proving the
    * scale-safe arithmetic IS those functions.
    */
  val windowDistribution: Q = (s, dir) => {
    val idxed = graft.relational.GlobalIndex.withGlobalIndex(
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
      Seq("o_orderpriority", "o_totalprice", "o_orderkey"))
    val grp = idxed.groupBy(col("o_orderpriority"))
      .agg(min(col("idx")).as("idx0"), count(lit(1)).as("n"))
    val rn = col("idx") - col("idx0") + lit(1L)
    // ntile(k): the first n%k buckets hold ⌈n/k⌉ rows, the rest ⌊n/k⌋
    val k = 4L
    val q = floor(col("n") / lit(k)).cast("long")          // ⌊n/k⌋
    val r = col("n") - q * lit(k)                          // n mod k
    val big = q + lit(1L)                                  // ⌈n/k⌉ when r>0
    val headRows = r * big
    val ntileCol = when(rn <= headRows,
        floor((rn + big - lit(1L)) / big).cast("long"))
      .otherwise(lit(0L) + r +
        floor((rn - headRows + greatest(q, lit(1L)) - lit(1L)) /
          greatest(q, lit(1L))).cast("long"))
    idxed.join(broadcast(grp), "o_orderpriority")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        ntileCol.as("price_quartile"),
        graft.Parity.pround(
          when(col("n") === 1L, lit(0.0))
            .otherwise((rn - lit(1L)).cast("double") /
              (col("n") - lit(1L)).cast("double")), 6).as("pct_rank"),
        graft.Parity.pround(
          rn.cast("double") / col("n").cast("double"), 6).as("cum_dist"))
      .orderBy(col("o_orderkey"))
  }

  /** RANGE-frame window — the VALUE-based frame the indicator family's
    * ROWS frames deliberately avoid (SMA over candle counts) and the gap
    * that completes the frame surface: per-user rolling 1-hour sum/count
    * by EVENT TIME, frame = all events within [ts−1h+1µs, ts]. RANGE
    * frames include peers, so same-µs ties contribute identically in
    * both engines regardless of physical order — the reason RANGE is the
    * deterministic choice here where ROWS would flap on ties. Sum rides
    * exact DECIMAL (order-free).
    *
    * Scale shape: one exchange on user_id, one spillable per-partition
    * sort on the µs key, single forward pass with a sliding frame — the
    * same envelope as every other window query; a whale user costs its
    * partition's sort, mitigated the chunked-indicator way if ever hit.
    */
  val rangeFrameSum: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"))
      .rangeBetween(-3599999999L, 0L)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("us"), col("value"))
      .select(col("event_id"), col("user_id"), col("ts"),
        graft.Parity.pround(
          sum(col("value").cast(DecimalType(30, 10))).over(w).cast("double"), 6)
          .as("hour_sum"),
        count(lit(1)).over(w).as("hour_events"))
      .orderBy(col("event_id"))
  }

  val rangeFrameSumSql: String =
    s"""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
       |       ${graft.Parity.proundSql(
      "CAST(sum(CAST(value AS DECIMAL(30,10))) OVER w AS DOUBLE)", 6)} AS hour_sum,
       |       count(*) OVER w AS hour_events
       |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
       |             epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events)
       |WINDOW w AS (PARTITION BY user_id ORDER BY us
       |             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin

  val windowDistributionSql: String =
    s"""SELECT o_orderkey, o_orderpriority, o_totalprice,
       |       CAST(ntile(4) OVER w AS BIGINT) AS price_quartile,
       |       ${graft.Parity.proundSql("percent_rank() OVER w", 6)} AS pct_rank,
       |       ${graft.Parity.proundSql("cume_dist() OVER w", 6)} AS cum_dist
       |FROM orders
       |WINDOW w AS (PARTITION BY o_orderpriority
       |             ORDER BY o_totalprice, o_orderkey)
       |ORDER BY o_orderkey""".stripMargin

  /** k-core decomposition of the parts-co-ordered graph by iterative
    * peeling — the degeneracy structure community/dedup pipelines use to
    * find the dense "always bought together" backbone and discard
    * peripheral vertices. k is derived from the graph itself in exact
    * integer arithmetic (k = ⌊0.65 · 2m/n⌋ = 13m DIV 10n — scale-free,
    * and comfortably below this graph family's sharp core-collapse
    * threshold, measured between 0.7× and 0.8× mean degree at every SF,
    * so the core stays non-trivial and the peel cascade stays short at
    * any scale).
    *
    * Shape per round: one degree aggregate (map-side partials into a
    * vocabulary-bounded group set) and two left-semi probes of the
    * surviving-vertex set — broadcast probes while the keep set fits the
    * [[GraphBroadcastRowLimit]] gate (its row count is already on the
    * driver for the fixpoint check, so the gate is free), un-hinted
    * shuffle semi-joins past it: the keep set starts at |parts| which
    * grows ∝ SF, so at 100 TB it is billions of ids and a forced
    * broadcast would OOM. The edge list itself never reshuffles on the
    * broadcast path.
    * The shrinking edge list re-materializes through scratch every SECOND
    * round (the PageRank/BPE lineage bound, at the cadence where the
    * write cost balances the ≤1-round lineage replay — a replayed round
    * is one parquet scan plus two broadcast probes; measured ~25% off the
    * query wall at sf0.1 vs every-round), and the loop exits early at the
    * fixpoint —
    * peeling is monotone, so an unchanged edge COUNT is an unchanged edge
    * SET, and extra rounds are idempotent, which is what lets a fixed
    * 12-round oracle chain hash-match an early-exiting engine. The
    * per-round m/n/count reads are bounded driver scalars (the watermark
    * pattern).
    */
  def kcoreParts(s: SparkSession, dir: String, maxRounds: Int = 12,
      broadcastRowLimit: Long = GraphBroadcastRowLimit): DataFrame = {
    var e = partsHalfEdges(s, dir)
    def degrees(edges: DataFrame): DataFrame =
      edges.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("dg"))
    // m and n in ONE job (r18; was two): the exploded endpoint stream has
    // exactly 2m rows, so m = cnt/2 exactly, and n is its exact distinct
    val mn = e.select(explode(array(col("u"), col("v"))).as("x"))
      .agg(count(lit(1)).as("c2m"), count_distinct(col("x")).as("n")).first()
    val m = mn.getLong(0) / 2L
    val n = mn.getLong(1)
    val k = if (n == 0) 0L else (13L * m) / (10L * n)
    // fixpoint = no vertex dropped this round (edges only disappear when an
    // endpoint does), detected on the tiny vocabulary-bounded keep relation
    // BEFORE paying the edge rewrite
    var prevKept = n
    var r = 1
    var done = n == 0
    while (!done && r <= maxRounds) {
      // the fixpoint count rides the keep write as an observed metric
      // (r18; was a separate count() job per round — cheap on parquet
      // footers, but each job carries ~50-100 ms of driver round-trip in
      // a 7-round cascade)
      val obs = org.apache.spark.sql.Observation()
      val keep = graft.Scratch.table(
        degrees(e).filter(col("dg") >= k).select(col("x"))
          .observe(obs, count(lit(1)).as("kept")), s"kcore-k$r")
      val kept = obs.get("kept").asInstanceOf[Long]
      if (kept == prevKept) done = true
      else {
        // kept is already a driver scalar (the fixpoint check), so the
        // broadcast gate costs nothing extra per round
        val bc = broadcastIfAtMost(kept, broadcastRowLimit) _
        val filtered =
          e.join(bc(keep).as("k1"), col("u") === col("k1.x"), "left_semi")
            .join(bc(keep).as("k2"), col("v") === col("k2.x"), "left_semi")
        // edge-list scratch write every SECOND round: the write is the
        // round's dominant cost, and replaying one unmaterialized round's
        // lineage is just the prior parquet scan + two broadcast probes
        // (measured ~25% off the query wall at sf0.1; lineage depth stays
        // bounded at one round)
        e = if (r % 2 == 0) graft.Scratch.table(filtered, s"kcore-e$r") else filtered
        prevKept = kept
        r += 1
      }
    }
    degrees(e)
      .select(col("x").as("p_partkey"), col("dg").as("degree"))
      .orderBy(col("p_partkey"))
  }

  val kcorePartsQ: Q = (s, dir) => kcoreParts(s, dir)

  val kcorePartsSql: String = {
    def round(prev: String, i: Int): String =
      s"""deg$i AS MATERIALIZED (
         |  SELECT x, count(*) AS dg
         |  FROM (SELECT u AS x FROM $prev UNION ALL SELECT v FROM $prev)
         |  GROUP BY 1),
         |keep$i AS MATERIALIZED (
         |  SELECT x FROM deg$i CROSS JOIN kv WHERE dg >= kv.k),
         |e$i AS MATERIALIZED (
         |  SELECT u, v FROM $prev
         |  WHERE u IN (SELECT x FROM keep$i) AND v IN (SELECT x FROM keep$i))""".stripMargin
    val rounds = 12
    val chain = (1 to rounds).map(i => round(s"e${i - 1}", i)).mkString(",\n")
    s"""WITH d AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS it FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT d1.it AS u, d2.it AS v
       |  FROM d d1 JOIN d d2 ON d1.ok = d2.ok AND d1.it < d2.it),
       |kv AS (
       |  SELECT (13 * (SELECT count(*) FROM e0)) //
       |         (10 * (SELECT count(DISTINCT x)
       |                FROM (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0))) AS k),
       |$chain
       |SELECT x AS p_partkey, CAST(count(*) AS BIGINT) AS degree
       |FROM (SELECT u AS x FROM e$rounds UNION ALL SELECT v FROM e$rounds)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Synchronous label-propagation community detection on the
    * customer↔supplier trade graph (the [[pagerankAuthority]] edge set) —
    * the cheap community pass curation pipelines run before expensive
    * per-community work (topic sampling, dedup scoping). Every vertex
    * starts labeled with itself; each round every vertex adopts its
    * neighbors' PLURALITY label, ties broken toward the SMALLEST label —
    * the argmax key `(count, −label)` is unique within a vertex's
    * candidate set, so `max_by` is deterministic (never the
    * ties-pick-first trap) and both engines compute the identical pure
    * integer fold. Up to four rounds — enough to coalesce the bipartite
    * graph's dense blocks, and a fixed ROUND CAP keeps the oracle a
    * finite CTE chain (the [[kcoreParts]] pattern) — with FIXPOINT early
    * exit: the synchronous update is a pure function of the label
    * vector, so a round that changes zero labels proves every later
    * round changes zero too, and exiting early is bit-identical to
    * running the cap out (kcore's unchanged-set idempotence argument).
    * The changed-label count is a bounded driver scalar per round (the
    * watermark pattern); LabelPropSpec pins early stop on a
    * pre-converged fixture and equality with the capped run.
    *
    * Scale shape: edges scratch-materialize once (at 100 TB: a bucketed
    * table partitioned by src); each round is one co-partitioned join of
    * the |V|-row label vector against edges, then TWO map-side-combined
    * aggregates — (dst,label) counts, then per-dst `max_by` with O(1)
    * per-group state — plus one |V|-row self-join for the changed count.
    * The label vector scratch-materializes per round (|V| rows, tiny
    * next to edges), which also caps lineage depth at one round. No
    * per-vertex neighbor list ever buffers, so a whale hub costs only
    * its shuffle share (same argument as the PageRank sum,
    * RelationalQueries.scala:1165).
    */
  private[graft] def labelPropagate(
      edges: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    var labels = graft.Scratch.table(
      edges.select(col("src").as("v")).distinct().withColumn("label", col("v")),
      "lpa-l0")
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      val upd = edges.join(labels.select(col("v"), col("label")),
          edges("src") === col("v"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        // hash-aggregable argmax (r17): max_by over struct(cnt, -label)
        // planned as Sort + SortAggregate (struct buffer); the lex-max of
        // (cnt, -label) IS the lex-min of (-cnt, label), so LexMinLong
        // (flat buffer, HashAggregate, codegen) returns the identical
        // plurality label — counts are exact in double far past any
        // per-vertex degree, ties resolve on the exact long label.
        .agg(graft.functions.LexMinAggregate
          .argMinLong(-col("cnt"), col("label")).as("label"))
        .select(col("dst").as("v"), col("label"))
      // the change flag rides INSIDE the round's one scratch write (the
      // Components pattern), so the fixpoint check is a columnar scan of
      // the just-written labels, not a second join job per round
      val mat = graft.Scratch.table(
        upd.join(labels.select(col("v"), col("label").as("old_label")), Seq("v"))
          .select(col("v"), col("label"),
            (col("label") =!= col("old_label")).as("chg")), s"lpa-l${r + 1}")
      r += 1
      // the check drives CONTROL FLOW only, so the last round skips it —
      // no further round could run either way
      if (r < maxRounds) converged = mat.filter(col("chg")).isEmpty
      labels = mat
    }
    (labels.select(col("v"), col("label")), r)
  }

  val labelProp: Q = (s, dir) => {
    // the trade-edges fixture minus the degree column — same edge SET the
    // bespoke derivation produced, served from the shared files
    val edges = pagerankEdges(s, dir).select(col("src"), col("dst"))
    val (labels, _) = labelPropagate(edges, maxRounds = 4)
    labels.select(col("v"),
        when(col("v") < 0L, lit("supplier")).otherwise(lit("customer"))
          .as("node_type"),
        col("label").as("community"))
      .orderBy(col("v"))
  }

  val labelPropSql: String = {
    def round(prev: String, i: Int): String =
      s"""l$i AS MATERIALIZED (
         |  SELECT dst AS v, label FROM (
         |    SELECT dst, label,
         |           row_number() OVER (PARTITION BY dst
         |                              ORDER BY cnt DESC, label ASC) AS rn
         |    FROM (SELECT e.dst, l.label, count(*) AS cnt
         |          FROM e JOIN $prev l ON e.src = l.v
         |          GROUP BY e.dst, l.label))
         |  WHERE rn = 1)""".stripMargin
    val chain = (1 to 4).map(i => round(s"l${i - 1}", i)).mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS c, -l_suppkey AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS MATERIALIZED (
       |  SELECT c AS src, p AS dst FROM pairs
       |  UNION ALL
       |  SELECT p AS src, c AS dst FROM pairs),
       |l0 AS (SELECT DISTINCT src AS v, src AS label FROM e),
       |$chain
       |SELECT v,
       |       CASE WHEN v < 0 THEN 'supplier' ELSE 'customer' END AS node_type,
       |       label AS community
       |FROM l4 ORDER BY v""".stripMargin
  }

  /** Degree assortativity of the trade graph — Newman's r: the Pearson
    * correlation of endpoint degrees over the (symmetrized) edge list.
    * Positive r = hubs prefer hubs (social-network shape), negative r =
    * hubs fan out to leaves (the bipartite/infrastructure shape this
    * graph should show). The whole statistic is SUFFICIENT STATISTICS in
    * one aggregate over edges⋈degrees — the [[priceCorrelation]] /
    * ols_trend pattern applied to graph topology. The dst-side degree
    * join is |V|-keyed co-partitioned, never broadcast (the degree
    * relation grows with the graph); products cast to DECIMAL(19,0)
    * BEFORE multiplying — degree² wraps BIGINT exactly on the hubby
    * graphs this statistic diagnoses.
    */
  val degreeAssortativity: Q = (s, dir) => {
    val eo = pagerankEdges(s, dir) // (src, dst, outdeg) — symmetrized
    val deg = eo.select(col("src").as("dst"), col("outdeg").as("dy")).distinct()
    val xy = eo.select(col("dst"), col("outdeg").as("dx")).join(deg, "dst")
    def d19(c: org.apache.spark.sql.Column) = c.cast(DecimalType(19, 0))
    val g = xy.agg(count(lit(1)).as("n"),
      sum(d19(col("dx"))).cast("double").as("sx"),
      sum(d19(col("dy"))).cast("double").as("sy"),
      sum(d19(col("dx")) * d19(col("dy"))).cast("double").as("sxy"),
      sum(d19(col("dx")) * d19(col("dx"))).cast("double").as("sxx"),
      sum(d19(col("dy")) * d19(col("dy"))).cast("double").as("syy"))
      .withColumn("nd", col("n").cast("double"))
      .filter(col("nd") * col("sxx") - col("sx") * col("sx") > lit(0.0) &&
        col("nd") * col("syy") - col("sy") * col("sy") > lit(0.0))
    g.select(col("n").as("n_edges"),
      graft.Parity.pround(
        (col("nd") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("nd") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("nd") * col("syy") - col("sy") * col("sy"))), 6)
        .as("assortativity"))
  }

  val degreeAssortativitySql: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS c, -l_suppkey AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT c AS src, p AS dst FROM pairs
       |  UNION ALL
       |  SELECT p AS src, c AS dst FROM pairs),
       |outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
       |xy AS (
       |  SELECT a.d AS dx, b.d AS dy
       |  FROM edges e JOIN outdeg a ON e.src = a.src
       |               JOIN outdeg b ON e.dst = b.src),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS DOUBLE) AS nd,
       |         CAST(sum(CAST(dx AS DECIMAL(19,0))) AS DOUBLE) AS sx,
       |         CAST(sum(CAST(dy AS DECIMAL(19,0))) AS DOUBLE) AS sy,
       |         CAST(sum(CAST(dx AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
       |         CAST(sum(CAST(dx AS DECIMAL(19,0)) * CAST(dx AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
       |         CAST(sum(CAST(dy AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0))) AS DOUBLE) AS syy
       |  FROM xy)
       |SELECT n AS n_edges,
       |       ${graft.Parity.proundSql(
                 "(nd * sxy - sx * sy) / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))",
                 6)} AS assortativity
       |FROM g
       |WHERE nd * sxx - sx * sx > 0.0 AND nd * syy - sy * sy > 0.0""".stripMargin

  /** HLL audience-overlap matrix — |A∩B| for every event_type pair by
    * inclusion–exclusion over MERGED sketches: est(A) + est(B) − est(A∪B),
    * where the union sketch is the per-bucket register max (exact
    * mergeability — the property the per-day registers already rely on in
    * `hll_merge_days`, [[SketchQueries]]). This is the pre-join diagnostic
    * for audience/user overlap at 100 TB: three 64-register estimates per
    * pair instead of a
    * corpus-scale set intersection. The exact intersection rides along
    * (one user-keyed co-partitioned self-join of the distinct relation)
    * as the accuracy reference the estimator is judged against.
    */
  /** Audience overlap via KMV (k-minimum-values / theta-class) sketches —
    * the SET-OPERATION face of the sketch family beside [[hllOverlap]]'s
    * inclusion-exclusion: keep each audience's k = 64 smallest DISTINCT
    * portable user-id hashes; the union sketch is the k smallest of the
    * merged hash sets; Jaccard is estimated by the match fraction inside
    * the union sketch and the union size by (k−1)·2³²/h₍k₎, so the
    * intersection estimate is their product — the theta-sketch recipe,
    * derandomized (the "random" hash is the portable md5 span, a pure
    * function of the data both engines replay).
    *
    * Scale shape: the corpus is touched ONCE — a map-side-combinable
    * distinct of (type, hash) — and every pairwise step runs on
    * |types|·k sketch rows (bounded BY CONSTRUCTION; the per-type top-k
    * is a WindowGroupLimit-pruned rank). The exact reference overlap
    * joins the distinct relation co-partitioned on user_id, same as
    * hll_overlap's audit arm.
    */
  val kmvOverlap: Q = (s, dir) => {
    val k = 64
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        graft.functions.PortableHash.hash32(col("user_id")).as("h"))
      .distinct()
    val sk = graft.Scratch.table(
      ev.withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("h"))))
        .filter(col("rn") <= k).drop("rn"),
      "kmv-sketches")
    val pairs = sk.select(col("event_type").as("ta")).distinct()
      .join(sk.select(col("event_type").as("tb")).distinct(), col("ta") < col("tb"))
    val merged = pairs
      .join(sk, col("event_type") === col("ta") || col("event_type") === col("tb"))
      .select(col("ta"), col("tb"), col("h")).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("ta"), col("tb")).orderBy(col("h"))))
      .filter(col("rn") <= k)
    val inA = sk.select(col("event_type").as("ta"), col("h"), lit(1L).as("ina"))
    val inB = sk.select(col("event_type").as("tb"), col("h"), lit(1L).as("inb"))
    // EXACT MODE below k (ADVICE r13 #3, standard theta/KMV): a merged
    // sketch with fewer than k distinct hashes HOLDS the whole union, so
    // the union count is exact (= sketch size) and Jaccard divides by the
    // actual sketch size — the (k−1)·2³²/h_k estimator and the /k match
    // fraction are both biased when the sketch never filled
    val stats = merged
      .join(inA, Seq("ta", "h"), "left").join(inB, Seq("tb", "h"), "left")
      .groupBy(col("ta"), col("tb"))
      .agg(max(col("h")).as("h_k"),
        count(lit(1)).as("m_sz"),
        sum(coalesce(col("ina"), lit(0L)) * coalesce(col("inb"), lit(0L)))
          .as("matches"))
      .withColumn("union_est",
        when(col("m_sz") < k, col("m_sz").cast("double"))
          .otherwise(
            lit((k - 1).toDouble) * lit(4294967296.0) / col("h_k").cast("double")))
      .withColumn("jaccard_est",
        col("matches").cast("double") /
          when(col("m_sz") < k, col("m_sz").cast("double"))
            .otherwise(lit(k.toDouble)))
    // exact reference: one co-partitioned distinct join (the audit arm)
    val du = Tables.events(s, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val exact = du.select(col("event_type").as("ta"), col("user_id"))
      .join(du.select(col("event_type").as("tb"), col("user_id")),
        Seq("user_id"))
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("exact_overlap"))
    stats.join(exact, Seq("ta", "tb"), "left")
      .select(col("ta"), col("tb"), col("h_k"), col("matches"),
        graft.Parity.pround(col("union_est"), 2).as("union_est"),
        graft.Parity.pround(col("jaccard_est"), 6).as("jaccard_est"),
        graft.Parity.pround(col("jaccard_est") * col("union_est"), 2)
          .as("inter_est"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
      .orderBy(col("ta"), col("tb"))
  }

  val kmvOverlapSql: String = {
    val h = graft.functions.PortableHash.hash32Sql("user_id")
    s"""WITH uh AS (
       |  SELECT DISTINCT event_type, ($h) AS h FROM events),
       |sk AS MATERIALIZED (
       |  SELECT event_type, h FROM (
       |    SELECT event_type, h,
       |           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |    FROM uh) WHERE rn <= 64),
       |pr AS (
       |  SELECT a.event_type AS ta, b.event_type AS tb
       |  FROM (SELECT DISTINCT event_type FROM sk) a
       |  JOIN (SELECT DISTINCT event_type FROM sk) b ON a.event_type < b.event_type),
       |mg AS (
       |  SELECT ta, tb, h FROM (
       |    SELECT p.ta, p.tb, s.h,
       |           row_number() OVER (PARTITION BY p.ta, p.tb ORDER BY s.h) AS rn
       |    FROM pr p JOIN (SELECT DISTINCT event_type, h FROM sk) s
       |      ON s.event_type = p.ta OR s.event_type = p.tb
       |    GROUP BY p.ta, p.tb, s.h) WHERE rn <= 64),
       |st AS (
       |  SELECT m.ta, m.tb, max(m.h) AS h_k, count(*) AS m_sz,
       |         sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS matches
       |  FROM mg m
       |  LEFT JOIN sk a ON a.event_type = m.ta AND a.h = m.h
       |  LEFT JOIN sk b ON b.event_type = m.tb AND b.h = m.h
       |  GROUP BY 1, 2),
       |du AS (SELECT DISTINCT event_type, user_id FROM events),
       |ex AS (
       |  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS exact_overlap
       |  FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  GROUP BY 1, 2),
       |fin AS (
       |  -- exact mode below k: an unfilled merged sketch holds the whole
       |  -- union (mirrors the engine's m_sz CASE)
       |  SELECT st.ta, st.tb, st.h_k, CAST(st.matches AS BIGINT) AS matches,
       |         CASE WHEN st.m_sz < 64 THEN CAST(st.m_sz AS DOUBLE)
       |              ELSE CAST(63 AS DOUBLE) * CAST(4294967296 AS DOUBLE) / CAST(st.h_k AS DOUBLE) END AS union_est,
       |         CAST(st.matches AS DOUBLE) / (CASE WHEN st.m_sz < 64
       |              THEN CAST(st.m_sz AS DOUBLE) ELSE CAST(64 AS DOUBLE) END) AS jaccard_est,
       |         coalesce(ex.exact_overlap, 0) AS exact_overlap
       |  FROM st LEFT JOIN ex ON st.ta = ex.ta AND st.tb = ex.tb)
       |SELECT ta, tb, h_k, matches,
       |       ${graft.Parity.proundSql("union_est", 2)} AS union_est,
       |       ${graft.Parity.proundSql("jaccard_est", 6)} AS jaccard_est,
       |       ${graft.Parity.proundSql("jaccard_est * union_est", 2)} AS inter_est,
       |       CAST(exact_overlap AS BIGINT) AS exact_overlap
       |FROM fin ORDER BY ta, tb""".stripMargin
  }

  val hllOverlap: Q = (s, dir) => {
    import graft.relational.Sketches
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("user_id"))
    val regs = graft.Scratch.table(
      Sketches.hllRegisters(ev, Seq("event_type"), col("user_id")),
      "hll-overlap-regs")
    val est = Sketches.hllFromRegisters(regs, Seq("event_type"))
    val pairs = est.select(col("event_type").as("ta"), col("hll_est").as("est_a"))
      .join(est.select(col("event_type").as("tb"), col("hll_est").as("est_b")),
        col("ta") < col("tb"))
    // union registers: per-bucket max across the pair's two register sets;
    // the pair relation is |types|²-bounded BY CONSTRUCTION — broadcastable
    val ureg = pairs.select(col("ta"), col("tb"))
      .join(regs, col("event_type") === col("ta") ||
        col("event_type") === col("tb"))
      .groupBy(col("ta"), col("tb"), col("__bucket"))
      .agg(max(col("__m")).as("__m"))
    val uest = Sketches.hllFromRegisters(ureg, Seq("ta", "tb"))
      .select(col("ta"), col("tb"), col("hll_est").as("est_union"))
    val du = ev.distinct()
    val exact = du.select(col("event_type").as("ta"), col("user_id"))
      .join(du.select(col("event_type").as("tb"), col("user_id")), "user_id")
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("exact_overlap"))
    pairs.join(uest, Seq("ta", "tb"))
      .join(exact, Seq("ta", "tb"), "left_outer")
      .select(col("ta"), col("tb"),
        graft.Parity.pround(col("est_a"), 6).as("est_a"),
        graft.Parity.pround(col("est_b"), 6).as("est_b"),
        graft.Parity.pround(col("est_union"), 6).as("est_union"),
        graft.Parity.pround(col("est_a") + col("est_b") - col("est_union"), 6)
          .as("est_overlap"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
      .orderBy(col("ta"), col("tb"))
  }

  val hllOverlapSql: String = {
    import graft.relational.Sketches
    s"""WITH ev AS (SELECT event_type, user_id FROM events),
       |${Sketches.hllRegistersSql("ev", Seq("event_type"), "user_id", "regs")},
       |${Sketches.hllEstimateSql("regs", Seq("event_type"), "ht")},
       |prs AS (
       |  SELECT a.event_type AS ta, b.event_type AS tb,
       |         a.hll_est AS est_a, b.hll_est AS est_b
       |  FROM ht a JOIN ht b ON a.event_type < b.event_type),
       |ureg AS (
       |  SELECT p.ta, p.tb, r.bucket, max(r.m) AS m
       |  FROM prs p JOIN regs r
       |    ON r.event_type = p.ta OR r.event_type = p.tb
       |  GROUP BY 1, 2, 3),
       |${Sketches.hllEstimateSql("ureg", Seq("ta", "tb"), "hu")},
       |du AS (SELECT DISTINCT event_type, user_id FROM ev),
       |ex AS (
       |  SELECT a.event_type AS ta, b.event_type AS tb,
       |         CAST(count(*) AS BIGINT) AS exact_overlap
       |  FROM du a JOIN du b
       |    ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  GROUP BY 1, 2)
       |SELECT p.ta, p.tb,
       |       ${graft.Parity.proundSql("p.est_a", 6)} AS est_a,
       |       ${graft.Parity.proundSql("p.est_b", 6)} AS est_b,
       |       ${graft.Parity.proundSql("hu.hll_est", 6)} AS est_union,
       |       ${graft.Parity.proundSql(
                 "p.est_a + p.est_b - hu.hll_est", 6)} AS est_overlap,
       |       COALESCE(ex.exact_overlap, 0) AS exact_overlap
       |FROM prs p JOIN hu USING (ta, tb)
       |LEFT JOIN ex ON ex.ta = p.ta AND ex.tb = p.tb
       |ORDER BY ta, tb""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "degree_assortativity" -> degreeAssortativity,
    "hll_overlap" -> hllOverlap,
    "kmv_overlap" -> kmvOverlap,
    "top_paths" -> topPaths,
    "label_prop" -> labelProp,
    "modularity_score" -> modularityScore,
    "window_distribution" -> windowDistribution,
    "range_frame_sum" -> rangeFrameSum,
    "events_grouping_sets" -> eventsGroupingSets,
    "kcore_parts" -> kcorePartsQ,
    "pagerank_authority" -> pagerankAuthority,
    "graph_random_walks" -> graphRandomWalks,
    "er_sorted_neighborhood" -> erSortedNeighborhood,
    "skew_profile" -> skewProfile,
    "join_size_estimate" -> joinSizeEstimate,
    "markov_transitions" -> markovTransitions,
    "pagerank_authority20" -> pagerankAuthority20,
    "ppr_segment" -> pprSegment,
    "bloom_semi_join" -> bloomSemiJoin,
    "range_join_sessions" -> rangeJoinSessions,
    "range_join_native" -> rangeJoinNative,
    "sessionize_relational" -> sessionizeRelational,
    "skew_salted_sum" -> skewSaltedSum,
    "skew_salted_join" -> skewSaltedJoin,
    "customers_without_orders" -> customersWithoutOrders,
    "part_key_sets" -> partKeySets,
    "events_pivot" -> eventsPivot,
    "lineitem_rollup" -> lineitemRollup,
    "events_cube" -> eventsCube,
    "json_props_kpi" -> jsonPropsKpi,
    "window_ranks" -> windowRanks,
    "sessionize_events" -> sessionizeEvents,
    "sessionize_window" -> sessionizeWindow,
    "q1_pricing" -> q1Pricing,
    "q3_top_orders" -> q3TopOrders,
    "q5_nation_revenue" -> q5NationRevenue,
    "topk_orders_per_customer" -> topOrdersPerCustomer,
    "topk_orders_heap" -> topOrdersHeap,
    "asof_join" -> asofJoin,
    "asof_join_native" -> asofJoinNative,
    "asof_tolerance" -> asofTolerance,
    "q10_returns" -> q10Returns,
    "q4_priority_semi" -> q4PrioritySemi,
    "q2_min_cost" -> q2MinCost,
    "q6_forecast_revenue" -> q6ForecastRevenue,
    "q7_trade_volume" -> q7TradeVolume,
    "q8_market_share" -> q8MarketShare,
    "rfm_segments" -> rfmSegments,
    "q12_ship_priority" -> q12ShipPriority,
    "q14_promo_effect" -> q14PromoEffect,
    "q13_order_dist" -> q13OrderDist,
    "q15_top_supplier" -> q15TopSupplier,
    "q16_supplier_cnt" -> q16SupplierCnt,
    "q17_small_qty" -> q17SmallQty,
    "q18_large_orders" -> q18LargeOrders,
    "q19_disjunctive" -> q19Disjunctive,
    "q21_waiting_supplier" -> q21WaitingSupplier,
    "q22_no_urgent" -> q22NoUrgent,
    "q9_profit" -> q9Profit,
    "q11_important_parts" -> q11ImportantParts,
    "q20_excess_suppliers" -> q20ExcessSuppliers,
    "window_ties" -> windowTies,
    "global_index" -> globalIndexQ,
    "bfs_hops" -> ((s: SparkSession, d: String) => bfsHops(s, d)),
    "sssp_weighted" -> ((s: SparkSession, d: String) => ssspWeighted(s, d)),
    "snapshot_diff" -> snapshotDiff,
    "incremental_mv" -> incrementalMv,
    "incremental_mv_deletes" -> incrementalMvDeletes,
    "incremental_mv_updates" -> incrementalMvUpdates,
    "incremental_mv_cdc" -> incrementalMvCdc,
    "funnel_steps" -> funnelSteps,
    "funnel_sequence" -> funnelSequence,
    "table_profile" -> tableProfile,
    "retention_cohorts" -> retentionCohorts,
    "assoc_rules" -> assocRules,
    "graph_triangles" -> ((s: SparkSession, d: String) => graphTriangles(s, d)),
    "events_kpi" -> eventsKpi)

  val oracleSql: Map[String, String] = Map(
    "label_prop" -> labelPropSql,
    "modularity_score" -> modularityScoreSql,
    "window_distribution" -> windowDistributionSql,
    "range_frame_sum" -> rangeFrameSumSql,
    "events_grouping_sets" -> eventsGroupingSetsSql,
    "kcore_parts" -> kcorePartsSql,
    "degree_assortativity" -> degreeAssortativitySql,
    "hll_overlap" -> hllOverlapSql,
    "kmv_overlap" -> kmvOverlapSql,
    "top_paths" -> topPathsSql,
    "pagerank_authority" -> pagerankAuthoritySql,
    "graph_random_walks" -> graphRandomWalksSql,
    "er_sorted_neighborhood" -> erSortedNeighborhoodSql,
    "skew_profile" -> skewProfileSql,
    "join_size_estimate" -> joinSizeEstimateSql,
    "markov_transitions" -> markovTransitionsSql,
    "pagerank_authority20" -> pagerankAuthority20Sql,
    "ppr_segment" -> pprSegmentSql,
    "bloom_semi_join" -> bloomSemiJoinSql,
    "range_join_sessions" -> rangeJoinSessionsSql,
    "range_join_native" -> rangeJoinSessionsSql, // custom sweep exec vs the same BETWEEN oracle
    "sessionize_relational" -> sessionizeEventsSql, // same semantics, scalable plan
    "skew_salted_sum" -> skewSaltedSumSql,
    "skew_salted_join" -> skewSaltedJoinSql,
    "customers_without_orders" -> customersWithoutOrdersSql,
    "part_key_sets" -> partKeySetsSql,
    "events_pivot" -> eventsPivotSql,
    "lineitem_rollup" -> lineitemRollupSql,
    "events_cube" -> eventsCubeSql,
    "json_props_kpi" -> jsonPropsKpiSql,
    "window_ranks" -> windowRanksSql,
    "sessionize_events" -> sessionizeEventsSql,
    "sessionize_window" -> sessionizeEventsSql, // same semantics, engine-managed state
    "q1_pricing" -> q1PricingSql,
    "q3_top_orders" -> q3TopOrdersSql,
    "q5_nation_revenue" -> q5NationRevenueSql,
    "topk_orders_per_customer" -> topOrdersPerCustomerSql,
    "topk_orders_heap" -> topOrdersPerCustomerSql, // custom heap agg vs the windowed plan's oracle
    "asof_join" -> asofJoinSql,
    "asof_join_native" -> asofJoinSql, // custom plan (node+strategy+exec) vs the same ASOF oracle
    "asof_tolerance" -> asofToleranceSql,
    "q10_returns" -> q10ReturnsSql,
    "q4_priority_semi" -> q4PrioritySemiSql,
    "q2_min_cost" -> q2MinCostSql,
    "q6_forecast_revenue" -> q6ForecastRevenueSql,
    "q7_trade_volume" -> q7TradeVolumeSql,
    "q8_market_share" -> q8MarketShareSql,
    "rfm_segments" -> rfmSegmentsSql,
    "q12_ship_priority" -> q12ShipPrioritySql,
    "q14_promo_effect" -> q14PromoEffectSql,
    "q13_order_dist" -> q13OrderDistSql,
    "q15_top_supplier" -> q15TopSupplierSql,
    "q16_supplier_cnt" -> q16SupplierCntSql,
    "q17_small_qty" -> q17SmallQtySql,
    "q18_large_orders" -> q18LargeOrdersSql,
    "q19_disjunctive" -> q19DisjunctiveSql,
    "q21_waiting_supplier" -> q21WaitingSupplierSql,
    "q22_no_urgent" -> q22NoUrgentSql,
    "q9_profit" -> q9ProfitSql,
    "q11_important_parts" -> q11ImportantPartsSql,
    "q20_excess_suppliers" -> q20ExcessSuppliersSql,
    "window_ties" -> windowTiesSql,
    "global_index" -> globalIndexSql,
    "bfs_hops" -> bfsHopsSql,
    "sssp_weighted" -> ssspWeightedSql,
    "snapshot_diff" -> snapshotDiffSql,
    "incremental_mv" -> incrementalMvSql,
    "incremental_mv_deletes" -> incrementalMvDeletesSql,
    "incremental_mv_updates" -> incrementalMvUpdatesSql,
    "incremental_mv_cdc" -> incrementalMvCdcSql,
    "funnel_steps" -> funnelStepsSql,
    "funnel_sequence" -> funnelSequenceSql, // composed forward as-ofs vs the min-successor join
    "table_profile" -> tableProfileSql,
    "retention_cohorts" -> retentionCohortsSql,
    "assoc_rules" -> assocRulesSql,
    "graph_triangles" -> graphTrianglesSql,
    "events_kpi" -> eventsKpiSql)
}
