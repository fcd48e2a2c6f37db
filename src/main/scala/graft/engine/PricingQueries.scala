package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Headline analytical aggregates in the TPC-H mold over the star schema —
  * the sum/avg/min/max + multi-join shapes the reference's own workload
  * lacks (its aggregations are all COUNT(*), SURVEY.md §2.4 "absent" rows).
  * Money sums go through decimal(18,2) so they are order-independent and
  * bit-equal across engines, then surface as double.
  *
  * Scale notes: q25 is the canonical scan + partial/final hash-agg on a
  * 6-value grouping key — no skew, one shuffle. q26 joins the fact table
  * to two selective dims: both dim sides are broadcast, so the only
  * shuffle is the final (small) aggregation.
  */
object PricingQueries {

  /** q25 — pricing summary (TPC-H Q1 shape): filtered scan, group by two
    * low-cardinality flags, exact decimal sums/averages. */
  def pricingSummary(s: SparkSession, d: String): DataFrame = {
    val dec = (c: String) => col(c).cast("decimal(18,2)")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2001-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        sum((dec("l_extendedprice") * (lit(1) - dec("l_discount")))
          .cast("decimal(28,6)")).cast("double").as("sum_disc_price"),
        (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        count(lit(1)).as("count_order"))
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |       SUM(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
      |       SUM(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
      |       SUM((l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2)))::DECIMAL(28,6))::DOUBLE AS sum_disc_price,
      |       SUM(l_quantity::DECIMAL(18,2))::DOUBLE / COUNT(*) AS avg_qty,
      |       MIN(l_extendedprice) AS min_price,
      |       MAX(l_extendedprice) AS max_price,
      |       COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
      |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q26 — shipping-priority style (TPC-H Q3 shape): fact ⋈ two broadcast
    * dims with selective predicates, revenue top-10. */
  def shippingPriority(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d).filter(col("o_orderdate") < lit("2000-01-01"))
    val li = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1997-01-01"))
    li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)")
        * (lit(1) - col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,6)"))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val shippingPrioritySql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |       SUM((l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2)))::DECIMAL(28,6))::DOUBLE AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** q27 — schema-drift union (S7/D2 + §2.7: UNION ALL by name with
    * reconciliation): two projections of orders with drifted columns,
    * unioned by name with missing columns nulled — the crawler's
    * CombineCompatibleSchemas analog. */
  def schemaDriftUnion(s: SparkSession, d: String): DataFrame = {
    val day1 = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val day2 = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    day1.unionByName(day2, allowMissingColumns = true)
  }

  val schemaDriftUnionSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice, NULL AS o_orderpriority
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL BY NAME
      |SELECT o_orderkey, o_orderstatus, o_orderpriority
      |FROM orders WHERE o_orderkey % 2 = 1
      |ORDER BY o_orderkey""".stripMargin

  /** q28 — distinct + approximate distinct side by side: exact
    * COUNT(DISTINCT) has a DuckDB oracle; the HLL estimate is
    * Spark-internal (different sketch implementations can't hash-match)
    * and is bounds-asserted in tests instead. */
  def distinctCounts(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("n_rows"))

  val distinctCountsSql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      |       COUNT(*) AS n_rows
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** q42 — local-supplier volume (TPC-H Q5 shape): the five-way star
    * chain region → nation → (customer, supplier) → orders → lineitem
    * with the "local supplier" c_nationkey = s_nationkey constraint.
    *
    * Plan shape at 100 TB: region/nation/supplier/customer are dims —
    * all broadcast (region prunes nation, nation prunes the other two
    * BEFORE their fact joins, so the broadcasts shrink with the filter);
    * the only shuffled joins are fact-to-fact lineitem ⋈ orders on
    * orderkey, plus the final 5-key aggregation. */
  def regionVolume(s: SparkSession, d: String, region: String = "ASIA"): DataFrame = {
    val nat = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(s, d)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(s, d)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1999-01-01"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    Tables.lineitem(s, d)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)")
        * (lit(1) - col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,6)"))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val regionVolumeSql: String =
    """SELECT n_name,
      |       SUM((l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2)))::DECIMAL(28,6))::DOUBLE AS revenue,
      |       COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin

  /** Raw q32 sketch surface — HLL distinct + approximate quantiles: the
    * sketches Spark ships for 100 TB-scale cardinality/quantile work.
    * PricingSpec asserts these estimates against exact values within the
    * documented error bounds ([[HllRelBound]], [[QuantileRelBound]]). */
  def approxAggregatesRaw(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx_parts"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("price_p50"),
        expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("price_p99"),
        count(lit(1)).as("n_rows"))

  /** Error bounds the q32 booleans pin. HLL at rsd=0.02 is well inside
    * 10% relative (PricingSpec has asserted that numerically since
    * round 4). The quantile check is a RANK bound: approx_percentile's
    * contract is that the returned value's rank is within
    * n/accuracy = n·1e-4 of the target rank. The effective bound is
    * max(QuantileRankBound, 2/n) — scale-aware so rank granularity at
    * tiny n can never flip the boolean; tie mass at the percentile
    * value is excluded by checking the strict-below and
    * at-or-below rank fractions SEPARATELY (the value's occupied rank
    * RANGE must cover the target quantile within the bound), so the
    * boolean certifies only sketch error on any data distribution. */
  val HllRelBound = 0.10
  val QuantileRankBound = 0.005

  /** q32 — approximate aggregates, emitted as their deterministic,
    * oracle-checkable derivative (same treatment as q35's recall floor):
    * exact per-group values (DuckDB recomputes them) plus within-bound
    * booleans the oracle pins TRUE. Sketch values themselves aren't
    * engine-portable; the claim "the sketch lands within its documented
    * bound" is, and a Spark-side sketch drifting out of bound
    * hash-mismatches.
    *
    * The quantile booleans are verified by RANK, not value: join the
    * 3-row approx results back (broadcast) and count each percentile's
    * strict-below / at-or-below rank fractions — O(1) state per group.
    * The value-comparison alternative (exact `percentile`) buffers every
    * distinct value per group in the aggregation state: measured 10×
    * q32's cost at sf0.1 and corpus-sized state at 100 TB, for a check
    * the rank bound makes for free. Two scans, both scale-safe shapes
    * (hash-agg + broadcast-join + hash-agg). The exact cardinality
    * rides the SECOND pass: hoisting countDistinct into the sketch
    * aggregate instead plans an Expand that doubles the rows flowing
    * through the (expensive) percentile sketch evaluators — measured
    * +55% cpu at sf0.1 — while here the distinct expand doubles only
    * the cheap conditional-count pass. */
  def approxAggregates(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_returnflag", "l_partkey",
      "l_extendedprice")
    val approx = li.groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx_parts"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("ap50"),
        expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("ap99"))
    val bound = greatest(lit(QuantileRankBound), lit(2.0) / col("n_rows"))
    // the approx value's occupied rank range [n_lt, n_le], widened by the
    // bound, must cover the target rank — ties sit inside the range, so
    // only sketch error can push the target outside it
    def quantileOk(q: Double, lt: String, le: String) =
      (col(lt).cast("double") / col("n_rows") <= lit(q) + bound) &&
        (col(le).cast("double") / col("n_rows") >= lit(q) - bound)
    li.join(broadcast(approx), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        first(col("approx_parts")).as("approx_parts"),
        sum(when(col("l_extendedprice") < col("ap50"), 1L).otherwise(0L))
          .as("n_lt_p50"),
        sum(when(col("l_extendedprice") <= col("ap50"), 1L).otherwise(0L))
          .as("n_le_p50"),
        sum(when(col("l_extendedprice") < col("ap99"), 1L).otherwise(0L))
          .as("n_lt_p99"),
        sum(when(col("l_extendedprice") <= col("ap99"), 1L).otherwise(0L))
          .as("n_le_p99"),
        count(lit(1)).as("n_rows"))
      .select(
        col("l_returnflag"),
        col("exact_parts"),
        col("n_rows"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double")
          / col("exact_parts") <= lit(HllRelBound)).as("parts_ok"),
        quantileOk(0.5, "n_lt_p50", "n_le_p50").as("p50_ok"),
        quantileOk(0.99, "n_lt_p99", "n_le_p99").as("p99_ok"))
  }

  /** The oracle recomputes the exact values and pins every bound boolean:
    * DuckDB can't rerun Spark's sketches, but it CAN assert each group's
    * exact cardinality/row count and that Spark claims in-bound accuracy. */
  val approxAggregatesSql: String =
    """SELECT l_returnflag,
      |       COUNT(DISTINCT l_partkey) AS exact_parts,
      |       COUNT(*) AS n_rows,
      |       TRUE AS parts_ok, TRUE AS p50_ok, TRUE AS p99_ok
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
}
