package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-operator parity queries, exercised on the driver's star schema
  * (FIXTURES.md §A maps each reference operator to a star-schema analog so
  * the DuckDB oracle can replay it). Every query is deterministic: ties are
  * broken by a unique key so the sorted-row hash compare is stable.
  *
  * Scale notes (100 TB): each query is a single scan + ≤1 shuffle;
  * aggregations are partial+final hash-agg; the one fact⋈dim join
  * broadcasts the dim side. Filters and column pruning reach the parquet
  * scan (verified via explain in BenchSpec).
  */
object StarQueries {
  import Tables._

  /** q1 — A1+F1 (count_by_crime_type analog): group by a computed
    * concatenation, COUNT(*). Ref: count_by_crime_type.txt:1-6. */
  def countByType(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(concat(col("o_orderstatus"), lit(" - "), col("o_orderpriority")).as("crime_type"))
      .agg(count(lit(1)).as("count"))

  val countByTypeSql: String =
    """SELECT o_orderstatus || ' - ' || o_orderpriority AS crime_type,
      |       COUNT(*) AS "count"
      |FROM orders GROUP BY 1 ORDER BY crime_type""".stripMargin

  /** q2 — P2-P4 (dependency1_violent_crimes analog): compound predicate with
    * AND-tighter-than-OR precedence and a contains-LIKE.
    * Ref: dependency1_violent_crimes.txt:5-10. */
  def violentFilter(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .filter((col("p_type") === "ECONOMY" && col("p_name").like("%widget%")) ||
        col("p_type").isin("PROMO", "LARGE", "SMALL"))

  val violentFilterSql: String =
    """SELECT * FROM part
      |WHERE (p_type = 'ECONOMY' AND p_name LIKE '%widget%')
      |   OR p_type = 'PROMO' OR p_type = 'LARGE' OR p_type = 'SMALL'
      |ORDER BY p_partkey""".stripMargin

  /** q3 — A2+A3+J1+F7-F9+T1 (arrest_pct_by_community analog): two
    * aggregations of the same base inner-joined, double-cast ratio, round,
    * top-15. Base = orders⋈customer to get a community-like key
    * (c_nationkey); the dim side is broadcast. Deterministic tiebreak on
    * c_nationkey added for the oracle compare (SURVEY.md §4 hazard 4).
    * Ref: arrest_pct_by_community_VIOLENT.txt. */
  def arrestPctTopk(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
    val totReports = base.groupBy("c_nationkey").agg(count(lit(1)).as("tot_reports"))
    val totArrests = base.filter(col("o_orderstatus") === "F")
      .groupBy("c_nationkey").agg(count(lit(1)).as("tot_arrests"))
    totReports.join(totArrests, Seq("c_nationkey"), "inner")
      .withColumn("arrest_pct",
        round(col("tot_arrests").cast("double") / col("tot_reports").cast("double") * 100, 2))
      .orderBy(col("tot_reports").desc, col("c_nationkey"))
      .limit(15)
  }

  val arrestPctTopkSql: String =
    """WITH base AS (
      |  SELECT c_nationkey, o_orderstatus
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |tr AS (SELECT c_nationkey, COUNT(*) AS tot_reports FROM base GROUP BY 1),
      |ta AS (SELECT c_nationkey, COUNT(*) AS tot_arrests FROM base
      |       WHERE o_orderstatus = 'F' GROUP BY 1)
      |SELECT tr.c_nationkey, tot_reports, tot_arrests,
      |       ROUND(CAST(tot_arrests AS DOUBLE) / CAST(tot_reports AS DOUBLE) * 100, 2) AS arrest_pct
      |FROM tr JOIN ta ON tr.c_nationkey = ta.c_nationkey
      |ORDER BY tot_reports DESC, tr.c_nationkey LIMIT 15""".stripMargin

  /** q4 — P1+F2-F6 (fixed_dates_violent + Glue enrich analog): format a
    * timestamp to the crime 12-hour string form, parse it back through the
    * Presto-dialect helpers, derive weekday name, ISO weekday number,
    * month, day-of-month. Exercises hazards 1-3 end to end.
    * Ref: fixed_dates_violent.txt:3-7; Glue Script/process_crime_data.py:22-24. */
  def fixedDates(s: SparkSession, d: String): DataFrame = {
    val str = date_format(col("o_orderdate"), CrimeViews.CrimeDateFmt)
    orders(s, d)
      .withColumn("date_str", str)
      .withColumn("date_timestamp", PrestoCompat.dateParse(col("date_str"), "%m/%d/%Y %T %p"))
      .withColumn("new_date", to_date(col("date_timestamp")))
      .withColumn("day_of_week", PrestoCompat.dateFormatP(col("date_timestamp"), "%W"))
      .withColumn("day_of_week_num", PrestoCompat.dayOfWeekIso(col("date_timestamp")))
      .withColumn("month", month(col("new_date")).cast("long"))
      .withColumn("day", dayofmonth(col("new_date")).cast("long"))
      .select("o_orderkey", "date_str", "date_timestamp", "new_date",
        "day_of_week", "day_of_week_num", "month", "day")
  }

  val fixedDatesSql: String =
    """SELECT o_orderkey,
      |       strftime(o_orderdate, '%m/%d/%Y %I:%M:%S %p') AS date_str,
      |       strptime(strftime(o_orderdate, '%m/%d/%Y %I:%M:%S %p'), '%m/%d/%Y %I:%M:%S %p') AS date_timestamp,
      |       CAST(o_orderdate AS DATE) AS new_date,
      |       dayname(o_orderdate) AS day_of_week,
      |       isodow(o_orderdate) AS day_of_week_num,
      |       month(o_orderdate) AS month,
      |       day(o_orderdate) AS day
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q5 — S4 analog (partition-key derivation): the year/month columns the
    * partitioned parquet sink lays out, with per-partition row counts and an
    * exact (integer-valued double) quantity sum.
    * Ref: Glue Script/process_crime_data.py:32-37. */
  def partitionDerive(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(year(col("l_shipdate")).cast("long").as("year"),
        month(col("l_shipdate")).cast("long").as("month"))
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))

  val partitionDeriveSql: String =
    """SELECT year(l_shipdate) AS year, month(l_shipdate) AS month,
      |       COUNT(*) AS n_rows, SUM(l_quantity) AS sum_qty
      |FROM lineitem GROUP BY 1, 2 ORDER BY year, month""".stripMargin

  /** q6 — §2.5 extension: window-function formulation of top-k (rank per
    * group). Top-3 customers by order count within each nation. */
  def topkWindow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCust = orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey", "c_custkey")
      .agg(count(lit(1)).as("n_orders"),
        // decimal sum: order-independent, exact across engines
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"))
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("n_orders").desc, col("c_custkey"))
    perCust.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
  }

  val topkWindowSql: String =
    """WITH per_cust AS (
      |  SELECT c_nationkey, c_custkey, COUNT(*) AS n_orders,
      |         SUM(o_totalprice::DECIMAL(18,2))::DOUBLE AS spend
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2)
      |SELECT c_nationkey, c_custkey, n_orders, spend,
      |       ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |                          ORDER BY n_orders DESC, c_custkey) AS rnk
      |FROM per_cust QUALIFY rnk <= 3
      |ORDER BY c_nationkey, rnk""".stripMargin
}
