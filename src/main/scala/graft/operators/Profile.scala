package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import graft.engine.Tables

/** Column profiling — the data-quality pass every ingest pipeline runs
  * before trusting a table (the expectations/metrics pattern): one row
  * per column with completeness (null rate), cardinality, and numeric
  * range. The reference pipeline trusts its crawler blindly
  * (SURVEY.md §4 hazard 5: silently evolving input schema); this is the
  * check it was missing.
  *
  * Scale: ONE pass over the scan — every metric is an aggregate in a
  * single global aggregation (no per-column scans, no shuffle beyond
  * the 1-row combine). Distinct counts use the HLL sketch in
  * [[profile]] (exact distinct per column would be one expand+shuffle);
  * at 100 TB this profiles at scan speed with constant memory.
  */
object Profile {

  /** Shared profiling body. Internal aliases are POSITIONAL (`__n_0`…)
    * so arbitrary column names — spaces, dots, quotes — never reach a
    * SQL identifier; the real name appears only as an escaped string
    * literal in the output column. */
  private def profileWith(df: DataFrame, distinctAgg: Column => Column,
      distinctName: String): DataFrame = {
    val cols = df.schema.fields
    val aggs = cols.zipWithIndex.flatMap { case (f, i) =>
      // backquoted so dotted names ("a.b") resolve as one column, not a
      // struct path
      val c = col("`" + f.name.replace("`", "``") + "`")
      val isNum = f.dataType.isInstanceOf[NumericType]
      Seq(
        count(lit(1)).as(s"__n_$i"),
        count(when(c.isNull, 1)).as(s"__nulls_$i"),
        distinctAgg(c).as(s"__dist_$i"),
        (if (isNum) min(c).cast("double") else lit(null).cast("double"))
          .as(s"__min_$i"),
        (if (isNum) max(c).cast("double") else lit(null).cast("double"))
          .as(s"__max_$i"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // pivot the single wide row into one row per column (driver-side
    // reshape of a 1-row result — not a data-size operation)
    val stack = cols.zipWithIndex.map { case (f, i) =>
      val lit = "'" + f.name.replace("'", "''") + "'"
      s"$lit, __n_$i, __nulls_$i, __dist_$i, __min_$i, __max_$i"
    }.mkString(", ")
    wide.selectExpr(s"stack(${cols.length}, $stack) AS " +
      s"(column_name, n_rows, n_nulls, $distinctName, min_num, max_num)")
      .withColumn("null_rate",
        round(col("n_nulls").cast("double") / col("n_rows"), 6))
      .select("column_name", "n_rows", "n_nulls", "null_rate",
        distinctName, "min_num", "max_num")
  }

  /** One profile row per column: (column, n_rows, n_nulls, null_rate,
    * approx_distinct, min_num, max_num). Numeric min/max are null for
    * non-numeric columns; approx_distinct uses a 2% HLL — the
    * scan-speed production variant. */
  def profile(df: DataFrame): DataFrame =
    profileWith(df, c => approx_count_distinct(c, rsd = 0.02), "approx_distinct")

  // ---- SparkEntry wiring -------------------------------------------------

  /** q45 profiles the orders table. The driver compare hashes every
    * column, so this oracle-checked variant uses EXACT per-column
    * distinct counts (HLL sketches aren't engine-portable) — one
    * expand+shuffle over 5 columns, acceptable at oracle scale.
    * [[profile]] stays the HLL scan-speed variant for production use
    * and is bounds-asserted against this in tests. */
  def qProfile(s: SparkSession, d: String): DataFrame =
    profileWith(
      Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority"),
      c => countDistinct(c), "exact_distinct")

  val qProfileSql: String = {
    val cols = Seq(
      ("o_orderkey", true), ("o_custkey", true), ("o_orderstatus", false),
      ("o_totalprice", true), ("o_orderpriority", false))
    cols.map { case (c, isNum) =>
      val mn = if (isNum) s"MIN($c)::DOUBLE" else "NULL::DOUBLE"
      val mx = if (isNum) s"MAX($c)::DOUBLE" else "NULL::DOUBLE"
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         |       COUNT(*) - COUNT($c) AS n_nulls,
         |       ROUND((COUNT(*) - COUNT($c))::DOUBLE / COUNT(*), 6) AS null_rate,
         |       COUNT(DISTINCT $c) AS exact_distinct,
         |       $mn AS min_num, $mx AS max_num
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }
}
