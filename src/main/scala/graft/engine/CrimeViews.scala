package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference pipeline's four Athena views plus the Glue ETL enrichment,
  * re-expressed as pure `DataFrame => DataFrame` functions over any
  * crime-shaped input (columns per SURVEY.md §1.2).
  *
  * Sources in /root/reference:
  *  - enrich:        Glue Script/process_crime_data.py:22-24
  *  - violentCrimes: CDK/cdk/athena_queries/dependency1_violent_crimes.txt
  *  - countByCrimeType: CDK/cdk/athena_queries/count_by_crime_type.txt
  *  - arrestPctByCommunity: CDK/cdk/athena_queries/arrest_pct_by_community_VIOLENT.txt
  *  - fixedDates:    CDK/cdk/athena_queries/fixed_dates_violent.txt
  *
  * All four views are narrow/declarative: Catalyst pushes the violent-crime
  * filter into the parquet scan and plans partial+final hash aggregation.
  * arrestPctByCommunity computes both of its counts in one aggregation, so
  * it scans once and shuffles once. Nothing here shuffles more than once
  * per view — the same plan shape survives a 100 TB input.
  *
  * The two aggregate views split into a count step whose rows can be
  * summed across inputs and a final step: count_by_crime_type is its own
  * count step ([[countByCrimeType]] over a union is the sum of it over the
  * parts), arrest_pct is [[communityCounts]] then [[topArrestPct]].
  * [[Pipeline.refreshViews]] keeps the summed counts of the zone's files
  * and folds in only new files; the composed full-scan functions are the
  * oracle it is checked against.
  */
object CrimeViews {

  /** Crime `date` strings are 12-hour with AM/PM
    * (e.g. `06/15/2021 09:30:00 PM`) — Glue Script/process_crime_data.py:22. */
  val CrimeDateFmt = "MM/dd/yyyy hh:mm:ss a"

  /** Glue ETL enrichment: derive new_date, month, day
    * (Glue Script/process_crime_data.py:22-24). */
  def enrich(crimes: DataFrame): DataFrame =
    crimes
      .withColumn("new_date", to_date(col("date"), CrimeDateFmt))
      .withColumn("month", month(col("new_date")))
      .withColumn("day", dayofmonth(col("new_date")))

  /** dependency1_violent_crimes' predicate: compound, AND binds tighter
    * than OR (dependency1_violent_crimes.txt:5-10). Null (a null
    * `primary_type`) is not violent, as in a filter. */
  val Violent: Column =
    (col("primary_type") === "ROBBERY" && col("description").like("%ARMED%")) ||
      col("primary_type").isin("ASSAULT", "BATTERY", "HOMICIDE", "CRIMINAL SEXUAL ASSAULT")

  /** dependency1_violent_crimes: the rows where [[Violent]] holds. */
  def violentCrimes(crimes: DataFrame): DataFrame = crimes.filter(Violent)

  /** count_by_crime_type's grouping key, primary_type || ' - ' ||
    * description (count_by_crime_type.txt:1-6). Spark `concat`
    * null-propagates exactly like Presto `||`. */
  val CrimeType: Column = concat(col("primary_type"), lit(" - "), col("description"))

  /** count_by_crime_type: GROUP BY [[CrimeType]]. */
  def countByCrimeType(crimes: DataFrame): DataFrame =
    crimes.groupBy(CrimeType.as("crime_type")).agg(count(lit(1)).as("count"))

  /** arrest_pct_by_community_VIOLENT: the reference inner-joins two
    * aggregations over the violent view on community_area, ratio as
    * double, top-15 by reports (arrest_pct_by_community_VIOLENT.txt).
    * Here both counts come from one aggregation ([[communityCounts]]), and
    * [[topArrestPct]]'s filter keeps the join's semantics. */
  def arrestPctByCommunity(violent: DataFrame): DataFrame =
    topArrestPct(communityCounts(violent))

  /** Reports and arrests per community_area of the violent rows. An
    * `arrest = null` row counts as a report, not as an arrest. */
  def communityCounts(violent: DataFrame): DataFrame =
    violent.groupBy("community_area")
      .agg(count(lit(1)).as("tot_reports"),
        count(when(col("arrest") === true, 1)).as("tot_arrests"))

  /** The final step over (community_area, tot_reports, tot_arrests): a
    * null key never joins, and a community without an arrest has no row
    * on the arrest side (SURVEY.md §4 hazard 6). The explicit double casts
    * avoid integer division (hazard 5). */
  def topArrestPct(counts: DataFrame): DataFrame =
    counts
      .filter(col("community_area").isNotNull && col("tot_arrests") > 0)
      .withColumn("arrest_pct",
        round(col("tot_arrests").cast("double") / col("tot_reports").cast("double") * 100, 2))
      .orderBy(col("tot_reports").desc)
      .limit(15)

  /** fixed_dates_violent: Presto date_parse/date_format/DAY_OF_WEEK over the
    * violent view (fixed_dates_violent.txt:3-7), via the dialect helpers. */
  def fixedDates(violent: DataFrame): DataFrame = {
    val ts = PrestoCompat.dateParse(col("date"), "%m/%d/%Y %T %p")
    violent
      .withColumn("date_timestamp", ts)
      .withColumn("day_of_week", PrestoCompat.dateFormatP(col("date_timestamp"), "%W"))
      .withColumn("day_of_week_num", PrestoCompat.dayOfWeekIso(col("date_timestamp")))
  }
}
