package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent-catalog surface — the reference's two Glue databases
  * re-expressed as Spark catalog objects (SURVEY.md §2.1 S6/S7, §2.11 D1):
  *
  *  - `graft_crime_db`: the processed zone registered as an EXTERNAL
  *    partitioned parquet table (the post-ETL crawler's output,
  *    CDK/cdk/cdk_stack.py:136-151) plus the four reference views as
  *    PERSISTENT views — they live in the shared external catalog, not
  *    session state, so a fresh session over the same catalog sees them
  *    (the Glue/Athena semantics; temp views die with the session).
  *  - `graft_neighborhood_db`: the second catalog domain
  *    (CDK/cdk/cdk_stack.py:113-134) holding a supporting lookup table —
  *    crawled but never queried in the reference; [[lookupJoin]] adds the
  *    natural broadcast-lookup join it wires up but leaves unused.
  *
  * Local runs use Spark's built-in session catalog; pointing
  * `spark.sql.catalogImplementation=hive` + a warehouse dir at a real
  * metastore makes the same DDL durable across JVMs — no code change.
  */
object Catalogs {

  val CrimeDb = "graft_crime_db"
  val NeighborhoodDb = "graft_neighborhood_db"

  /** Register the processed zone as an external partitioned table and
    * recover its (year, month) Hive partitions — `MSCK REPAIR` is the
    * crawler-run analog. The schema is the zone's declared
    * [[graft.sources.Ingest.processedSchemaDdl]] (PipelineSpec pins it to
    * what footer discovery reads), so registering runs no inference job. */
  def registerProcessedTable(spark: SparkSession, processedDir: String,
      db: String = CrimeDb): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $db.processed")
    val cols = org.apache.spark.sql.types.StructType
      .fromDDL(graft.sources.Ingest.processedSchemaDdl).toDDL
    spark.sql(s"CREATE TABLE $db.processed ($cols) USING parquet " +
      s"PARTITIONED BY (year, month) LOCATION '$processedDir'")
    spark.sql(s"MSCK REPAIR TABLE $db.processed")
  }

  /** Persistent-view variant of [[Pipeline.refreshViews]]: the same four
    * reference views (CDK/cdk/athena_queries/) created as catalog views
    * over `$db.processed`, in dependency order. */
  def refreshViewsPersistent(spark: SparkSession, processedDir: String,
      db: String = CrimeDb): Unit = {
    registerProcessedTable(spark, processedDir, db)
    Seq(
      s"""CREATE OR REPLACE VIEW $db.dependency1_violent_crimes AS
         |SELECT * FROM $db.processed
         |WHERE (primary_type = 'ROBBERY' AND description LIKE '%ARMED%')
         |   OR primary_type = 'ASSAULT' OR primary_type = 'BATTERY'
         |   OR primary_type = 'HOMICIDE'
         |   OR primary_type = 'CRIMINAL SEXUAL ASSAULT'""".stripMargin,
      s"""CREATE OR REPLACE VIEW $db.count_by_crime_type AS
         |SELECT concat(primary_type, ' - ', description) AS crime_type,
         |       COUNT(*) AS `count`
         |FROM $db.processed GROUP BY 1""".stripMargin,
      s"""CREATE OR REPLACE VIEW $db.arrest_pct_by_community_violent AS
         |SELECT tr.community_area, tot_reports, tot_arrests,
         |       ROUND(CAST(tot_arrests AS DOUBLE) / CAST(tot_reports AS DOUBLE) * 100, 2) AS arrest_pct
         |FROM (SELECT community_area, COUNT(*) AS tot_reports
         |      FROM $db.dependency1_violent_crimes GROUP BY community_area) tr
         |JOIN (SELECT community_area, COUNT(*) AS tot_arrests
         |      FROM $db.dependency1_violent_crimes WHERE arrest = true
         |      GROUP BY community_area) ta
         |  ON tr.community_area = ta.community_area
         |ORDER BY tot_reports DESC LIMIT 15""".stripMargin,
      s"""CREATE OR REPLACE VIEW $db.fixed_dates_violent AS
         |SELECT *,
         |       to_timestamp(date, 'MM/dd/yyyy hh:mm:ss a') AS date_timestamp,
         |       date_format(to_timestamp(date, 'MM/dd/yyyy hh:mm:ss a'), 'EEEE') AS day_of_week,
         |       CAST(weekday(to_timestamp(date, 'MM/dd/yyyy hh:mm:ss a')) + 1 AS BIGINT) AS day_of_week_num
         |FROM $db.dependency1_violent_crimes""".stripMargin,
    ).foreach(spark.sql(_))
  }

  /** E3's verbatim contract: execute reference-dialect view DDL TEXT
    * as-is — the byte-for-byte content of the four Athena NamedQuery
    * .txt files (CDK/cdk/athena_queries/), which qualify their reads as
    * `"glue_crime_db"."processed"` / `"glue_crime_db"."dependency1_…"`
    * and create unqualified view names (Athena resolves those against the
    * QueryExecutionContext database; Spark against the current database).
    * So: register the processed zone under the TEXT'S database name,
    * run the batch in a CLONED session (shared external catalog,
    * private session state) whose current database points there — the
    * caller's session never sees a current-database change, so
    * concurrent queries on it keep resolving unqualified names as
    * before — translate each statement's Presto-isms via [[PrestoSql]]
    * (quoted identifiers, date_parse/date_format patterns, DAY_OF_WEEK)
    * and run it as a PERSISTENT view. Statements may carry a trailing
    * `;` (one file does); callers pass the file contents untouched, in
    * dependency order. Row-equality to the paraphrased
    * [[Pipeline.refreshViews]] path is asserted in CatalogSpec. */
  def refreshViewsVerbatim(spark: SparkSession, processedDir: String,
      ddls: Seq[String], db: String = "glue_crime_db"): Unit = {
    registerProcessedTable(spark, processedDir, db)
    val ddlSession = spark.newSession()
    ddlSession.catalog.setCurrentDatabase(db)
    ddls.foreach(d => PrestoSql.executeView(ddlSession, d.trim.stripSuffix(";")))
  }

  /** Register the supporting lookup domain: `nation` as the
    * community-area-name lookup (the star schema's analog of the
    * reference's neighborhood data under `supporting/`). DROP+CREATE so a
    * re-register against a different scale dir can't serve a stale
    * location. The location is absolutized first: a relative `LOCATION`
    * resolves against the warehouse dir, not the process CWD, so a
    * caller passing `target/scale/sf0.5` would register an empty path. */
  def registerNeighborhoodDb(spark: SparkSession, sfDir: String): Unit = {
    val loc = s"$sfDir/nation.parquet"
    // only local scheme-less paths need absolutizing; URIs (s3://, hdfs://,
    // file://) already resolve unambiguously. Scheme detection goes through
    // hadoop Path, which tolerates URI-illegal characters (spaces) the way
    // Spark's own LOCATION parsing does — strict java.net.URI would throw
    val abs = if (new org.apache.hadoop.fs.Path(loc).toUri.getScheme == null)
      new java.io.File(loc).getAbsolutePath else loc
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $NeighborhoodDb")
    spark.sql(s"DROP TABLE IF EXISTS $NeighborhoodDb.community_lookup")
    spark.sql(s"CREATE TABLE $NeighborhoodDb.community_lookup USING parquet " +
      s"LOCATION '$abs'")
  }

  /** q34 — the broadcast-lookup join the reference wires but never runs:
    * enrich the arrest-pct top-15 (q3) with the community name from the
    * second catalog domain. The lookup side is 25 rows — always broadcast;
    * the probe side is already an aggregate. */
  def lookupJoin(s: SparkSession, d: String): DataFrame = {
    registerNeighborhoodDb(s, d)
    val lookup = s.table(s"$NeighborhoodDb.community_lookup")
      .select(col("n_nationkey").as("community_area"),
        col("n_name").as("community_name"))
    StarQueries.arrestPctTopk(s, d)
      .withColumnRenamed("c_nationkey", "community_area")
      .join(broadcast(lookup), "community_area")
  }

  val lookupJoinSql: String =
    s"""SELECT c_nationkey AS community_area, tot_reports, tot_arrests,
       |       arrest_pct, n_name AS community_name
       |FROM (${StarQueries.arrestPctTopkSql}) t
       |JOIN nation ON t.c_nationkey = n_nationkey
       |ORDER BY tot_reports DESC, community_area""".stripMargin
}
