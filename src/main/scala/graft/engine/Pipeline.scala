package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.time.LocalDate

/** The end-to-end pipeline driver — the reference's event-driven
  * orchestration collapsed into ordinary control flow (SURVEY.md §3):
  * CloudTrail→EventBridge→Glue-workflow triggers become function calls;
  * the four Athena views run in dependency order after each processing
  * run (the absent `execute_queries` Lambda's observable contract,
  * CDK/cdk/cdk_stack.py:307-367).
  */
object Pipeline {

  case class Dirs(landing: String, processed: String, checkpoint: String)

  /** One scheduled run (reference cadence: weekdays 10:00 UTC,
    * CDK/cdk/cdk_stack.py:50-53): fetch yesterday's updates → land CSV →
    * process only new files → refresh views ([[refreshCatalog]]: the
    * stored NamedQuery texts run verbatim when the store is present). */
  def run(spark: SparkSession, source: DataFrame, dirs: Dirs,
      since: String, fileDate: LocalDate = LocalDate.now()): Unit = {
    graft.sources.Ingest.fetchRecent(source, since, dirs.landing, fileDate)
    graft.sources.Ingest.processNewFiles(
      spark, dirs.landing, dirs.processed, dirs.checkpoint)
    refreshCatalog(spark, dirs.processed)
  }

  /** [[run]] with the fetch stage going over real HTTP — the reference's
    * actual topology (Lambda GET against Socrata with a SoQL `$where`,
    * get_data_api.py:10-24), via the `soql` DSv2 connector. A failed
    * fetch (non-200) skips the day, reference-laxity style, and the rest
    * of the run still processes whatever is already landed. */
  def runHttp(spark: SparkSession, endpoint: String, dirs: Dirs,
      since: String, fileDate: LocalDate = LocalDate.now()): Unit = {
    graft.sources.Ingest.fetchRecentHttp(spark, endpoint, since, dirs.landing, fileDate)
    graft.sources.Ingest.processNewFiles(
      spark, dirs.landing, dirs.processed, dirs.checkpoint)
    refreshCatalog(spark, dirs.processed)
  }

  /** The reference's full scheduled topology: the EventBridge weekday
    * cron firing the fetch→process→views chain. Each tick fetches rows
    * updated since the PREVIOUS day (get_data_api.py:11-13's
    * `date.today() - timedelta(days=1)`) and lands them under the fire
    * date; a failed day skips (laxity inside [[runHttp]]'s fetch), the
    * schedule itself keeps ticking. */
  def runHttpScheduled(spark: SparkSession, endpoint: String, dirs: Dirs,
      scheduler: Scheduler, times: Int, hour: Int = 10): Unit =
    scheduler.runDaily(times, hour) { fireDate =>
      runHttp(spark, endpoint, dirs,
        since = fireDate.minusDays(1).toString, fileDate = fireDate)
    }

  /** The four reference view names, in dependency order
    * (dependency1_violent_crimes first — its consumers read it by name). */
  val ViewNames: Seq[String] = Seq("dependency1_violent_crimes",
    "count_by_crime_type", "arrest_pct_by_community_violent",
    "fixed_dates_violent")

  /** The stored-NamedQuery store: a directory holding the four Athena
    * view DDL texts, the analog of the NamedQuery objects the reference
    * keeps in its Athena workgroup (CDK/cdk/cdk_stack.py:307-326) and
    * executes per run (:331-339). The store location is EXPLICIT
    * configuration — the `graft.namedquery.dir` system property or the
    * `GRAFT_NAMEDQUERY_DIR` env var; a deployment that wants verbatim
    * execution must point one of them at its query store (there is no
    * baked-in default path). Returns the file TEXTS untouched, in
    * dependency order; None when unconfigured or when the configured
    * store is incomplete (logged — callers fall back to the paraphrased
    * views). */
  def storedNamedQueries(): Option[Seq[String]] =
    sys.props.get("graft.namedquery.dir")
      .orElse(sys.env.get("GRAFT_NAMEDQUERY_DIR"))
      .flatMap { dir =>
        val files = Seq("dependency1_violent_crimes.txt",
          "count_by_crime_type.txt", "arrest_pct_by_community_VIOLENT.txt",
          "fixed_dates_violent.txt")
        val root = java.nio.file.Paths.get(dir)
        val missing =
          files.filterNot(f => java.nio.file.Files.isRegularFile(root.resolve(f)))
        if (missing.isEmpty)
          Some(files.map(f => new String(
            java.nio.file.Files.readAllBytes(root.resolve(f)), "UTF-8")))
        else {
          System.err.println(s"[graft] NamedQuery store $dir is missing " +
            s"${missing.mkString(", ")}; falling back to paraphrased views")
          None
        }
      }

  /** The pipeline's default refresh stage — the reference's E3 contract
    * executes the STORED NamedQuery texts, not a paraphrase
    * (CDK/cdk/cdk_stack.py:331-339): when the query store resolves, run
    * the texts byte-for-byte via [[Catalogs.refreshViewsVerbatim]]
    * (persistent views over the cataloged processed zone) and point the
    * session-level view names at them, so every downstream read flows
    * through the verbatim definitions. Without a configured store
    * (embedded/library use), fall back to the paraphrased
    * [[refreshViews]] with a logged notice — that remains the
    * library-facing API; PipelineSpec asserts the two are row-equal,
    * null keys and null arrests included. */
  def refreshCatalog(spark: SparkSession, processedDir: String): Unit =
    storedNamedQueries() match {
      case Some(ddls) =>
        Catalogs.refreshViewsVerbatim(spark, processedDir, ddls)
        graft.sources.Ingest.readProcessed(spark, processedDir)
          .createOrReplaceTempView("processed")
        ViewNames.foreach(v =>
          spark.table(s"glue_crime_db.$v").createOrReplaceTempView(v))
      case None =>
        System.err.println("[graft] no NamedQuery store configured " +
          "(graft.namedquery.dir / GRAFT_NAMEDQUERY_DIR); refreshing the " +
          "paraphrased views")
        refreshViews(spark, processedDir)
    }

  /** Register the four views over the processed zone in dependency order,
    * from the PARAPHRASED DataFrame definitions — the library-facing API
    * ([[refreshCatalog]] prefers the verbatim stored texts when present;
    * PipelineSpec asserts the two are row-equal). */
  def refreshViews(spark: SparkSession, processedDir: String): Unit = {
    val processed = graft.sources.Ingest.readProcessed(spark, processedDir)
    processed.createOrReplaceTempView("processed")
    val violent = CrimeViews.violentCrimes(processed)
    violent.createOrReplaceTempView("dependency1_violent_crimes")
    CrimeViews.countByCrimeType(processed)
      .createOrReplaceTempView("count_by_crime_type")
    CrimeViews.arrestPctByCommunity(violent)
      .createOrReplaceTempView("arrest_pct_by_community_violent")
    CrimeViews.fixedDates(violent)
      .createOrReplaceTempView("fixed_dates_violent")
  }

  def view(spark: SparkSession, name: String): DataFrame = spark.table(name)
}
