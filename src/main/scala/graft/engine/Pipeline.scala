package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import java.time.LocalDate
import scala.jdk.CollectionConverters._

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
    * PipelineSpec asserts the two are row-equal).
    *
    * The two row-level views are O(history) DataFrames over the zone, as
    * in Athena. The two aggregate views are served from counts kept per
    * (session, zone): the zone only gains files, so a refresh lists it
    * ([[graft.FileSet]]), aggregates only the files its counts do not
    * cover yet, in one aggregation, and adds the collected rows (one per
    * key, not per input row) to the counts. count_by_crime_type
    * and [[CrimeViews.topArrestPct]] of the summed community counts are
    * then registered over local relations. A refresh that finds no new
    * file runs no Spark job. A covered file that is gone or changed drops
    * the counts, and the refresh counts the whole zone again, as the first
    * refresh of a session does. Nothing is written under `processedDir`;
    * PipelineSpec asserts the kept views equal the full-scan
    * [[CrimeViews]] functions after every day. */
  def refreshViews(spark: SparkSession, processedDir: String): Unit = {
    val processed = graft.sources.Ingest.readProcessed(spark, processedDir)
    processed.createOrReplaceTempView("processed")
    val violent = CrimeViews.violentCrimes(processed)
    violent.createOrReplaceTempView("dependency1_violent_crimes")
    val counts = zoneCounts(spark, processedDir)
    spark.createDataFrame(counts.crimeTypes.map { case (t, n) => Row(t.orNull, n) }.toSeq.asJava,
        CrimeViews.countByCrimeType(processed).schema)
      .createOrReplaceTempView("count_by_crime_type")
    CrimeViews.topArrestPct(spark.createDataFrame(counts.communities.map {
        case (c, (reports, arrests)) => Row(c.map(Long.box).orNull, reports, arrests)
      }.toSeq.asJava, CrimeViews.communityCounts(violent).schema))
      .createOrReplaceTempView("arrest_pct_by_community_violent")
    CrimeViews.fixedDates(violent)
      .createOrReplaceTempView("fixed_dates_violent")
  }

  /** The aggregate views' counts over `files` of one zone: rows per crime
    * type, and (reports, arrests) per community_area of the violent rows;
    * a null key is a group of its own. */
  private final case class ZoneCounts(files: Set[graft.FileSet.File],
      crimeTypes: Map[Option[String], Long],
      communities: Map[Option[Long], (Long, Long)])

  private val kept = new java.util.WeakHashMap[SparkSession, Map[String, ZoneCounts]]()

  /** The counts over every file now in the zone: the kept counts plus one
    * aggregation over the files they do not cover, grouped by crime type,
    * violence and (for violent rows) community. */
  private def zoneCounts(spark: SparkSession, processedDir: String): ZoneCounts = {
    import org.apache.spark.sql.functions.{col, count, lit, when}
    val zone = graft.FileSet.list(spark, processedDir)
    val listed = zone.files.toSet
    val prev = kept.synchronized(Option(kept.get(spark)).flatMap(_.get(zone.root)))
      .filter(_.files.subsetOf(listed))
      .getOrElse(ZoneCounts(Set.empty, Map.empty, Map.empty))
    val fresh = zone.files.filterNot(prev.files)
    if (fresh.isEmpty) return prev
    val rows = spark.read.schema(StructType.fromDDL(graft.sources.Ingest.processedSchemaDdl))
      .option("basePath", zone.root).parquet(fresh.map(f => s"${zone.root}/${f.path}"): _*)
      .groupBy(CrimeViews.CrimeType, CrimeViews.Violent,
        when(CrimeViews.Violent, col("community_area")))
      .agg(count(lit(1)), count(when(col("arrest") === true, 1))).collect()
    val crimeTypes = collection.mutable.Map(prev.crimeTypes.toSeq: _*)
    val communities = collection.mutable.Map(prev.communities.toSeq: _*)
    for (r <- rows; n = r.getLong(3)) {
      val t = Option(r.getString(0))
      crimeTypes(t) = crimeTypes.getOrElse(t, 0L) + n
      if (!r.isNullAt(1) && r.getBoolean(1)) {
        val c = if (r.isNullAt(2)) None else Some(r.getLong(2))
        val (reports, arrests) = communities.getOrElse(c, (0L, 0L))
        communities(c) = (reports + n, arrests + r.getLong(4))
      }
    }
    val counts = ZoneCounts(listed, crimeTypes.toMap, communities.toMap)
    kept.synchronized(kept.put(spark,
      Option(kept.get(spark)).getOrElse(Map.empty).updated(zone.root, counts)))
    counts
  }

  def view(spark: SparkSession, name: String): DataFrame = spark.table(name)
}
