package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Pipeline
import graft.sources.Ingest
import java.nio.file.{Files, Paths}
import java.time.LocalDate

/** End-to-end replay of the reference pipeline (SURVEY.md §5 item 4):
  * two daily CSV drops → ingest → bookmark-incremental processing →
  * partitioned parquet → views, asserting bookmark semantics, duplicate
  * preservation (hazard 7), partition layout, and view outputs. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def freshDirs(): Pipeline.Dirs = {
    val root = Files.createTempDirectory("graft-pipe").toString
    Pipeline.Dirs(s"$root/input", s"$root/processed", s"$root/checkpoint")
  }

  // crime-shaped source rows (id, date, primary_type, description, arrest,
  // community_area, year, updated_on)
  def srcRows(upTo: String) = Seq(
    (1L, "06/15/2021 09:30:00 PM", "ROBBERY", "ARMED - HANDGUN", true, 25L, 2021L, "2021-06-16 01:00:00"),
    (2L, "06/15/2021 11:00:00 AM", "THEFT", "OVER $500", false, 25L, 2021L, "2021-06-16 01:00:00"),
    (3L, "07/01/2021 08:00:00 AM", "ASSAULT", "AGGRAVATED", true, 7L, 2021L, "2021-07-02 01:00:00"),
    (4L, "07/02/2021 10:00:00 PM", "BATTERY", "SIMPLE", false, 7L, 2021L, "2021-07-03 01:00:00"),
  ).toDF("id", "date", "primary_type", "description", "arrest",
      "community_area", "year", "updated_on")
    .withColumn("case_number", concat(lit("JE"), col("id")))
    .withColumn("domestic", lit(false))
    .withColumn("latitude", lit(41.88))
    .withColumn("longitude", lit(-87.63))
    .filter(col("updated_on") <= upTo)
    // CSV schema binds by position: emit the canonical crime column order
    .select(Ingest.crimeSchemaDdl.split(",").map(_.trim.split(" ")(0)).map(col): _*)

  test("two-run pipeline: bookmark increments, duplicates preserved, partition layout, views") {
    val dirs = freshDirs()

    // Day 1: rows updated through 2021-06-16 land and process.
    Pipeline.run(spark, srcRows("2021-06-30"), dirs,
      since = "2021-01-01", fileDate = LocalDate.parse("2021-06-16"))
    val afterDay1 = spark.read.parquet(dirs.processed).count()
    assert(afterDay1 == 2)

    // Day 2: a new file lands with day-3+4 rows PLUS re-fetched row 3
    // (late update) — the reference appends without dedup (hazard 7).
    Pipeline.run(spark, srcRows("2021-07-31"), dirs,
      since = "2021-06-30", fileDate = LocalDate.parse("2021-07-03"))
    val processed = spark.read.parquet(dirs.processed)
    assert(processed.count() == 4, "day-1 file NOT reprocessed (bookmark), day-2 file appended")

    // Partition layout year=YYYY/month=M (from the derived month column).
    assert(Files.exists(Paths.get(dirs.processed, "year=2021", "month=6")))
    assert(Files.exists(Paths.get(dirs.processed, "year=2021", "month=7")))

    // Third run with NO new file: bookmark means zero new rows.
    Ingest.processNewFiles(spark, dirs.landing, dirs.processed, dirs.checkpoint)
    assert(spark.read.parquet(dirs.processed).count() == 4)

    // Views resolve in dependency order and compute reference semantics.
    Pipeline.refreshViews(spark, dirs.processed)
    val violent = Pipeline.view(spark, "dependency1_violent_crimes")
    assert(violent.select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    val pct = Pipeline.view(spark, "arrest_pct_by_community_violent")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(pct(25L) == 100.0) // 1 violent, 1 arrest
    assert(pct(7L) == 50.0)   // 2 violent, 1 arrest
    val fixed = Pipeline.view(spark, "fixed_dates_violent")
      .select("id", "day_of_week", "day_of_week_num")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(fixed.contains((1L, "Tuesday", 2L)))
  }

  /** The spec's own NamedQuery store: Athena-dialect texts of the four
    * views, with the arrest view in the reference's join shape. */
  def namedQueryStore(): java.nio.file.Path = {
    val store = java.nio.file.Files.createTempDirectory("nq_store")
    def put(name: String, ddl: String): Unit =
      java.nio.file.Files.writeString(store.resolve(name), ddl)
    put("dependency1_violent_crimes.txt",
      """CREATE OR REPLACE VIEW dependency1_violent_crimes AS
        |SELECT * FROM "glue_crime_db"."processed"
        |WHERE (primary_type = 'ROBBERY' AND description LIKE '%ARMED%')
        |  OR primary_type = 'ASSAULT' OR primary_type = 'BATTERY'
        |  OR primary_type = 'HOMICIDE'
        |  OR primary_type = 'CRIMINAL SEXUAL ASSAULT'""".stripMargin)
    put("count_by_crime_type.txt",
      """CREATE OR REPLACE VIEW count_by_crime_type AS
        |SELECT primary_type || ' - ' || description AS crime_type,
        |  COUNT(*) AS "count"
        |FROM "glue_crime_db"."processed"
        |GROUP BY primary_type || ' - ' || description""".stripMargin)
    put("arrest_pct_by_community_VIOLENT.txt",
      """CREATE OR REPLACE VIEW arrest_pct_by_community_VIOLENT AS
        |SELECT tr.community_area, ta.tot_arrests, tr.tot_reports,
        |  ROUND(CAST(ta.tot_arrests AS double)
        |    / CAST(tr.tot_reports AS double) * 100, 2) AS arrest_pct
        |FROM (SELECT COUNT(*) AS tot_reports, community_area
        |      FROM "glue_crime_db"."dependency1_violent_crimes"
        |      GROUP BY community_area) tr
        |INNER JOIN (SELECT COUNT(*) AS tot_arrests, community_area
        |            FROM "glue_crime_db"."dependency1_violent_crimes"
        |            WHERE arrest = true
        |            GROUP BY community_area) ta
        |ON tr.community_area = ta.community_area
        |ORDER BY tot_reports DESC
        |LIMIT 15""".stripMargin)
    put("fixed_dates_violent.txt",
      """CREATE OR REPLACE VIEW fixed_dates_violent AS
        |SELECT date_format("date_timestamp", '%W') AS day_of_week,
        |  DAY_OF_WEEK("date_timestamp") AS day_of_week_num, *
        |FROM (SELECT date_parse("date", '%m/%d/%Y %T %p') AS date_timestamp, *
        |      FROM "glue_crime_db"."dependency1_violent_crimes")""".stripMargin)
    store
  }

  test("pipeline default refresh executes the stored NamedQuery texts (E3 verbatim)") {
    // Store-PRESENT path, with the store as explicit configuration (no
    // baked-in path): the spec provisions its own NamedQuery directory —
    // Athena-dialect texts whose arrest view orders tot_arrests BEFORE
    // tot_reports, the fingerprint distinguishing the stored text from
    // the paraphrased refreshViews (which orders tot_reports first) —
    // and points graft.namedquery.dir at it. (CatalogSpec separately
    // runs the reference tree's actual texts byte-for-byte when mounted.)
    val store = namedQueryStore()
    sys.props("graft.namedquery.dir") = store.toString
    try {
      assert(Pipeline.storedNamedQueries().isDefined)
      val dirs = freshDirs()
      Pipeline.run(spark, srcRows("2021-07-31"), dirs,
        since = "2021-01-01", fileDate = LocalDate.parse("2021-07-03"))
      // the run created the verbatim persistent views in the text's database
      assert(spark.catalog.tableExists("glue_crime_db.arrest_pct_by_community_violent"))
      // and pointed the session names at them: the session view carries
      // the stored text's column order, so downstream reads flow through
      // the stored definitions
      val sessionView = Pipeline.view(spark, "arrest_pct_by_community_violent")
      assert(sessionView.columns.take(3).toSeq ==
        Seq("community_area", "tot_arrests", "tot_reports"),
        s"session view not verbatim-backed: ${sessionView.columns.toSeq}")
      val pct = sessionView.collect()
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(pct(25L) == 100.0 && pct(7L) == 50.0)
    } finally sys.props -= "graft.namedquery.dir"
  }

  test("refresh without a configured NamedQuery store falls back to paraphrase") {
    // Store-ABSENT path: no graft.namedquery.dir / GRAFT_NAMEDQUERY_DIR
    // → refreshCatalog serves the paraphrased DataFrame views (session
    // temp views, paraphrase column order: tot_reports first). An
    // incomplete store must behave the same, not half-execute.
    assume(sys.env.get("GRAFT_NAMEDQUERY_DIR").isEmpty, "env store configured")
    sys.props -= "graft.namedquery.dir"
    assert(Pipeline.storedNamedQueries().isEmpty)
    val incomplete = java.nio.file.Files.createTempDirectory("nq_partial")
    java.nio.file.Files.writeString(
      incomplete.resolve("dependency1_violent_crimes.txt"), "CREATE ...")
    sys.props("graft.namedquery.dir") = incomplete.toString
    try assert(Pipeline.storedNamedQueries().isEmpty,
      "incomplete store must read as absent")
    finally sys.props -= "graft.namedquery.dir"
    val dirs = freshDirs()
    Pipeline.run(spark, srcRows("2021-07-31"), dirs,
      since = "2021-01-01", fileDate = LocalDate.parse("2021-07-03"))
    val sessionView = Pipeline.view(spark, "arrest_pct_by_community_violent")
    assert(sessionView.columns.take(3).toSeq ==
      Seq("community_area", "tot_reports", "tot_arrests"),
      s"expected paraphrase-backed view: ${sessionView.columns.toSeq}")
    val pct = sessionView.collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(pct(25L) == 100.0 && pct(7L) == 50.0)
  }

  test("SQL-path view refresh (Presto dialect DDL) equals the DataFrame path") {
    // refreshCatalog runs the spec's Athena-dialect texts through
    // PrestoSql, with arrest_pct as the reference's inner join of two
    // aggregations; the DataFrame path computes it in one aggregation.
    // Two extra violent rows: one with a null community_area (a null key
    // never joins) and one with a null arrest (a report, not an arrest).
    val nulls = Seq[(Long, String, String, String, Option[Boolean], Option[Long], Long, String)](
      (5L, "07/03/2021 09:00:00 PM", "BATTERY", "SIMPLE", Some(true), None, 2021L, "2021-07-04 01:00:00"),
      (6L, "07/03/2021 10:00:00 PM", "ASSAULT", "SIMPLE", None, Some(7L), 2021L, "2021-07-04 01:00:00"),
    ).toDF("id", "date", "primary_type", "description", "arrest",
        "community_area", "year", "updated_on")
      .withColumn("case_number", concat(lit("JE"), col("id")))
      .withColumn("domestic", lit(false))
      .withColumn("latitude", lit(41.88))
      .withColumn("longitude", lit(-87.63))
    val dirs = freshDirs()
    Pipeline.run(spark, srcRows("2021-07-31").unionByName(nulls), dirs,
      since = "2021-01-01", fileDate = LocalDate.parse("2021-07-04"))
    def snapshot(): Map[String, Seq[String]] =
      Pipeline.ViewNames.map { v =>
        val df = Pipeline.view(spark, v)
        // sorted multiset, not a Set: a duplicated/dropped row must fail
        v -> df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
          .collect().map(_.toString).toSeq.sorted
      }.toMap
    Pipeline.refreshViews(spark, dirs.processed)
    val dataframePath = snapshot()
    sys.props("graft.namedquery.dir") = namedQueryStore().toString
    try Pipeline.refreshCatalog(spark, dirs.processed)
    finally sys.props -= "graft.namedquery.dir"
    val sqlPath = snapshot()
    assert(dataframePath == sqlPath)
    val pct = Pipeline.view(spark, "arrest_pct_by_community_violent")
      .select("community_area", "tot_reports", "tot_arrests").collect()
    assert(pct.forall(!_.isNullAt(0)), "a null community_area never joins")
    assert(pct.find(_.getLong(0) == 7L).map(r => (r.getLong(1), r.getLong(2)))
      .contains((3L, 1L)), "the null-arrest row is a report, not an arrest")
  }

  test("declared processed schema equals what discovery reads from the zone") {
    val dirs = freshDirs()
    Ingest.fetchRecent(srcRows("2021-07-31"), since = "2021-01-01",
      dirs.landing, LocalDate.parse("2021-07-03"))
    Ingest.processNewFiles(spark, dirs.landing, dirs.processed, dirs.checkpoint)
    assert(org.apache.spark.sql.types.StructType.fromDDL(Ingest.processedSchemaDdl) ==
      spark.read.parquet(dirs.processed).schema)
  }

  def parquetFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val walk = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    } finally walk.close()
  }

  test("two CSVs processed in one batch write one file per (year, month)") {
    val dirs = freshDirs()
    // both days carry June and July rows; each CSV is its own input split
    for (d <- Seq("2021-07-03", "2021-07-04"))
      Ingest.fetchRecent(srcRows("2021-07-31"), since = "2021-01-01",
        dirs.landing, LocalDate.parse(d))
    Ingest.processNewFiles(spark, dirs.landing, dirs.processed, dirs.checkpoint)
    assert(spark.read.parquet(dirs.processed).count() == 8)
    val perPartition = parquetFiles(Paths.get(dirs.processed))
      .groupBy(_.getParent).map { case (p, fs) => p.getFileName.toString -> fs.size }
    assert(perPartition.keySet == Set("month=6", "month=7"), perPartition)
    assert(perPartition.values.forall(_ == 1), s"files per partition: $perPartition")
  }

  test("a replayed micro-batch lands its rows exactly once") {
    val dirs = freshDirs()
    def ids(): Seq[Long] =
      spark.read.parquet(dirs.processed).select("id").as[Long].collect().sorted.toSeq
    def process(): Unit =
      Ingest.processNewFiles(spark, dirs.landing, dirs.processed, dirs.checkpoint)
    Ingest.fetchRecent(srcRows("2021-06-30"), since = "2021-01-01",
      dirs.landing, LocalDate.parse("2021-06-16"))
    process() // batch 0
    val day2 = Ingest.fetchRecent(srcRows("2021-07-31"), since = "2021-06-30",
      dirs.landing, LocalDate.parse("2021-07-03")).get
    // a crash after batch 1 was staged, before its files moved into the
    // zone and before its commit-log entry: the stage holds the batch
    val query = graft.Par.ckptIdentity(dirs.checkpoint)
    graft.engine.CrimeViews.enrich(spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(Ingest.crimeSchemaDdl))
        .option("header", "true").csv(day2.toString))
      .write.partitionBy("year", "month").option("compression", "uncompressed")
      .parquet(s"${dirs.processed}/_staging/$query-1")
    assert(ids() == Seq(1L, 2L), "a stage is not part of the zone")
    process() // batch 1 finds its stage and publishes it without a write
    assert(ids() == Seq(1L, 2L, 3L, 4L))
    // a crash after the move, before the commit-log entry: Spark replays
    // batch 1
    Seq("1", ".1.crc").foreach(f =>
      Files.deleteIfExists(Paths.get(dirs.checkpoint, "commits", f)))
    process()
    assert(ids() == Seq(1L, 2L, 3L, 4L), "the replay appended the batch again")
    val staging = Paths.get(dirs.processed, "_staging")
    assert(staging.toFile.list().toSeq == Seq(s"$query-1"), "earlier stages are deleted")
    assert(parquetFiles(staging).isEmpty, "published files left in the stage")
  }

  test("a fresh checkpoint over a reused zone lands its first batch") {
    // the kept stage of the old checkpoint's batch 0 must not pass for
    // the new checkpoint's batch 0; the reset bookmark reprocesses every
    // landed file, so the rows double (reference bookmark-reset semantics)
    val dirs = freshDirs()
    Ingest.fetchRecent(srcRows("2021-07-31"), since = "2021-01-01",
      dirs.landing, LocalDate.parse("2021-07-03"))
    Ingest.processNewFiles(spark, dirs.landing, dirs.processed, dirs.checkpoint)
    Ingest.processNewFiles(spark, dirs.landing, dirs.processed, s"${dirs.checkpoint}-reset")
    assert(spark.read.parquet(dirs.processed).count() == 8)
  }

  test("ingest guard: header-only extract is not written") {
    val dirs = freshDirs()
    val none = Ingest.fetchRecent(srcRows("2021-12-31"), since = "2099-01-01",
      dirs.landing, LocalDate.parse("2022-01-01"))
    assert(none.isEmpty)
    assert(!Files.exists(Paths.get(dirs.landing, "recent_source_data_2022-01-01.csv")))
  }

  // CSV lines in canonical crime column order (id, case_number, date,
  // primary_type, description, arrest, domestic, community_area, year,
  // updated_on, latitude, longitude)
  val crimeHeader: String =
    Ingest.crimeSchemaDdl.split(",").map(_.trim.split(" ")(0)).mkString(",")
  def crimeCsvRows: Seq[SoqlTestServer.Row] = Seq(
    SoqlTestServer.Row("2021-06-16 01:00:00",
      "1,JE1,06/15/2021 09:30:00 PM,ROBBERY,ARMED - HANDGUN,true,false,25,2021,2021-06-16 01:00:00,41.88,-87.63"),
    SoqlTestServer.Row("2021-06-16 01:00:00",
      "2,JE2,06/15/2021 11:00:00 AM,THEFT,OVER $500,false,false,25,2021,2021-06-16 01:00:00,41.88,-87.63"),
    SoqlTestServer.Row("2021-07-02 01:00:00",
      "3,JE3,07/01/2021 08:00:00 AM,ASSAULT,AGGRAVATED - OTHER DANGEROUS WEAPON,true,false,7,2021,2021-07-02 01:00:00,41.88,-87.63"),
    SoqlTestServer.Row("2021-07-03 01:00:00",
      "4,JE4,07/02/2021 10:00:00 PM,BATTERY,SIMPLE ASSAULT OF A PROTECTED EMPLOYEE,false,false,7,2021,2021-07-03 01:00:00,41.88,-87.63"),
  )

  test("HTTP ingest: SoQL $where pushed server-side, guard, end-to-end to views") {
    val dirs = freshDirs()
    SoqlTestServer.withInstrumentedServer(crimeHeader, crimeCsvRows) { (url, log) =>
      // header-only extract (future `since`) must not land a file
      assert(Ingest.fetchRecentHttp(spark, url, since = "2099-01-01",
        dirs.landing, LocalDate.parse("2022-01-01")).isEmpty)
      assert(!Files.exists(Paths.get(dirs.landing)))

      // real fetch: server filters to the two July rows; pipeline runs
      // through bookmark processing and view refresh unchanged
      Pipeline.runHttp(spark, url, dirs,
        since = "2021-06-30", fileDate = LocalDate.parse("2021-07-03"))
      val landed = Files.readString(
        Paths.get(dirs.landing, "recent_source_data_2021-07-03.csv"))
      assert(landed.linesIterator.size == 3, "header + the 2 rows past `since`")
      val processed = spark.read.parquet(dirs.processed)
      assert(processed.select("id").as[Long].collect().toSet == Set(3L, 4L))
      assert(Pipeline.view(spark, "dependency1_violent_crimes")
        .select("id").as[Long].collect().toSet == Set(3L, 4L))

      // the server-side log is the pushdown proof: the scan request
      // carried the minimal $where (no redundant IS NOT NULL), and the
      // server served ONLY the matched rows — unmatched rows never
      // crossed the wire
      val whereReqs = log.requests.filter(_.contains("$where="))
      assert(whereReqs.nonEmpty, s"no $$where reached the server: ${log.requests}")
      assert(whereReqs.exists(_.contains("updated_on > '2021-06-30'")),
        s"predicate not in server log: $whereReqs")
      assert(log.rowsServed.filter(_ >= 0).forall(_ <= 2),
        s"server served unmatched rows: ${log.rowsServed}")
    }
  }

  test("soql DSv2 source: filter + column pruning reach the server; residual re-check") {
    SoqlTestServer.withInstrumentedServer(crimeHeader, crimeCsvRows) { (url, log) =>
      val df = spark.read.format("soql").option("endpoint", url).load()
        .filter(col("updated_on") > "2021-06-30")
        .select("id", "primary_type")
      val rows = df.as[(String, String)].collect().toSet
      assert(rows == Set(("3", "ASSAULT"), ("4", "BATTERY")))
      // explain surface: pushed filter visible, scan is the soql table
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") || plan.contains("soql"),
        s"scan not recognizable in plan:\n$plan")
      val scanReq = log.requests.filter(_.contains("$where=")).head
      assert(scanReq.contains("updated_on > '2021-06-30'"))
      assert(!scanReq.contains("IS NOT NULL"),
        s"redundant null-check crossed the wire: $scanReq")
      // $select pruning: only the needed columns requested (updated_on
      // rides along for the residual re-check of the pushed filter)
      assert(scanReq.contains("$select="))
      assert(!scanReq.contains("latitude") && !scanReq.contains("description"),
        s"unpruned $$select: $scanReq")
    }
  }

  test("soql DSv2 source: declared schema with typed columns") {
    SoqlTestServer.withInstrumentedServer(crimeHeader, crimeCsvRows) { (url, _) =>
      val df = spark.read.format("soql")
        .schema("id long, primary_type string, arrest boolean, latitude double")
        .option("endpoint", url).load()
      val got = df.filter(col("arrest")).select("id", "latitude")
        .as[(Long, Double)].collect().toSet
      assert(got == Set((1L, 41.88), (3L, 41.88)))
    }
  }

  test("transient 503 skips the day (reference laxity); strict mode throws") {
    val dirs = freshDirs()
    SoqlTestServer.withInstrumentedServer(crimeHeader, crimeCsvRows) { (url, log) =>
      log.failNext(100) // every request this scheduled "day" 503s
      assert(Ingest.fetchRecentHttp(spark, url, since = "2021-06-30",
        dirs.landing, LocalDate.parse("2021-07-03")).isEmpty,
        "non-200 must skip, not abort (get_data_api.py:14 lands only if req.ok)")
      assert(!Files.exists(Paths.get(dirs.landing)), "nothing lands on a failed day")

      log.failNext(1)
      intercept[Exception] {
        Ingest.fetchRecentHttp(spark, url, since = "2021-06-30",
          dirs.landing, LocalDate.parse("2021-07-03"), strict = true)
      }

      // next scheduled day: server recovered, fetch lands normally
      log.failNext(0)
      assert(Ingest.fetchRecentHttp(spark, url, since = "2021-06-30",
        dirs.landing, LocalDate.parse("2021-07-04")).isDefined)
    }
  }

  test("200 with an empty body skips the day (laxity), strict throws") {
    val dirs = freshDirs()
    // a server whose dataset is entirely empty: 200, zero bytes, no header
    SoqlTestServer.withInstrumentedServer("", Nil) { (url, _) =>
      assert(Ingest.fetchRecentHttp(spark, url, since = "2021-06-30",
        dirs.landing, LocalDate.parse("2021-07-03")).isEmpty,
        "empty 200 must skip the day like the header-only guard, not abort")
      assert(!Files.exists(Paths.get(dirs.landing)))
      intercept[Exception] {
        Ingest.fetchRecentHttp(spark, url, since = "2021-06-30",
          dirs.landing, LocalDate.parse("2021-07-03"), strict = true)
      }
    }
  }

  test("soql source: endpoint already carrying a query string joins with '&'") {
    SoqlTestServer.withInstrumentedServer(crimeHeader, crimeCsvRows) { (url, log) =>
      val df = spark.read.format("soql")
        .option("endpoint", s"$url?app_token=tok123").load()
        .filter(col("updated_on") > "2021-06-30").select("id")
      assert(df.as[String].collect().toSet == Set("3", "4"))
      // every request (infer + scan) kept the token AND parsed cleanly —
      // a '?'-joined URL would have produced `...?app_token=tok123?$limit=1`
      assert(log.requests.nonEmpty)
      assert(log.requests.forall(_.contains("app_token=tok123")), log.requests)
      assert(log.requests.forall(!_.contains("?")), s"double-'?' url: ${log.requests}")
    }
  }

  test("soql source: pageSize plans offset-window partitions; union == unpaged") {
    // 7 rows, pageSize 3 -> count probe + pages [0,3) [3,6) [6,7)
    val rows = (1 to 7).map(i => SoqlTestServer.Row(s"2021-07-0$i 01:00:00",
      s"$i,JE$i,07/0$i/2021 09:00:00 PM,THEFT,OVER $$500,false,false,25,2021,2021-07-0$i 01:00:00,41.88,-87.63"))
    SoqlTestServer.withInstrumentedServer(crimeHeader, rows) { (url, log) =>
      val unpaged = spark.read.format("soql").option("endpoint", url).load()
        .select("id").as[String].collect().toSeq
      val paged = spark.read.format("soql").option("endpoint", url)
        .option("pageSize", "3").load().select("id")
      assert(paged.rdd.getNumPartitions == 3, "ceil(7/3) = 3 input partitions")
      assert(paged.as[String].collect().sorted.toSeq == unpaged.sorted)
      val pageReqs = log.requests.filter(_.contains("$offset="))
      assert(pageReqs.size == 3, s"expected 3 paged requests: ${log.requests}")
      for (off <- Seq(0, 3, 6))
        assert(pageReqs.exists(r => r.contains(s"$$offset=$off") &&
          r.contains("$limit=3") && r.contains("$order=:id")), pageReqs)
      assert(log.requests.exists(_.contains("count(*)")), "no count probe sent")
      // offset windows: no paged request was served more than one page
      val servedByReq = log.requests.zip(log.rowsServed)
      assert(servedByReq.collect { case (r, n) if r.contains("$offset=") => n }
        .forall(_ <= 3), servedByReq)
    }
  }

  test("soql pushdown renders timestamp/date literals as ISO-8601") {
    import org.apache.spark.sql.sources.GreaterThan
    assert(graft.sources.SoqlSource.toSoqlPredicate(GreaterThan("updated_on",
      java.sql.Timestamp.valueOf("2021-06-30 01:02:03")))
      .contains("updated_on > '2021-06-30T01:02:03.000'"))
    assert(graft.sources.SoqlSource.toSoqlPredicate(GreaterThan("updated_on",
      java.sql.Date.valueOf("2021-06-30")))
      .contains("updated_on > '2021-06-30'"))
    assert(graft.sources.SoqlSource.toSoqlPredicate(GreaterThan("updated_on",
      java.time.Instant.parse("2021-06-30T01:02:03Z")))
      .contains("updated_on > '2021-06-30T01:02:03.000'"))
  }

  test("crawler-style inference reconciles two drifted daily CSVs") {
    val dir = Files.createTempDirectory("graft-infer")
    // day 1: integral community_area, no `beat` column
    Files.writeString(dir.resolve("day1.csv"),
      "id,primary_type,community_area\n1,THEFT,25\n2,ROBBERY,7\n")
    // day 2 drifts: community_area became fractional, a new `beat` column
    // appeared, and `id` stays integral
    Files.writeString(dir.resolve("day2.csv"),
      "id,primary_type,community_area,beat\n3,ASSAULT,7.5,1121\n4,BATTERY,25.0,2233\n")
    val df = Ingest.readLandingInferred(spark, dir.toString)
    val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("community_area") == "double", "int + double widens to double")
    assert(types("beat") == "int", "new column adopted from day 2")
    assert(df.count() == 4)
    assert(df.filter(col("beat").isNull).count() == 2, "day-1 rows null-fill the new column")
    assert(df.filter(col("id") === 1).select("community_area")
      .as[Double].head() == 25.0)
  }

  test("deprecation policy: column gone from the newest days is flagged, never dropped") {
    val dir = Files.createTempDirectory("graft-deprecate")
    // `beat` lives through day2 then vanishes; `ward` appears only in the
    // newest file; core columns persist throughout
    Files.writeString(dir.resolve("day1.csv"),
      "id,primary_type,beat\n1,THEFT,1121\n")
    Files.writeString(dir.resolve("day2.csv"),
      "id,primary_type,beat\n2,ROBBERY,2233\n")
    Files.writeString(dir.resolve("day3.csv"),
      "id,primary_type,ward\n3,ASSAULT,42\n")
    val audit = Ingest.landingSchemaAudit(spark, dir.toString)
      .collect().map(r => r.getString(0) ->
        (r.getString(2), r.getString(3), r.getBoolean(4))).toMap
    assert(audit("beat") == (("day1.csv", "day2.csv", true)),
      "beat must deprecate: absent from the newest crawl")
    assert(audit("ward") == (("day3.csv", "day3.csv", false)),
      "a newly appeared column is live, not deprecated")
    assert(audit("id")._3 == false && audit("primary_type")._3 == false)

    // DEPRECATE, not DELETE: the merged schema still carries `beat`
    // (nullable; day-3 rows null-fill it) with the flag in field metadata
    val schemas = Seq("day1.csv", "day2.csv", "day3.csv").map(f =>
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(dir.resolve(f).toString).schema)
    val merged = Ingest.mergeSchemasWithPolicy(schemas)
    val beat = merged.fields.find(_.name == "beat").get
    assert(beat.metadata.getBoolean("deprecated"))
    assert(beat.metadata.getLong("last_seen_file") == 1L)
    assert(!merged.fields.find(_.name == "ward").get.metadata.contains("deprecated"))
    val df = Ingest.readLandingInferred(spark, dir.toString)
    assert(df.filter(col("beat").isNull).count() == 1, "day-3 row null-fills beat")

    // policy window: with lastK=2 the newest TWO files count as current,
    // so beat (last seen in file index 1 of 3) is still live
    assert(!Ingest.columnAudits(schemas, lastK = 2)
      .find(_._1 == "beat").get._5)
  }

  test("late re-fetch duplicates append (no dedup), matching reference") {
    val dirs = freshDirs()
    Pipeline.run(spark, srcRows("2021-07-31"), dirs,
      since = "2021-01-01", fileDate = LocalDate.parse("2021-07-03"))
    // same rows land again under a new date -> duplicates by design
    Pipeline.run(spark, srcRows("2021-07-31"), dirs,
      since = "2021-01-01", fileDate = LocalDate.parse("2021-07-04"))
    val processed = spark.read.parquet(dirs.processed)
    assert(processed.count() == 8)
    assert(processed.groupBy("id").count().filter(col("count") === 2).count() == 4)
  }

  test("dynamic partition overwrite: reprocessing one partition leaves others intact") {
    // the idempotent-reprocess pattern for the partitioned corpus sink —
    // rerunning one language shard must not clobber other shards (static
    // overwrite would) and must not duplicate the rerun shard (append would)
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft-dpo").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = graft.operators.Corpus.corpusFilter(docs)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      corpus.write.mode("overwrite").partitionBy("lang").parquet(out)
      val before = spark.read.parquet(out).groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // "reprocess" only the de shard (same content -> same counts expected)
      corpus.filter(col("lang") === "de")
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      val after = spark.read.parquet(out).groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(after == before, s"before=$before after=$after")
      assert(before.contains("en") && before.contains("de"))
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
  }
}
