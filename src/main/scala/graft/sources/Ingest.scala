package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.time.LocalDate

/** Incremental ingest — the reference's Lambda + job-bookmark semantics
  * re-expressed locally (SURVEY.md §2.1 S2/S3/S5, §3 E1/E2):
  *
  *  - [[fetchRecent]] ≈ Additional_Data_Function/get_data_api.py:10-24 —
  *    pull rows updated since `since` (server-side predicate pushdown in
  *    the reference's SoQL `$where`; here a filter over a source table),
  *    land them verbatim as `input/recent_source_data_<date>.csv`, and
  *    skip the write when only a header would land (the `len(text) > 250`
  *    guard at get_data_api.py:16). Re-fetches DUPLICATE rows updated late
  *    — the reference never dedups (SURVEY.md §4 hazard 7) and parity
  *    requires preserving that.
  *
  *  - [[processNewFiles]] ≈ the Glue job with `--job-bookmark-option:
  *    job-bookmark-enable` (CDK/cdk/cdk_stack.py:165): a Structured
  *    Streaming CSV file source with checkpoint + Trigger.AvailableNow is
  *    the Spark-native bookmark. Output is the processed zone: parquet
  *    partitioned by (year, month) like Glue Script/process_crime_data.py:32-37.
  *    Each micro-batch is staged under `_staging/` and its files then
  *    moved into the zone, so a batch that Spark replays after a crash
  *    lands its rows exactly once ([[processNewFiles]]).
  */
object Ingest {

  /** Land a CSV text body under a dated key, or None when the extract was
    * effectively empty — the reference's header-only guard
    * (`len(text) > 250`, get_data_api.py:16). Never overwrites an
    * already-landed file: the streaming bookmark keys seen files by PATH,
    * so rewriting a processed path would silently drop the new rows
    * forever. A same-day re-fetch lands under a unique suffixed name
    * instead (the duplicates this can introduce are reference semantics —
    * SURVEY.md §4 hazard 7). */
  private def landCsv(body: String, landingDir: String,
      fileDate: LocalDate): Option[Path] = {
    if (body.length <= 250) return None
    Files.createDirectories(Paths.get(landingDir))
    val base = s"recent_source_data_$fileDate"
    val out = Iterator.from(0)
      .map(i => Paths.get(landingDir, if (i == 0) s"$base.csv" else s"$base-$i.csv"))
      .find(!Files.exists(_)).get
    Files.writeString(out, body, StandardOpenOption.CREATE_NEW)
    Some(out)
  }

  /** Driver-side fetch is only safe for the reference's daily-delta
    * volumes (10²–10³ rows/day, BASELINE.md); a misconfigured `since`
    * must fail fast instead of collecting the full history into the
    * driver. */
  val MaxFetchRows = 500000

  private def csvLine(values: Seq[Any]): String = values.map {
    case null => ""
    case s: String if s.exists(ch => ch == ',' || ch == '"' || ch == '\n' || ch == '\r') =>
      "\"" + s.replace("\"", "\"\"") + "\""
    case v => v.toString
  }.mkString(",")

  /** Collect a bounded daily delta to the driver and land it as header +
    * CSV rows, or None when empty (header-only guard shared with the
    * HTTP path). */
  private def collectAndLand(fresh: DataFrame, header: String, since: String,
      landingDir: String, fileDate: LocalDate): Option[Path] = {
    val collected = fresh.limit(MaxFetchRows + 1).collect()
    require(collected.length <= MaxFetchRows,
      s"fetchRecent(since=$since) matched > $MaxFetchRows rows — refusing a " +
        "driver-side collect of what is clearly not a daily delta")
    val rows = collected.map(r => csvLine(r.toSeq))
    landCsv((header +: rows.toSeq).mkString("\n"), landingDir, fileDate)
  }

  /** Fetch source rows with `updated_on > since` and land them as a dated
    * CSV in `landingDir`. Returns the written path, or None when the
    * extract was effectively empty (header-only guard). */
  def fetchRecent(source: DataFrame, since: String, landingDir: String,
      fileDate: LocalDate = LocalDate.now()): Option[Path] = {
    import org.apache.spark.sql.functions.col
    collectAndLand(source.filter(col("updated_on") > since),
      source.columns.mkString(","), since, landingDir, fileDate)
  }

  /** Real-HTTP variant of [[fetchRecent]] (reference contract:
    * get_data_api.py:10-24), built on the `soql` DataSource-V2 connector
    * ([[SoqlDataSource]]): the `updated_on > since` filter enters the
    * plan as an ordinary Catalyst predicate and reaches the server as the
    * SoQL `$where` via `SupportsPushDownFilters` — the server owns
    * filtering and unmatched rows never cross the wire, with Spark's
    * client-side residual re-check guarding against a server that
    * ignores the predicate.
    *
    * ERROR LAXITY matches the reference Lambda: get_data_api.py:14 writes
    * only `if req.ok` — a non-OK response means the day is silently
    * skipped, never an aborted schedule. Here a non-200 anywhere in the
    * fetch logs a warning and returns None, and so does a 200 with an
    * EMPTY body (no header to infer from — the reference's header-only
    * guard at get_data_api.py:16 equally lands nothing for it); pass
    * `strict = true` to get a throwing fetch for interactive/backfill use
    * where silence would hide a misconfigured endpoint. Connection-level
    * failures (refused, DNS, timeout) throw in BOTH modes — the reference
    * only guards the status code, and its Lambda equally crashes on a
    * transport error. */
  def fetchRecentHttp(spark: SparkSession, endpoint: String, since: String,
      landingDir: String, fileDate: LocalDate = LocalDate.now(),
      strict: Boolean = false,
      timeout: java.time.Duration = java.time.Duration.ofSeconds(180)): Option[Path] = {
    def isHttpStatus(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
        .exists(t => t.isInstanceOf[SoqlHttpException] ||
          t.isInstanceOf[SoqlEmptyResponseException])
    try {
      import org.apache.spark.sql.functions.col
      val page = spark.read.format("soql")
        .option("endpoint", endpoint)
        .option("timeoutMs", timeout.toMillis.toString)
        .load()
        .filter(col("updated_on") > since)
      collectAndLand(page, page.columns.mkString(","), since, landingDir, fileDate)
    } catch {
      case e: Throwable if !strict && isHttpStatus(e) =>
        System.err.println(s"[ingest] skipping $fileDate: ${e.getMessage} " +
          s"(reference laxity — get_data_api.py:14 lands nothing unless req.ok)")
        None
    }
  }

  /** Crime CSV schema (the columns the reference reads, FIXTURES.md §B).
    * Declared rather than inferred so the streaming source is stable when
    * daily files drift (the crawler's CombineCompatibleSchemas analog is
    * spark's permissive column-by-name union at read). */
  val crimeSchemaDdl: String =
    "id bigint, case_number string, date string, primary_type string, " +
      "description string, arrest boolean, domestic boolean, " +
      "community_area bigint, year bigint, updated_on string, " +
      "latitude double, longitude double"

  /** The processed zone's schema as `spark.read.parquet` discovers it:
    * the CSV columns without `year`, the [[graft.engine.CrimeViews.enrich]]
    * columns without `month`, then the two partition columns typed as
    * partition discovery types them. Readers declare it, so a refresh
    * runs no footer-inference job. */
  val processedSchemaDdl: String =
    "id bigint, case_number string, date string, primary_type string, " +
      "description string, arrest boolean, domestic boolean, " +
      "community_area bigint, updated_on string, latitude double, " +
      "longitude double, new_date date, day int, year int, month int"

  /** The processed zone as a DataFrame, read with [[processedSchemaDdl]]. */
  def readProcessed(spark: SparkSession, processedDir: String): DataFrame =
    spark.read.schema(StructType.fromDDL(processedSchemaDdl)).parquet(processedDir)

  /** Process all not-yet-seen CSVs in `landingDir` into the partitioned
    * processed zone, exactly once per file (checkpoint = bookmark). Blocks
    * until the AvailableNow run drains.
    *
    * A batch read from more than one input split (a backfill, or several
    * landed days) is clustered on (year, month) first, so it writes one
    * file per touched partition instead of one per split and partition.
    * A one-split batch (a daily delta) already writes one file per
    * touched partition and is written as it is.
    *
    * Spark replays a micro-batch whose commit-log entry is missing, so a
    * crash between the write and that entry would append the batch twice.
    * The write therefore goes through a stage: batch N of the query with
    * checkpoint identity Q ([[graft.Par.ckptIdentity]]) is written to
    * `processedDir/_staging/Q-N` (the
    * leading `_` hides it from `spark.read.parquet` and `MSCK REPAIR`),
    * and its data files are then moved into their partition dirs with
    * `FileSystem.rename`. A replayed
    * batch whose stage holds `_SUCCESS` skips the write and moves only
    * the files not yet moved; a stage without `_SUCCESS` is a crashed
    * write and is written again. After the move the stage keeps only its
    * `_SUCCESS` marker, and every other batch's stage is deleted. */
  def processNewFiles(spark: SparkSession, landingDir: String,
      processedDir: String, checkpointDir: String): Unit = {
    val raw = spark.readStream
      .schema(StructType.fromDDL(crimeSchemaDdl))
      .option("header", "true")
      .csv(landingDir)
    val enriched = graft.engine.CrimeViews.enrich(raw)
    val q = enriched.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishBatch(batch, s"${graft.Par.ckptIdentity(checkpointDir)}-$batchId",
          processedDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def publishBatch(batch: DataFrame, stageName: String,
      processedDir: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.spark.sql.functions.col
    val zone = new HPath(processedDir)
    val fs = zone.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    val staging = new HPath(zone, "_staging")
    // keyed by the checkpoint identity too: a zone reused with a fresh
    // checkpoint restarts at batch 0 and must not find the old
    // checkpoint's stage of the same number
    val stage = new HPath(staging, stageName)
    val success = new HPath(stage, "_SUCCESS")
    if (!fs.exists(success)) {
      fs.delete(stage, true)
      // as many clustered tasks as input splits: streaming runs without
      // AQE, so the session's shuffle partition count would not coalesce
      val splits = batch.rdd.getNumPartitions
      val clustered =
        if (splits > 1) batch.repartition(splits, col("year"), col("month"))
        else batch
      clustered.write
        .partitionBy("year", "month")
        .option("compression", "uncompressed") // process_crime_data.py:37
        .parquet(stage.toString)
    }
    def publish(from: HPath, to: HPath): Unit =
      fs.listStatus(from).foreach { st =>
        val name = st.getPath.getName
        val dest = new HPath(to, name)
        if (st.isDirectory) {
          fs.mkdirs(dest)
          publish(st.getPath, dest)
          fs.delete(st.getPath, true)
        } else if (!name.startsWith("_") && !name.startsWith(".") &&
            !fs.exists(dest) && !fs.rename(st.getPath, dest))
          throw new java.io.IOException(s"could not move ${st.getPath} to $dest")
      }
    publish(stage, zone)
    fs.listStatus(staging).map(_.getPath)
      .filter(_.getName != stage.getName)
      .foreach(fs.delete(_, true))
  }

  // ---- crawler-style schema inference (SURVEY.md §2.1 S1) ----------------

  private val integralLadder: Seq[DataType] =
    Seq(ByteType, ShortType, IntegerType, LongType)
  private def isNumeric(t: DataType): Boolean =
    integralLadder.contains(t) || t == FloatType || t == DoubleType

  /** Widen two inferred scalar types the way the crawler's
    * `CombineCompatibleSchemas` grouping policy (CDK/cdk/cdk_stack.py:110)
    * reconciles drifting daily files: equal passes through, integrals
    * widen up the ladder, any numeric mix widens to double, date widens
    * into timestamp, anything else degrades to string (the crawler's
    * "choice"-type resolution). */
  private[sources] def widen(a: DataType, b: DataType): DataType =
    if (a == b) a
    else if (integralLadder.contains(a) && integralLadder.contains(b))
      integralLadder(math.max(integralLadder.indexOf(a), integralLadder.indexOf(b)))
    else if (isNumeric(a) && isNumeric(b)) DoubleType
    else if (Set[DataType](DateType, TimestampType) == Set(a, b)) TimestampType
    else StringType

  /** Merge two per-file schemas: shared columns widen, new columns append
    * in first-seen order (everything nullable — a column absent from one
    * day's file is null for that day's rows). */
  def mergeSchemas(a: StructType, b: StructType): StructType = {
    val bByName = b.fields.map(f => f.name -> f).toMap
    val merged = a.fields.map { f =>
      bByName.get(f.name) match {
        case Some(g) => StructField(f.name, widen(f.dataType, g.dataType), nullable = true)
        case None    => f.copy(nullable = true)
      }
    }
    val aNames = a.fieldNames.toSet
    StructType(merged ++ b.fields.filterNot(f => aNames(f.name)).map(_.copy(nullable = true)))
  }

  /** The crawler's DELETE policy surface (`DEPRECATE_IN_DATABASE`,
    * CDK/cdk/cdk_stack.py:106-108): a column that vanishes from the
    * newest daily files is never DROPPED from the catalog schema — old
    * rows still carry it, and [[mergeSchemas]] keeps it nullable forever —
    * but it IS marked deprecated so consumers can migrate off it. Pure
    * schema policy over per-file schemas in landing (day) order: a column
    * is deprecated when some file has it but NONE of the newest `lastK`
    * files do. Returns one row per ever-seen column, first-seen order:
    * (column, merged data_type, first_seen index, last_seen index,
    * deprecated) — the audit relation a catalog keeps as column
    * parameters. */
  def columnAudits(schemas: Seq[StructType],
      lastK: Int = 1): Seq[(String, String, Int, Int, Boolean)] = {
    require(schemas.nonEmpty, "no schemas to audit")
    require(lastK >= 1, s"lastK must be >= 1, got $lastK")
    val seen = scala.collection.mutable.LinkedHashMap[String, (DataType, Int, Int)]()
    schemas.zipWithIndex.foreach { case (s, i) =>
      s.fields.foreach { f =>
        seen.get(f.name) match {
          case Some((t, first, _)) => seen(f.name) = (widen(t, f.dataType), first, i)
          case None                => seen(f.name) = (f.dataType, i, i)
        }
      }
    }
    val cutoff = schemas.length - lastK
    seen.toSeq.map { case (n, (t, first, last)) =>
      (n, t.simpleString, first, last, last < cutoff)
    }
  }

  /** [[mergeSchemas]] over all days plus the deprecation flags folded into
    * field METADATA (`deprecated`, `last_seen_file`) — the merged schema a
    * crawler with `DEPRECATE_IN_DATABASE` would publish: width never
    * shrinks, retirement is visible. */
  def mergeSchemasWithPolicy(schemas: Seq[StructType],
      lastK: Int = 1): StructType = {
    val flags = columnAudits(schemas, lastK)
      .map { case (n, _, _, last, dep) => n -> (last, dep) }.toMap
    StructType(schemas.reduce(mergeSchemas).fields.map { f =>
      val (last, dep) = flags(f.name)
      if (!dep) f
      else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putBoolean("deprecated", true).putLong("last_seen_file", last).build())
    })
  }

  /** [[columnAudits]] over the landing zone's inferred per-file schemas
    * (one crawl per daily CSV, file-name order = day order), with file
    * names in place of indices — the queryable deprecation audit. */
  def landingSchemaAudit(spark: SparkSession, landingDir: String,
      lastK: Int = 1): DataFrame = {
    import spark.implicits._
    val files = landedCsvs(landingDir)
    val schemas = files.map(f =>
      spark.read.option("header", "true").option("inferSchema", "true").csv(f).schema)
    def base(i: Int) = Paths.get(files(i)).getFileName.toString
    columnAudits(schemas, lastK)
      .map { case (n, t, first, last, dep) => (n, t, base(first), base(last), dep) }
      .toDF("column", "data_type", "first_seen", "last_seen", "deprecated")
  }

  private def landedCsvs(landingDir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val listing = Files.list(Paths.get(landingDir))
    val files =
      try listing.iterator().asScala
        .map(_.toString).filter(_.endsWith(".csv")).toSeq.sorted
      finally listing.close() // Files.list holds an open directory handle
    require(files.nonEmpty, s"no CSVs landed under $landingDir")
    files
  }

  /** Read every landed CSV with per-file schema inference — each daily
    * file is crawled independently, exactly like a scheduled Glue crawler
    * run over `input/` (CDK/cdk/cdk_stack.py:96-111) — then reconcile the
    * drifted schemas with [[mergeSchemas]] and union the days by name.
    * The declared-schema streaming path ([[processNewFiles]]) stays the
    * steady-state reader; this is the day-0 / drift-audit path that
    * discovers what the landing zone actually contains.
    *
    * Scale note: inference samples each file in a separate pass before the
    * real read — at 100 TB cap it with `samplingRatio` or run inference on
    * `limit(n)` heads; the reconcile+union itself is narrow (no shuffle). */
  def readLandingInferred(spark: SparkSession, landingDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val perFile = landedCsvs(landingDir).map(f =>
      spark.read.option("header", "true").option("inferSchema", "true").csv(f))
    val target = perFile.map(_.schema).reduce(mergeSchemas)
    perFile.map { df =>
      val have = df.columns.toSet
      df.select(target.fields.toSeq.map { fld =>
        if (have(fld.name)) col(fld.name).cast(fld.dataType).as(fld.name)
        else lit(null).cast(fld.dataType).as(fld.name)
      }: _*)
    }.reduce(_.unionByName(_))
  }

  // ---- SparkEntry wiring -------------------------------------------------

  /** The q77 drift fixture: which orders columns each daily extract
    * carries. Single source of truth for the engine's landed files AND
    * the oracle's replay — o_orderpriority vanishes after day 0 and
    * o_totalprice after day 2 (both → DEPRECATE at lastK = 2),
    * o_orderstatus arrives on day 2 and stays live. */
  val DriftDays: Seq[Seq[String]] = Seq(
    Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"),
    Seq("o_orderkey", "o_custkey", "o_totalprice"),
    Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
    Seq("o_orderkey", "o_custkey", "o_orderstatus"),
    Seq("o_orderkey", "o_custkey", "o_orderstatus"),
    Seq("o_orderkey", "o_custkey", "o_orderstatus"))

  val DriftLastK = 2

  /** q77: the schema-drift audit relation as a first-class query — the
    * DEPRECATE_IN_DATABASE policy surface ([[columnAudits]], SURVEY §2.11
    * D2 / CDK/cdk/cdk_stack.py:106-108) hash-gated like every operator
    * instead of suite-only. Six daily extracts of orders (day =
    * o_orderkey mod 6) drift per [[DriftDays]]; each lands as a real CSV
    * (a bounded 100-row sample — crawlers INFER from samples, they don't
    * read the lake) and is crawled independently ([[landingSchemaAudit]]'s
    * per-file inference). The audit's schema facts (merged type,
    * first/last file, deprecation at lastK = 2) come from INFERENCE over
    * the landed bytes; the per-column row coverage (`n_rows` — rows whose
    * files carry the column) is computed DISTRIBUTED over the full table
    * (the scan never collects), so the oracle cross-checks inference
    * against an independent recount. */
  def qSchemaDriftAudit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val orders = graft.engine.Tables.orders(s, d)
    val nDays = DriftDays.length
    val root = Files.createTempDirectory("graft-drift-audit")
    try {
      DriftDays.zipWithIndex.foreach { case (cols, i) =>
        val sample = orders
          .filter(pmod(col("o_orderkey"), lit(nDays)) === i)
          .select(cols.map(col): _*)
          .orderBy("o_orderkey").limit(100).collect()
        val body = (cols.mkString(",") +:
          sample.toSeq.map(r => csvLine(r.toSeq))).mkString("\n")
        Files.writeString(root.resolve(f"day$i.csv"), body,
          StandardOpenOption.CREATE_NEW)
      }
      // eager: inference + columnAudits run driver-side at call time,
      // so the landed files may be deleted once this returns
      val audit = landingSchemaAudit(s, root.toString, lastK = DriftLastK)
      val presence = DriftDays.zipWithIndex
        .flatMap { case (cols, i) => cols.map(c => (c, i)) }
        .toDF("column", "day")
      val dayCounts = orders
        .groupBy(pmod(col("o_orderkey"), lit(nDays)).cast("int").as("day"))
        .agg(count(lit(1)).as("n"))
      val coverage = dayCounts.join(broadcast(presence), Seq("day"))
        .groupBy("column").agg(sum(col("n")).as("n_rows"))
      audit.join(coverage, Seq("column"))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(root.toFile)
  }

  /** The oracle replays the drift map as VALUES, recomputes per-day
    * counts from orders, and derives first/last/deprecated from the map —
    * agreement pins that per-file inference saw exactly the declared
    * columns with the declared merged types in the declared day order. */
  val qSchemaDriftAuditSql: String = {
    val mapRows = DriftDays.zipWithIndex
      .flatMap { case (cols, i) => cols.map(c => s"('$c', $i)") }
      .mkString(", ")
    val typeRows = Seq(
      "o_orderkey" -> "int", "o_custkey" -> "int",
      "o_totalprice" -> "double", "o_orderpriority" -> "string",
      "o_orderstatus" -> "string")
      .map { case (c, t) => s"('$c', '$t')" }.mkString(", ")
    val nDays = DriftDays.length
    s"""WITH dm(col_name, day) AS (VALUES $mapRows),
       |ty(col_name, data_type) AS (VALUES $typeRows),
       |dc AS (SELECT CAST(o_orderkey % $nDays AS INT) AS day, COUNT(*) AS n
       |       FROM orders GROUP BY 1)
       |SELECT dm.col_name AS "column", ty.data_type,
       |       'day' || CAST(MIN(dm.day) AS VARCHAR) || '.csv' AS first_seen,
       |       'day' || CAST(MAX(dm.day) AS VARCHAR) || '.csv' AS last_seen,
       |       MAX(dm.day) < ${nDays - DriftLastK} AS deprecated,
       |       SUM(dc.n)::BIGINT AS n_rows
       |FROM dm JOIN ty USING (col_name) JOIN dc USING (day)
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }
}
