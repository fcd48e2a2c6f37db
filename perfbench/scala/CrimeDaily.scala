package perfbench

import graft.engine.Pipeline
import graft.sources.Ingest
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.Locale
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** The reference pipeline: a Chicago-shaped crime history built through
  * the ingest calls, then one op per scheduled day — fetch the day's
  * delta, process new files, refresh the catalog, read all four views.
  * Expected view contents are kept from the generated rows alone (plain
  * collections, no Spark, no `CrimeViews`). */
final class CrimeDaily(spark: SparkSession, a: Args) extends Workload {
  import CrimeDaily._

  val historyRows = 100000
  /** History of the untraced run's cold first set-up, which only primes
    * the JIT (`setup_s` leaves it out). */
  val primeRows = 10000
  val deltaRows = 200
  val warmupOps = 1
  val countedOps = 5

  private var gen: CrimeGen = _
  private var dirs: Pipeline.Dirs = _
  private var expected: Expected = _
  private var day = 0
  private var landedBytes = 0L

  def setUp(round: Int): Unit = {
    Option(dirs).foreach(d => Jvm.rmTree(new java.io.File(d.landing).getParent))
    val root = s"${a.work}/crime/round$round"
    dirs = Pipeline.Dirs(s"$root/landing", s"$root/processed", s"$root/ckpt")
    gen = new CrimeGen(a.seed)
    expected = new Expected(a.corruptExpected)
    day = 0
    landedBytes = 0L
    // the source table's whole history, all updated before day 0
    val t = new PhaseClock
    val hist = t("generate") {
      val h = gen.history(if (round == 0 && !a.trace) primeRows else historyRows)
      h.foreach(expected.add)
      h
    }
    landedBytes += t("fetchRecent")(land(toDf(hist), "", Start.minusDays(1)))
    t("processNewFiles")(
      Ingest.processNewFiles(spark, dirs.landing, dirs.processed, dirs.checkpoint))
    t("refreshCatalog")(Pipeline.refreshCatalog(spark, dirs.processed))
    setUpPhases += t.phases
  }

  private val setUpPhases = mutable.ArrayBuffer[Map[String, Double]]()

  private def toDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), CrimeSchema)

  private def land(src: DataFrame, since: String, d: LocalDate): Long =
    Ingest.fetchRecent(src, since, dirs.landing, d)
      .fold(0L)(p => java.nio.file.Files.size(p))

  private var delta: Seq[Row] = Nil

  /** The source holds rows updated on day d; the fetch asks for rows
    * updated since the previous day ended. */
  override def prepare(i: Int): Unit = {
    delta = gen.delta(day, deltaRows)
    delta.foreach(expected.add)
  }

  def op(i: Int, t: Tracer): OpOutcome = {
    val d = day
    day += 1
    val since = UpdFmt.format(Start.plusDays(d).atStartOfDay().minusSeconds(1))
    landedBytes += t.span("sources.fetchRecent")(
      land(toDf(delta), since, Start.plusDays(d)))
    t.span("sources.processNewFiles")(
      Ingest.processNewFiles(spark, dirs.landing, dirs.processed, dirs.checkpoint))
    t.span("engine.refreshCatalog")(Pipeline.refreshCatalog(spark, dirs.processed))
    val got = Pipeline.ViewNames.map { v =>
      val t0 = System.nanoTime()
      val rows = t.span(s"engine.view.$v")(Pipeline.view(spark, v).collect())
      viewSeconds += (System.nanoTime() - t0) / 1e9
      viewRows(i) = viewRows.getOrElse(i, 0L) + rows.length
      v -> rows
    }.toMap
    OpOutcome(delta.size, s"day$d", () => expected.check(got))
  }

  private val viewSeconds = mutable.ArrayBuffer[Double]()
  private val viewRows = mutable.Map[Int, Long]()

  // stored bytes are counted over a fixed op range (the first ops of the
  // timed window, as many as a traced run always completes), so the ratio
  // repeats exactly for one seed
  private var storedTo = 0
  private var storedAt: (Long, Long) = (0L, 0L)
  private var stored = Double.NaN
  private var filesAt = 0L
  private var filesWritten = 0L

  override def timedWindowStarts(first: Int): Unit = {
    viewSeconds.clear()
    storedTo = first + 2 * countedOps - 1
    storedAt = (Jvm.dirBytes(dirs.processed), landedBytes)
    filesAt = parquetFiles(dirs.processed)
  }

  override def afterOp(i: Int): Unit =
    if (i == storedTo) {
      stored = (Jvm.dirBytes(dirs.processed) - storedAt._1).toDouble /
        math.max(1L, landedBytes - storedAt._2)
      filesWritten = parquetFiles(dirs.processed) - filesAt
    }

  override def timedWindowEnds(): Unit =
    if (stored.isNaN) afterOp(storedTo)

  def layerMetrics(t: Tracer, counted: Seq[Span]): Map[String, Double] = {
    val inOps = counted.map(_.op).toSet
    def p50(name: String) =
      Stats.median(t.named(name).filter(s => inOps(s.op)).map(_.seconds))
    val views = Pipeline.ViewNames.map(v => s"engine.view.$v")
    val viewBytes = views.flatMap(t.named).filter(s => inOps(s.op))
      .flatMap(t.jobsOf).map(_.inputBytes).sum
    val vs = viewSeconds.toSeq
    Map(
      "sources.fetchRecent_s.p50" -> p50("sources.fetchRecent"),
      "sources.processNewFiles_s.p50" -> p50("sources.processNewFiles"),
      "engine.refreshCatalog_s.p50" -> p50("engine.refreshCatalog"),
      "sources.files_written_per_op" -> filesWritten.toDouble / (2 * countedOps),
      "sources.processed_files" -> parquetFiles(dirs.processed).toDouble,
      "engine.input_bytes_per_view_row" ->
        viewBytes.toDouble / math.max(1L, inOps.toSeq.map(viewRows).sum),
      "view_s.p50" -> Stats.median(vs),
      "view_s.tail" -> Stats.pct(vs, Stats.tailPct(vs.size)),
      "stored_bytes_per_input_byte" -> stored
    ) ++ views.map(v => s"${v}_s.p50" -> p50(v)) ++ {
      // the functions microbenchmark needs no workload state; it runs in
      // this traced run, which has the time to spare
      val t0 = System.nanoTime()
      val fns = FunctionBench.run(spark, a.seed)
      functionBenchS = (System.nanoTime() - t0) / 1e9
      fns
    }
  }

  private var functionBenchS = 0.0

  private def parquetFiles(dir: String): Long = {
    val f = new java.io.File(dir)
    if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
    else Option(f.listFiles()).fold(0L)(_.map(c => parquetFiles(c.getPath)).sum)
  }

  override def meta: Map[String, Any] = Map(
    "set_up_phases_s" -> setUpPhases,
    "function_bench_s" -> functionBenchS,
    "input_sizes" -> Map("history_rows" -> historyRows,
      "delta_rows_per_day" -> deltaRows),
    "views_read_untraced" -> viewSeconds.size,
    "view_tail_percentile" -> Stats.tailPct(viewSeconds.size),
    "stored_bytes_per_input_byte" -> stored)
}

object CrimeDaily {
  val Start: LocalDate = LocalDate.of(2021, 6, 1)
  val UpdFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  val DateFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("MM/dd/yyyy hh:mm:ss a", Locale.US)

  val CrimeSchema = org.apache.spark.sql.types.StructType.fromDDL(
    Ingest.crimeSchemaDdl)

  /** (primary_type, description, weight); robbery comes armed and
    * unarmed, one description carries a comma (CSV quoting). */
  val Kinds: Seq[(String, String, Int)] = Seq(
    ("THEFT", "$500 AND UNDER", 14), ("THEFT", "OVER $500", 8),
    ("THEFT", "RETAIL THEFT", 6), ("BATTERY", "SIMPLE", 12),
    ("BATTERY", "DOMESTIC BATTERY SIMPLE", 9),
    ("CRIMINAL DAMAGE", "TO VEHICLE", 6),
    ("CRIMINAL DAMAGE", "TO PROPERTY, PRIVATE", 5),
    ("ASSAULT", "SIMPLE", 7), ("ASSAULT", "AGGRAVATED: HANDGUN", 3),
    ("ROBBERY", "ARMED: HANDGUN", 4), ("ROBBERY", "ARMED: KNIFE / CUTTING INSTRUMENT", 2),
    ("ROBBERY", "STRONGARM - NO WEAPON", 4), ("ROBBERY", "ATTEMPT STRONGARM - NO WEAPON", 1),
    ("HOMICIDE", "FIRST DEGREE MURDER", 1),
    ("CRIMINAL SEXUAL ASSAULT", "NON-AGGRAVATED", 1),
    ("BURGLARY", "FORCIBLE ENTRY", 4), ("NARCOTICS", "POSS: CANNABIS 30GMS OR LESS", 3),
    ("MOTOR VEHICLE THEFT", "AUTOMOBILE", 4),
    ("DECEPTIVE PRACTICE", "FRAUD OR CONFIDENCE GAME", 3))
  val kindCdf = Kinds.scanLeft(0)(_ + _._3).tail
  val kindTotal = kindCdf.last

  def isViolent(pt: String, desc: String): Boolean =
    (pt == "ROBBERY" && desc.contains("ARMED")) ||
      Set("ASSAULT", "BATTERY", "HOMICIDE", "CRIMINAL SEXUAL ASSAULT")(pt)

  /** The community with violent crimes and never an arrest; it is also
    * the busiest, so a join that kept it would change the top 15. */
  val NoArrestCommunity = 25L
}

/** Seeded rows in the crime CSV schema. A day's delta mixes new reports
  * (occurred up to 45 days earlier, so they fall across month boundaries)
  * with late updates of earlier rows (same id, a new updated_on), which the
  * pipeline keeps as duplicates. */
final class CrimeGen(seed: Long) {
  import CrimeDaily._

  private val all = mutable.ArrayBuffer[Row]()
  private var nextId = 1L

  private def rng(stream: Long, d: Int) =
    new java.util.SplittableRandom(seed * 1000003L + stream * 7919L + d)

  private def community(r: java.util.SplittableRandom): Long =
    if (r.nextInt(20) == 0) NoArrestCommunity else 1L + r.nextInt(77)

  private def report(r: java.util.SplittableRandom, occurred: LocalDateTime,
      updated: LocalDateTime): Row = {
    val k = r.nextInt(kindTotal)
    val (pt, desc, _) = Kinds(kindCdf.indexWhere(k < _))
    val ca = community(r)
    val arrest = ca != NoArrestCommunity && r.nextInt(4) == 0
    val id = nextId
    nextId += 1
    Row(id, f"JD$id%07d", DateFmt.format(occurred), pt, desc, arrest,
      r.nextInt(5) == 0, ca, occurred.getYear.toLong, UpdFmt.format(updated),
      41.64 + r.nextDouble() * 0.38, -87.94 + r.nextDouble() * 0.42)
  }

  private def earliest(x: LocalDateTime, y: LocalDateTime) =
    if (x.isBefore(y)) x else y

  private def at(r: java.util.SplittableRandom, d: LocalDate) =
    d.atStartOfDay().plusSeconds(r.nextInt(86400))

  def history(n: Int): Seq[Row] = {
    val r = rng(1, 0)
    val rows = (0 until n).map { _ =>
      val occurred = at(r, Start.minusDays(1 + r.nextInt(730)))
      report(r, occurred, earliest(occurred.plusHours(1 + r.nextInt(48)),
        Start.minusDays(1).atStartOfDay()))
    }
    all ++= rows
    rows
  }

  def delta(d: Int, n: Int): Seq[Row] = {
    val r = rng(2, d)
    val today = Start.plusDays(d)
    val rows = (0 until n).map { _ =>
      val updated = at(r, today)
      if (r.nextInt(20) == 0) {
        // late update: an earlier row again, possibly now with an arrest
        val old = all(r.nextInt(all.size))
        val arrest = old.getBoolean(5) ||
          (old.getLong(7) != NoArrestCommunity && r.nextInt(3) == 0)
        Row.fromSeq(old.toSeq.updated(5, arrest).updated(9, UpdFmt.format(updated)))
      } else
        report(r, earliest(at(r, today.minusDays(r.nextInt(45))), updated),
          updated)
    }
    all ++= rows
    rows
  }
}

/** The four views' expected contents, maintained from every landed row. */
final class Expected(corrupt: Boolean) {
  import CrimeDaily._

  private val byType = mutable.Map[String, Long]().withDefaultValue(0L)
  private val reports = mutable.Map[Long, Long]().withDefaultValue(0L)
  private val arrests = mutable.Map[Long, Long]().withDefaultValue(0L)
  private var violentN = 0L
  private var violentDigest = 0L
  private var fixedDigest = 0L

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def add(r: Row): Unit = {
    val (pt, desc, ca) = (r.getString(3), r.getString(4), r.getLong(7))
    byType(s"$pt - $desc") += 1
    if (isViolent(pt, desc)) {
      violentN += 1
      reports(ca) += 1
      if (r.getBoolean(5)) arrests(ca) += 1
      val id = r.getLong(0)
      val upd = r.getString(9)
      violentDigest += Digest.of(id, upd)
      // 12-hour clock with AM/PM; ISO weekday numbering (Monday = 1)
      val ts = LocalDateTime.parse(r.getString(2), DateFmt)
      val dow = ts.getDayOfWeek
      fixedDigest += Digest.of(id, upd, tsFmt.format(ts),
        dow.getDisplayName(java.time.format.TextStyle.FULL, Locale.US),
        dow.getValue.toLong)
    }
  }

  private def pct(arr: Long, rep: Long): Double =
    BigDecimal(arr.toDouble / rep.toDouble * 100)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  def check(got: Map[String, Array[Row]]): Boolean = {
    val fails = mutable.ArrayBuffer[String]()
    // count_by_crime_type
    val types = got("count_by_crime_type")
      .map(r => r.getAs[String]("crime_type") -> r.getAs[Long]("count")).toMap
    val want = if (corrupt) byType.toMap.updated("THEFT - OVER $500",
      byType("THEFT - OVER $500") + 1) else byType.toMap
    if (types != want) fails += "count_by_crime_type"
    // dependency1_violent_crimes: the exact multiset of (id, updated_on)
    val violent = got("dependency1_violent_crimes")
    if (violent.length != violentN || violent.map(r => Digest.of(
        r.getAs[Long]("id"), r.getAs[String]("updated_on"))).sum != violentDigest)
      fails += "dependency1_violent_crimes"
    // arrest_pct_by_community_violent: inner join drops zero-arrest
    // communities, double-cast percentage, top 15 by reports (ties at the
    // 15th place may resolve either way)
    val joined = reports.keys.filter(arrests(_) > 0).toSeq
      .sortBy(c => -reports(c))
    val top = got("arrest_pct_by_community_violent")
    val cut = joined.take(15).lastOption.fold(0L)(reports)
    val rowsOk = top.forall { r =>
      val ca = r.getAs[Long]("community_area")
      arrests(ca) > 0 && reports(ca) >= cut &&
        r.getAs[Long]("tot_reports") == reports(ca) &&
        r.getAs[Long]("tot_arrests") == arrests(ca) &&
        r.getAs[Double]("arrest_pct") == pct(arrests(ca), reports(ca))
    }
    val mustHave = joined.filter(reports(_) > cut).toSet
    val tops = top.map(_.getAs[Long]("community_area")).toSet
    if (!rowsOk || top.length != math.min(15, joined.size) ||
        tops.size != top.length || !mustHave.subsetOf(tops) ||
        tops(NoArrestCommunity))
      fails += "arrest_pct_by_community_violent"
    // fixed_dates_violent
    val fixed = got("fixed_dates_violent")
    if (fixed.length != violentN || fixed.map { r =>
        Digest.of(r.getAs[Long]("id"), r.getAs[String]("updated_on"),
          tsFmt.format(r.getAs[java.sql.Timestamp]("date_timestamp")
            .toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime),
          r.getAs[String]("day_of_week"), r.getAs[Long]("day_of_week_num"))
      }.sum != fixedDigest)
      fails += "fixed_dates_violent"
    if (fails.nonEmpty)
      System.err.println(s"[perfbench] crime_daily check failed: ${fails.mkString(", ")}")
    fails.isEmpty
  }
}
