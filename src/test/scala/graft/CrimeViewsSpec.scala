package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{CrimeViews, PrestoCompat}

object SparkTestSession {
  lazy val spark: SparkSession = {
    // keep catalog artifacts (warehouse, derby metastore) out of the repo
    val tmp = java.nio.file.Files.createTempDirectory("graft-spark").toString
    System.setProperty("derby.system.home", tmp)
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // one-wave bounded takes — see the Bench.scala rationale
      .config("spark.sql.limit.initialNumPartitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Unit tests for the reference-pipeline semantics, pinned on the seven
  * hazards in SURVEY.md §4. */
class CrimeViewsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // crime-shaped rows: (id, date, primary_type, description, arrest, community_area)
  def crimes = Seq(
    (1L, "06/15/2021 09:30:00 PM", "ROBBERY", "ARMED - HANDGUN", true, 25L),
    (2L, "06/15/2021 12:05:00 AM", "ROBBERY", "STRONG ARM - NO WEAPON", false, 25L),
    (3L, "01/04/2021 12:00:00 PM", "ASSAULT", "AGGRAVATED", false, 7L),
    (4L, "02/28/2021 11:59:59 PM", "BATTERY", "SIMPLE", true, 25L),
    (5L, "07/04/2021 08:00:00 AM", "HOMICIDE", "FIRST DEGREE", true, 7L),
    (6L, "03/01/2021 01:30:00 PM", "CRIMINAL SEXUAL ASSAULT", "NON-AGGRAVATED", false, 3L),
    (7L, "03/02/2021 02:00:00 AM", "THEFT", "OVER $500", false, 25L),
    (8L, "12/31/2021 11:00:00 PM", "ASSAULT", "SIMPLE", false, 99L), // zero-arrest community
  ).toDF("id", "date", "primary_type", "description", "arrest", "community_area")

  test("violent filter: AND binds tighter than OR; LIKE contains (P3, P4)") {
    val ids = CrimeViews.violentCrimes(crimes).select("id").as[Long].collect().sorted
    // id=2 is ROBBERY but not ARMED -> excluded; id=7 THEFT -> excluded
    assert(ids.toSeq == Seq(1L, 3L, 4L, 5L, 6L, 8L))
  }

  test("enrich: 12-hour AM/PM date parse, month, day (P1, F2, F3)") {
    val row = CrimeViews.enrich(crimes).filter($"id" === 1).select("new_date", "month", "day")
      .collect().head
    assert(row.getDate(0).toString == "2021-06-15")
    assert(row.getInt(1) == 6 && row.getInt(2) == 15)
    // 12:05 AM is day 15 (midnight edge), not day 14/16
    val am = CrimeViews.enrich(crimes).filter($"id" === 2).select("new_date").collect().head
    assert(am.getDate(0).toString == "2021-06-15")
  }

  test("date_parse %T %p honors the meridiem: 09:30 PM -> 21:30 (F4, hazard 2)") {
    val ts = CrimeViews.fixedDates(crimes).filter($"id" === 1)
      .select($"date_timestamp".cast("string")).as[String].collect().head
    assert(ts == "2021-06-15 21:30:00")
    val tsAm = CrimeViews.fixedDates(crimes).filter($"id" === 2)
      .select($"date_timestamp".cast("string")).as[String].collect().head
    assert(tsAm == "2021-06-15 00:05:00")
  }

  test("day_of_week name + ISO number Monday=1..Sunday=7 (F5, F6, hazard 1)") {
    val got = CrimeViews.fixedDates(crimes)
      .select($"id", $"day_of_week", $"day_of_week_num").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1) == ("Tuesday", 2L))   // 2021-06-15
    assert(got(3) == ("Monday", 1L))    // 2021-01-04
    assert(got(5) == ("Sunday", 7L))    // 2021-07-04
    assert(got(4) == ("Sunday", 7L))    // 2021-02-28
    assert(got(8) == ("Friday", 5L))    // 2021-12-31
  }

  test("count_by_crime_type: concat group key, null-propagating (A1, F1)") {
    val withNull = crimes.union(
      Seq((9L, "01/01/2021 01:00:00 AM", "ARSON", null.asInstanceOf[String], false, 1L))
        .toDF("id", "date", "primary_type", "description", "arrest", "community_area"))
    val out = CrimeViews.countByCrimeType(withNull)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(out(Some("ROBBERY - ARMED - HANDGUN")) == 1L)
    assert(out(None) == 1L) // NULL description -> NULL key, like Presto ||
  }

  test("arrest_pct: double division, round, inner join drops zero-arrest (F7-F9, J1, hazards 5-6)") {
    val violent = CrimeViews.violentCrimes(crimes)
    val out = CrimeViews.arrestPctByCommunity(violent).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // community 25: violent ids {1,4}, arrests {1,4} -> 100.0
    assert(out(25L) == ((2L, 2L, 100.0)))
    // community 7: violent {3,5}, arrests {5} -> 50.0
    assert(out(7L) == ((2L, 1L, 50.0)))
    // communities 3 and 99 have violent reports but zero arrests -> dropped by inner join
    assert(!out.contains(3L) && !out.contains(99L))
  }

  test("arrest_pct: a null community_area never joins; a null arrest is no arrest") {
    val withNulls = crimes.union(
      Seq[(Long, String, String, String, Option[Boolean], Option[Long])](
        (9L, "01/05/2021 01:00:00 AM", "BATTERY", "SIMPLE", Some(true), None),
        (10L, "01/06/2021 01:00:00 AM", "ASSAULT", "SIMPLE", None, Some(7L)))
        .toDF("id", "date", "primary_type", "description", "arrest", "community_area"))
    val out = CrimeViews.arrestPctByCommunity(CrimeViews.violentCrimes(withNulls))
      .collect()
    assert(out.forall(!_.isNullAt(0)), "the null-community violent row must drop")
    val byCa = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // community 7: violent {3, 5, 10}, arrests {5}; id 10's null arrest
    // is a report, not an arrest
    assert(byCa(7L) == ((3L, 1L, 33.33)))
    assert(byCa(25L) == ((2L, 2L, 100.0)))
  }

  test("presto pattern translation map") {
    assert(PrestoCompat.prestoPatternToJava("%m/%d/%Y %T %p") == "MM/dd/yyyy HH:mm:ss a")
    assert(PrestoCompat.prestoPatternToJava("%W") == "EEEE")
    assert(PrestoCompat.prestoPatternToJava("%Y-%m-%d %H:%i:%s") == "yyyy-MM-dd HH:mm:ss")
    // literal letters get quoted so they can't be read as pattern chars
    assert(PrestoCompat.prestoPatternToJava("%YT%m") == "yyyy'T'MM")
    // consecutive literal letters share ONE quoted run — 'a''t' would be
    // parsed by the JDK as the literal a't
    assert(PrestoCompat.prestoPatternToJava("%H at %i") == "HH 'at' mm")
    import org.apache.spark.sql.functions.to_timestamp
    import spark.implicits._
    val parsed = Seq("2021-06-15 at 09:30").toDF("s")
      .select(to_timestamp($"s", PrestoCompat.prestoPatternToJava("%Y-%m-%d at %H:%i"))
        .cast("string")).as[String].collect().head
    assert(parsed == "2021-06-15 09:30:00")
  }
}
