package graft

import org.apache.spark.sql.SparkSession
import graft.engine.Pipeline
import java.time.LocalDate

/** Runnable end-to-end demo of the crime-pipeline replay: two daily drops
  * through ingest → bookmark-incremental processing → partitioned parquet
  * → views, printing the observable state after each stage.
  *
  *   tools/run_verify.sh graft.PipelineDemo /tmp/pipeline-demo
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0)
      else java.nio.file.Files.createTempDirectory("graft-demo").toString
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-pipeline-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dirs = Pipeline.Dirs(s"$root/input", s"$root/processed", s"$root/checkpoint")
    val source = Seq(
      (1L, "JE1", "06/15/2021 09:30:00 PM", "ROBBERY", "ARMED - HANDGUN", true, false, 25L, 2021L, "2021-06-16 01:00:00", 41.88, -87.63),
      (2L, "JE2", "06/15/2021 11:00:00 AM", "THEFT", "OVER $500", false, false, 25L, 2021L, "2021-06-16 01:00:00", 41.88, -87.63),
      (3L, "JE3", "07/01/2021 08:00:00 AM", "ASSAULT", "AGGRAVATED", true, false, 7L, 2021L, "2021-07-02 01:00:00", 41.88, -87.63),
      (4L, "JE4", "07/02/2021 10:00:00 PM", "BATTERY", "SIMPLE", false, false, 7L, 2021L, "2021-07-03 01:00:00", 41.88, -87.63),
    ).toDF("id", "case_number", "date", "primary_type", "description",
      "arrest", "domestic", "community_area", "year", "updated_on",
      "latitude", "longitude")

    println(s"== demo root: $root")
    println("== run 1: rows updated through 2021-06-30")
    Pipeline.run(spark, source.filter($"updated_on" <= "2021-06-30"), dirs,
      since = "2021-01-01", fileDate = LocalDate.parse("2021-06-16"))
    println(s"   processed rows: ${spark.read.parquet(dirs.processed).count()}")

    println("== run 2: rest of July lands; June file must NOT reprocess")
    Pipeline.run(spark, source, dirs,
      since = "2021-06-30", fileDate = LocalDate.parse("2021-07-03"))
    println(s"   processed rows: ${spark.read.parquet(dirs.processed).count()}")
    println("   partitions: " + new java.io.File(dirs.processed).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.mkString(", "))

    println("== views (dependency order)")
    Pipeline.view(spark, "dependency1_violent_crimes")
      .select("id", "primary_type", "description").show(false)
    Pipeline.view(spark, "count_by_crime_type").orderBy("crime_type").show(false)
    Pipeline.view(spark, "arrest_pct_by_community_violent").show(false)
    Pipeline.view(spark, "fixed_dates_violent")
      .select("id", "date", "date_timestamp", "day_of_week", "day_of_week_num").show(false)

    println("== run 3: no new files -> bookmark no-op")
    graft.sources.Ingest.processNewFiles(spark, dirs.landing, dirs.processed, dirs.checkpoint)
    println(s"   processed rows: ${spark.read.parquet(dirs.processed).count()}")
    spark.stop()
  }
}
