package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Regression pin for the events-fixture `ts` encoding drift (round 11):
  * the driver has shipped events.parquet with `ts` as INT64 nanos (read as
  * LongType under nanosAsLong) and as timestamp[us] (read as TIMESTAMP_NTZ).
  * `Tables.events` must load identical values from any of the encodings it
  * claims to support, and always hand downstream a session-tz TIMESTAMP. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  private def values(df: org.apache.spark.sql.DataFrame): Set[(Long, java.sql.Timestamp)] =
    df.select("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet

  test("Tables.events adapts to long-nanos, timestamp, and timestamp_ntz encodings") {
    val canonical = graft.engine.Tables.events(spark, sf)
    assert(canonical.schema("ts").dataType == TimestampType)
    val want = values(canonical)
    assert(want.nonEmpty)

    val base = canonical.select("event_id", "ts")

    // encoding A: ts as raw INT64 epoch-nanos (what nanosAsLong yields from
    // the old TIMESTAMP(NANOS) fixture files)
    val nanosDir = Files.createTempDirectory("graft-ev-nanos").toString + "/events.parquet"
    base.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      .write.mode("overwrite").parquet(nanosDir)

    // encoding B: ts as timestamp[us] isAdjustedToUTC=false (TIMESTAMP_NTZ —
    // the round-11 fixture regeneration)
    val ntzDir = Files.createTempDirectory("graft-ev-ntz").toString + "/events.parquet"
    base.withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.mode("overwrite").parquet(ntzDir)

    // encoding C: ts as adjusted-UTC timestamp[us] (plain TIMESTAMP)
    val tsDir = Files.createTempDirectory("graft-ev-ts").toString + "/events.parquet"
    base.write.mode("overwrite").parquet(tsDir)

    for (dir <- Seq(nanosDir, ntzDir, tsDir)) {
      val parent = new java.io.File(dir).getParent
      val loaded = graft.engine.Tables.events(spark, parent)
      assert(loaded.schema("ts").dataType == TimestampType, s"dtype for $dir")
      assert(values(loaded) == want, s"values for $dir")
      // downstream contract: epoch arithmetic must analyze
      loaded.select(col("ts").cast("bigint")).queryExecution.analyzed
    }
  }

  /** Jobs `body` starts, counted after draining the listener bus. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val bus = org.apache.spark.sql.graftbridge.Bridge
    bus.drainListenerBus(spark.sparkContext, 10000)
    spark.sparkContext.addSparkListener(listener)
    try { body; bus.drainListenerBus(spark.sparkContext, 10000) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("Tables.load infers an unchanged table's schema once") {
    val dir = Files.createTempDirectory("graft-tables").toString
    graft.engine.Tables.nation(spark, sf).write.parquet(s"$dir/nation.parquet")
    var schemas = Seq.empty[org.apache.spark.sql.types.StructType]
    val jobs = jobsOf {
      schemas = Seq.fill(2)(graft.engine.Tables.nation(spark, dir).schema)
    }
    assert(jobs == 1, "the second load declares the inferred schema")
    assert(schemas.distinct.size == 1)
    assert(graft.engine.Tables.nation(spark, dir).count() ==
      graft.engine.Tables.nation(spark, sf).count())
  }

  test("Tables.load sees a table rewritten with an added column") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val nation = graft.engine.Tables.nation(spark, sf)
    nation.write.parquet(s"$dir/nation.parquet")
    assert(!graft.engine.Tables.nation(spark, dir).columns.contains("extra"))
    nation.withColumn("extra", lit(7L))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val reread = graft.engine.Tables.nation(spark, dir)
    assert(reread.schema == nation.schema.add("extra", "bigint", nullable = true))
    assert(reread.select("extra").distinct().as[Long].collect().toSeq == Seq(7L))
  }
}
