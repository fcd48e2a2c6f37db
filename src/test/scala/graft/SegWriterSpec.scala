package graft

import graft.operators.VersionedIndex
import graft.operators.VersionedIndex.{Bucketed, Layout, Log, OneFile, PartitionedBy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `VersionedIndex.writeSeg` returns the rows it wrote: for every layout
  * the stores use, the returned count equals a read of the written
  * segment — for a populated relation, an empty local relation, an input
  * that turns out empty only at run time and an aggregation, with
  * adaptive execution on and off — and counting runs no Spark job. */
class SegWriterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val layouts: Seq[(String, Layout)] = Seq(
    "one file" -> OneFile(),
    "as planned" -> PartitionedBy(),
    "partitioned by cid" -> PartitionedBy("cid"),
    "bucketed" -> Bucketed("b", pmod(xxhash64(col("wh")), lit(8L)).cast("int"), "wh"))

  /** (returned count, count read back from the segment). */
  private def written(df: DataFrame, layout: Layout): (Long, Long) = {
    val dir = java.nio.file.Files.createTempDirectory("seg_writer").toString
    try {
      val n = VersionedIndex.writeSeg(df, dir, Log("log", df.schema.toDDL, layout = layout), 3)
      // a partitioned write of no rows leaves no file to infer from
      (n, spark.read.schema(df.schema).parquet(s"$dir/log/seg=3").count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def source(dir: String): DataFrame = {
    spark.range(0, 500).select($"id".as("k"), ($"id" % 7).cast("int").as("cid"),
      md5($"id".cast("string")).as("wh")).repartition(3)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("writeSeg returns the rows each layout wrote") {
    val tmp = java.nio.file.Files.createTempDirectory("seg_src").toString
    try {
      val rows = source(s"$tmp/src")
      val cases = Seq(
        ("rows", rows, 500L),
        ("an empty relation", spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), rows.schema), 0L),
        ("an input empty at run time", rows.filter($"k" < 0), 0L),
        ("an aggregation", rows.groupBy($"cid").agg(max($"wh").as("wh")), 7L))
      for ((lname, layout) <- layouts; (cname, df, want) <- cases) {
        val (n, read) = written(df, layout)
        assert(n == want && read == want, s"$cname, $lname: returned $n, read $read")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
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

  test("writeSeg runs no job beyond the write's own") {
    val tmp = java.nio.file.Files.createTempDirectory("seg_src").toString
    try {
      val rows = source(s"$tmp/src")
      val plain = jobsOf(rows.coalesce(1).write.parquet(s"$tmp/plain"))
      assert(jobsOf(VersionedIndex.writeSeg(rows, tmp, Log("log", rows.schema.toDDL), 0)) == plain)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("a bucketed writeSeg counts the same inside and outside an admission plan") {
    val tmp = java.nio.file.Files.createTempDirectory("seg_src").toString
    try {
      val rows = source(s"$tmp/src").filter($"k" % 3 === 0)
      val bucketed = layouts.last._2
      val outside = written(rows, bucketed)
      val inside = Par.withAdmitPlan(spark, rows)(written(rows, bucketed))
      assert(outside == ((167L, 167L)))
      assert(inside == outside)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }
}
