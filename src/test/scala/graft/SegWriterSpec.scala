package graft

import graft.operators.VersionedIndex
import graft.operators.VersionedIndex.{Layout, Log, OneFile, PartitionedBy, Tiered}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `VersionedIndex`'s log writers return the rows they wrote: for every
  * layout the stores use, the returned count equals a read of the written
  * segment or part — for a populated relation, an empty local relation,
  * an input that turns out empty only at run time and an aggregation,
  * with adaptive execution on and off — and counting runs no Spark job.
  * A tiered log's append is one file and its whole write one file per
  * bucket, and reading it back starts no job before its action. */
class SegWriterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tiered(name: String, ddl: String): Log = Log(name, ddl,
    layout = Tiered("b", n => pmod(xxhash64(col("wh")), lit(n.toLong)).cast("int"), "wh"))

  /** (name, write `df` under `dir` and return the count, the written path
    * under `dir`). */
  private val writers: Seq[(String, (DataFrame, String) => Long, String)] =
    Seq[(String, Layout)]("one file" -> OneFile(), "as planned" -> PartitionedBy(),
      "partitioned by cid" -> PartitionedBy("cid")).map { case (name, layout) =>
      (name, (df: DataFrame, dir: String) =>
        VersionedIndex.writeSeg(df, dir, Log("log", df.schema.toDDL, layout = layout), 3),
        "log/seg=3")
    } ++ Seq(
      ("tiered day segment", (df: DataFrame, dir: String) =>
        VersionedIndex.writeSeg(df, dir, tiered("log", df.schema.toDDL), 3, tiered = true),
        "log/seg3"),
      ("tiered base part", (df: DataFrame, dir: String) =>
        VersionedIndex.writePart(df, dir, tiered("log", df.schema.toDDL), 3, 8),
        "log/base/cpart=3"))

  /** (returned count, count read back from what was written). */
  private def written(df: DataFrame,
      writer: (String, (DataFrame, String) => Long, String)): (Long, Long) = {
    val dir = java.nio.file.Files.createTempDirectory("seg_writer").toString
    try {
      val n = writer._2(df, dir)
      // a partitioned write of no rows leaves no file to infer from
      (n, spark.read.schema(df.schema).parquet(s"$dir/${writer._3}").count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def source(dir: String): DataFrame = {
    spark.range(0, 500).select($"id".as("k"), ($"id" % 7).cast("int").as("cid"),
      md5($"id".cast("string")).as("wh")).repartition(3)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Data files under `p`, by the dir that holds them. */
  private def dataFiles(p: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    org.apache.commons.io.FileUtils.listFiles(new java.io.File(p), null, true)
      .asScala.toSeq.filter(_.getName.endsWith(".parquet"))
      .groupBy(_.getParentFile.getName).map { case (d, fs) => d -> fs.size }
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
      for (writer <- writers; (cname, df, want) <- cases) {
        val (n, read) = written(df, writer)
        assert(n == want && read == want, s"$cname, ${writer._1}: returned $n, read $read")
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
      val bucketed = writers.last
      val outside = written(rows, bucketed)
      val inside = Par.withAdmitPlan(spark, rows)(written(rows, bucketed))
      assert(outside == ((167L, 167L)))
      assert(inside == outside)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** A two-tier store of one tiered log in `buckets` buckets: `rows`
    * split into a bootstrap and `appends` more days, each below the fold
    * cap. Returns the store dir. */
  private def tieredStore(root: String, rows: DataFrame, buckets: Int,
      appends: Int): (String, Log) = {
    val dir = s"$root/store$buckets"
    val log = tiered("log", "k BIGINT, cid INT, wh STRING")
    def day(d: Int) = rows.filter($"k" % (appends + 1) === d)
    VersionedIndex.bootstrap(spark, dir, Seq(log), buckets = Some(buckets))(
      _.seg(log, day(0)))
    (1 to appends).foreach(d => VersionedIndex.appendOrFold(spark, dir, "no store",
      Seq(log), VersionedIndex.segmentCap(appends + 2), sizeBy = Nil)(_.seg(log, day(d))))
    (dir, log)
  }

  test("a tiered append writes one data file, whatever the bucket count") {
    val tmp = java.nio.file.Files.createTempDirectory("seg_src").toString
    try {
      val rows = source(s"$tmp/src")
      for (buckets <- Seq(1, 8, 64)) {
        val (dir, _) = tieredStore(tmp, rows, buckets, appends = 1)
        val m = VersionedIndex.metaOrThrow(dir)
        assert(m.parts == Vector(0L) && m.segs == Vector(1L) && m.buckets == buckets,
          m.members)
        assert(dataFiles(s"$dir/log/seg1") == Map("seg1" -> 1),
          s"$buckets buckets: append files ${dataFiles(s"$dir/log/seg1")}")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("a whole-log write writes at most one file per bucket") {
    val tmp = java.nio.file.Files.createTempDirectory("seg_src").toString
    try {
      val rows = source(s"$tmp/src") // three input partitions
      for (buckets <- Seq(8, 64)) {
        val log = tiered("log", rows.schema.toDDL)
        assert(VersionedIndex.writePart(rows, s"$tmp/w$buckets", log, 0, buckets) == 500L)
        val files = dataFiles(s"$tmp/w$buckets/log/base/cpart=0")
        assert(files.keySet.forall(_.startsWith("b=")) && files.values.forall(_ == 1) &&
          files.size <= buckets && files.size > buckets / 2,
          s"$buckets buckets: files per bucket dir $files")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("readLog over a 64-bucket part plus two day segments starts no job before its action") {
    val tmp = java.nio.file.Files.createTempDirectory("seg_src").toString
    try {
      val rows = source(s"$tmp/src")
      val (dir, log) = tieredStore(tmp, rows, 64, appends = 2)
      val m = VersionedIndex.metaOrThrow(dir)
      assert(m.parts == Vector(0L) && m.segs == Vector(1L, 2L), m.members)
      assert(dataFiles(s"$dir/log/base/cpart=0").size > 32,
        "the part must hold more bucket dirs than Spark lists serially")
      var read: DataFrame = null
      assert(jobsOf { read = VersionedIndex.readLog(spark, dir, log, m) } == 0)
      // the bucket column: stored dirs in the part, computed in a segment
      val back = read.collect().map(r => (r.getLong(0), r.getString(2), r.getInt(3))).toSet
      val want = rows.select($"k", $"wh",
        pmod(xxhash64($"wh"), lit(64L)).cast("int")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(back == want)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }
}
