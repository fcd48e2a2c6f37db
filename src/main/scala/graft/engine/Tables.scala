package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Fixture-table access. All SparkEntry queries read the driver-generated
  * parquet star schema (TESTDATA.md): one file per table under `sfDir`.
  *
  * At 100 TB these reads become catalog-table scans (`spark.table`) over
  * Hive-partitioned parquet; the query code below is unchanged because
  * everything downstream is plan-level (Catalyst prunes columns + pushes
  * filters into the scan either way).
  */
object Tables {
  /** Loads `name` with its schema declared when this file set was read
    * before under the same parquet read confs, which skips the
    * footer-inference job `spark.read.parquet` would run on every load;
    * a rewritten table lists a different file set and is inferred again. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = (graft.FileSet.list(spark, path), ReadConfs.map(spark.conf.getOption))
    Option(schemas.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.put(key, df.schema)
        df
    }
  }

  /** The session confs that change what footer inference returns. */
  private val ReadConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.parquet.mergeSchema")

  /** Inferred schemas by (file set, read confs), the 256 most recent. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[AnyRef, StructType](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[AnyRef, StructType]) = size() > 256
    })

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet's `ts` encoding has varied across fixture generations:
    * INT64 TIMESTAMP(NANOS) (read as long via nanosAsLong, truncated to
    * micros — what DuckDB's micro-precision TIMESTAMP does on the same
    * file) vs plain timestamp[us] (arrives as TIMESTAMP_NTZ; pass through).
    * Branch on the loaded dtype so either generation reads identically. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // normalize to session-tz TIMESTAMP (all entry points pin UTC) so
        // downstream epoch arithmetic (`cast(ts as bigint)`) keeps working
        // and values match the nanos-era behavior exactly
        df.withColumn("ts", df("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported parquet dtype $other (expected INT64 nanos or timestamp)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
