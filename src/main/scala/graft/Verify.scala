package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is recorded in errors.json (name → message) so it surfaces as a
  * loud red artifact instead of silently vanishing from the correctness
  * file (the round-11 failure mode). */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jobj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")

  /** Run every query, write per-query parquet + oracle_sql.json +
    * errors.json under `outDir`. Returns the failure map (name → message).
    * errors.json is always written — `{}` on a clean run — so its absence
    * vs emptiness is itself a signal. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Map[String, (SparkSession, String) => DataFrame],
          oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      // one file per query; repartition, not coalesce, so the query's
      // own last stage keeps its parallelism (queries end unsorted)
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jobj(oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"), jobj(errors))
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (dev tooling —
    // the driver always runs the full surface)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // default to all host cores (the Bench.scala rationale: an unset env
    // var must not silently under-parallelize)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // one-wave bounded takes — see the Bench.scala rationale
      .config("spark.sql.limit.initialNumPartitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val keep = (name: String) => only.forall(_.contains(name))
    val errors = run(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (k, _) => keep(k) },
      SparkEntry.oracleSql.filter { case (k, _) => keep(k) })
    graft.operators.Dedup.clearShingleCaches()
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
