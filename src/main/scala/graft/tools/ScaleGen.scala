package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a LARGER benchmark corpus from an existing
  * testdata scale factor by key-shifted replication, so the bench can
  * measure (not merely assert) linear scaling on a point several times
  * sf0.1. `ScaleGen <srcDir> <outDir> <factor>` writes the same ten
  * parquet tables, `factor`× the fact rows.
  *
  * Replication is DECORRELATED where duplication would distort the
  * workload rather than scale it:
  *  - documents: every token of replica i>0 gets an `_r<i>` suffix —
  *    token counts, lengths and language mix are preserved (text-stats
  *    queries scale linearly) while shingle/minhash/simhash spaces stay
  *    DISJOINT across replicas, so the near-dup pair structure
  *    replicates instead of exploding quadratically across copies.
  *  - embeddings: replica i>0 flips the sign of a pseudo-random half of
  *    the dimensions (hash(dim, i) parity) — norms unchanged, within-
  *    replica geometry preserved, cross-replica cosine ~0 in
  *    expectation, so ANN candidate sets scale like the corpus.
  *  - fact keys shift by i×(max key) with FK columns shifted in step, so
  *    join fan-outs stay exactly the per-replica originals.
  *  - region/nation stay fixed: real dimension tables don't grow with
  *    the corpus, and the scaled joins keep their broadcast shape.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <srcDir> <outDir> <factor>")
    val (src, out, f) = (args(0), args(1), args(2).toInt)
    require(f >= 1, s"factor must be >= 1, got $f")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the fixtures store events.ts as timestamp[us], which needs no conf;
    // an older INT64 TIMESTAMP(NANOS) file reads as a plain long under
    // this conf and is written back as one — Tables.events handles both
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def maxOf(t: String, c: String): Long =
      read(t).agg(max(col(c))).head().getLong(0)

    // fixed dims: copy verbatim
    for (t <- Seq("region", "nation"))
      read(t).write.mode("overwrite").parquet(s"$out/$t.parquet")

    val (maxCust, maxSupp, maxPart) =
      (maxOf("customer", "c_custkey"), maxOf("supplier", "s_suppkey"),
        maxOf("part", "p_partkey"))
    val (maxOrder, maxEvent, maxUser) =
      (maxOf("orders", "o_orderkey"), maxOf("events", "event_id"),
        maxOf("events", "user_id"))
    val (maxDoc, maxVec) =
      (maxOf("documents", "doc_id"), maxOf("embeddings", "vec_id"))

    def replicate(t: String)(tf: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(t)
      (0 until f).map(i => tf(base, i)).reduce(_.union(_))
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      System.err.println(s"[scalegen] $t x$f written")
    }
    def shift(c: String, by: Long, i: Int) = (col(c) + lit(by * i)).as(c)

    replicate("customer") { (d, i) => d.select(shift("c_custkey", maxCust, i),
      col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")) }
    replicate("supplier") { (d, i) => d.select(shift("s_suppkey", maxSupp, i),
      col("s_name"), col("s_nationkey"), col("s_acctbal")) }
    replicate("part") { (d, i) => d.select(shift("p_partkey", maxPart, i),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")) }
    replicate("orders") { (d, i) => d.select(shift("o_orderkey", maxOrder, i),
      shift("o_custkey", maxCust, i), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority")) }
    replicate("lineitem") { (d, i) => d.select(shift("l_orderkey", maxOrder, i),
      shift("l_partkey", maxPart, i), shift("l_suppkey", maxSupp, i),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate")) }
    replicate("events") { (d, i) => d.select(shift("event_id", maxEvent, i),
      col("ts"), shift("user_id", maxUser, i), col("event_type"), col("value"),
      col("props")) }
    replicate("documents") { (d, i) =>
      val text = if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1_r" + i)
      d.select(shift("doc_id", maxDoc, i), text.as("text"), col("lang"),
        col("source"), col("n_chars")) }
    replicate("embeddings") { (d, i) =>
      val emb = if (i == 0) col("embedding")
        else expr(s"transform(embedding, (x, j) -> " +
          s"cast(if(pmod(hash(j, $i), 2) = 0, -x, x) as float))")
      d.select(shift("vec_id", maxVec, i), emb.as("embedding"), col("label")) }

    spark.stop()
  }
}
