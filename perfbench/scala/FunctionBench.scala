package perfbench

import graft.functions._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col

/** ns/row of each public column constructor of the `functions` layer: a
  * projection over a fixed cached input written to the `noop` sink, minus
  * the same projection of the bare input column. The input is generated
  * here, not taken from a workload, so the figures do not depend on which
  * traced run measures them. */
object FunctionBench {
  val Rows = 10000
  val Reps = 3

  def run(spark: SparkSession, seed: Long): Map[String, Double] = {
    import spark.implicits._
    val r = new java.util.Random(seed)
    val texts = new DocGen(seed).rows(Rows, 0, 1).map(_._2)
    val vecs = new VecGen(seed).rows(2 * Rows, 0, 1).map(_._2)
    val input = texts.indices.map { i =>
      (texts(i), vecs(2 * i), vecs(2 * i + 1), Array.fill(8)(r.nextInt(16)))
    }.toDF("text", "a", "b", "codes").cache()
    input.count()
    val planes = Seq.fill(32)(Seq.fill(64)(r.nextGaussian()))
    val codebook = Seq.fill(16)(Seq.fill(64)(r.nextGaussian()))
    val merges = graft.operators.Bpe.FixtureMerges
    val stop = graft.operators.TextAnalysis.stopwords
    val markers = graft.operators.TextAnalysis.langMarkers
    val kernels: Seq[(String, Column, Column)] = Seq(
      ("MinHashFns.minhashSignature", MinHashFns.minhashSignature(col("text"), graft.operators.Dedup.NumHashes), col("text")),
      ("SimHashFns.simhash", SimHashFns.simhash(col("text"), graft.operators.Dedup.SimBits), col("text")),
      ("LshFns.lshBuckets", LshFns.lshBuckets(col("a"), planes, 8), col("a")),
      ("VectorFns.cosineSim", VectorFns.cosineSim(col("a"), col("b")), col("a")),
      ("VectorFns.pqAdcDot", VectorFns.pqAdcDot(col("a"), col("codes"), codebook, 8), col("a")),
      ("BpeFns.bpeTokens", BpeFns.bpeTokens(col("text"), merges), col("text")),
      ("TextProfileFns.textProfile", TextProfileFns.textProfile(col("text"), stop, markers), col("text")),
      ("NormalizeFns.nfcNormalize", NormalizeFns.nfcNormalize(col("text")), col("text")),
      ("TokenWindowFns.tokenWindows", TokenWindowFns.tokenWindows(col("text"), 12), col("text")),
      ("TokenWindowFns.tokenGrams", TokenWindowFns.tokenGrams(col("text"), 3), col("text")))
    def seconds(c: Column): Double = {
      val t0 = System.nanoTime()
      input.select(c.as("x")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // kernel and baseline alternate, after one untimed pass of each; the
    // median difference can come out slightly negative for a kernel that
    // costs less than the run-to-run noise of the baseline
    val out = kernels.map { case (name, k, base) =>
      seconds(k)
      seconds(base)
      val diffs = Seq.fill(Reps)(seconds(k) - seconds(base))
      s"functions.${name}_ns_per_row" -> Stats.median(diffs) * 1e9 / Rows
    }.toMap
    input.unpersist(true)
    out
  }
}
