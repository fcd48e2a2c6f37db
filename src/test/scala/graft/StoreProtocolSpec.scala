package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{EmbedDedupState, EmbeddingIncremental, HeavyHitters,
  IncrementalDedup, Similarity, SplitPins, SubstringDedup}
import graft.streaming.DedupStream

/** Every persisted store commits through `VersionedIndex`, whose
  * pointer/manifest protocol is `java.io.File`-based. Given a URI dir,
  * Spark would resolve the scheme and write the segments while the
  * pointer and manifest landed in a relative `./file:…` dir, and the
  * store would later read as lost. Each store's bootstrap entry point
  * must therefore fail on the local-path guard before writing anything. */
class StoreProtocolSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("a URI store dir fails every store's bootstrap before anything is written") {
    val root = java.nio.file.Files.createTempDirectory("uri_guard").toString
    val docs = Seq((1L, "a small document for the local path guard test"),
      (2L, "a second small document for the local path guard test"))
      .toDF("doc_id", "text")
    val emb = Seq((1L, Seq.fill(64)(0.125f))).toDF("vec_id", "embedding")
    val bootstraps: Seq[(String, String => Unit)] = Seq(
      "DedupStream" -> (d =>
        DedupStream.commitState(IncrementalDedup.initialState(docs), d)),
      "SplitPins" -> (d => SplitPins.bootstrapStore(spark, d,
        docs.select($"doc_id", $"doc_id".as("cluster_id")))),
      "HeavyHitters" -> (d => HeavyHitters.bootstrapSketch(spark, d, docs)),
      "SubstringDedup" -> (d => SubstringDedup.bootstrapStore(spark, d, docs)),
      "EmbeddingIncremental.saveState" -> (d => EmbeddingIncremental
        .saveState(EmbedDedupState(Seq((1L, 1L)).toDF("vec_id", "cluster_id"),
          Seq((1L, 1L)).toDF("cluster_id", "cluster_size"),
          emb.select($"vec_id".as("grp"), $"vec_id", $"embedding")), d)),
      "EmbeddingIncremental.bootstrapDrop" -> (d =>
        EmbeddingIncremental.bootstrapDrop(spark, d, emb)),
      "Similarity.buildIvfIndex" -> (d => Similarity.buildIvfIndex(emb, d)),
      "Similarity.buildPqIndex" -> (d => Similarity.buildPqIndex(emb, d)),
      "Similarity.buildIvfPqIndex" -> (d => Similarity.buildIvfPqIndex(emb, d)))
    val relative = new java.io.File("file:")
    try bootstraps.foreach { case (store, bootstrap) =>
      val local = s"$root/$store"
      val e = intercept[IllegalArgumentException](bootstrap(s"file:$local"))
      assert(e.getMessage.contains("driver-local"), s"$store: ${e.getMessage}")
      assert(!new java.io.File(local).exists, s"$store wrote segments to $local")
      assert(!relative.exists, s"$store wrote under ${relative.getAbsolutePath}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(relative)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }
}
