package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{EmbedDedupState, EmbeddingIncremental, HeavyHitters,
  IncrementalDedup, Similarity, SplitPins, SubstringDedup, VersionedIndex}
import graft.streaming.DedupStream

/** Every persisted store commits through `VersionedIndex`, whose
  * pointer/manifest protocol is `java.io.File`-based. Given a URI dir,
  * Spark would resolve the scheme and write the segments while the
  * pointer and manifest landed in a relative `./file:…` dir, and the
  * store would later read as lost. Each store's bootstrap entry point
  * must therefore fail on the local-path guard before writing anything.
  *
  * Every store but the dedup store also admits through one skeleton,
  * `VersionedIndex.appendOrFold`: an append writes only the batch, a
  * fold writes each declared log's reducer over committed ∪ batch (a
  * retrain writes the index log whole), and the manifest's
  * `trainedRows` is the committed size at the last fold or retrain. */
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

  /** The rows of one written segment, read as plain parquet. */
  private def segment(dir: String, log: String, v: Long) =
    spark.read.parquet(s"$dir/$log/seg=$v").collect()

  test("an append writes the batch, a fold each log's reducer, trainedRows the last fold's size") {
    val root = java.nio.file.Files.createTempDirectory("store_contract").toString
    try {
      // a log store with two reducers: SplitPins' splits log folds by
      // concatenation, its pins log keeps the min-(seq, pin_src) row per
      // cluster. Bootstrap: clusters 100 = {100, 101} and 50 = {50}.
      val split = s"$root/split"
      SplitPins.bootstrapStore(spark, split,
        Seq((100L, 100L), (101L, 100L), (50L, 50L)).toDF("doc_id", "cluster_id"))
      // append: doc 40 merges clusters 100 and 50, doc 7 is a singleton
      SplitPins.admitDelta(spark, split,
        Seq((40L, 40L), (7L, 7L)).toDF("doc_id", "cluster_id"),
        Seq((100L, 40L), (50L, 40L)).toDF("cluster_id", "merged"),
        maxLiveSegments = 2)
      val m1 = VersionedIndex.metaOrThrow(split)
      assert(m1.segs == Vector(0L, 1L))
      assert(segment(split, "splits", 1).map(_.getLong(0)).toSet == Set(40L, 7L),
        "an append's splits segment holds only the batch")
      assert(segment(split, "pins", 1).map(r => (r.getLong(0), r.getLong(2),
        r.getLong(3))).toSet == Set((40L, 0L, 100L), (40L, 0L, 50L), (7L, 1L, 7L)),
        "an append's pins segment holds only the re-keyed and fresh pins")
      assert(m1.totalRows == 5 && m1.trainedRows == 3, s"after the append: $m1")
      // fold: doc 41 joins cluster 40 (no re-keyed and no fresh pin)
      val pinsBefore = SplitPins.loadPins(spark, split).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val splitsBefore = SplitPins.loadSplits(spark, split).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      SplitPins.admitDelta(spark, split, Seq((41L, 40L)).toDF("doc_id", "cluster_id"),
        Seq.empty[(Long, Long)].toDF("cluster_id", "merged"), maxLiveSegments = 2)
      val m2 = VersionedIndex.metaOrThrow(split)
      assert(m2.segs == Vector(2L) && m2.totalRows == 6 && m2.trainedRows == 6,
        s"after the fold: $m2")
      val effective = pinsBefore.groupBy(_._1).values.map(_.minBy(p => (p._3, p._4))).toSet
      assert(segment(split, "pins", 2)
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet ==
        effective, "the folded pins segment is the min-(seq, pin_src) row per cluster")
      val pin40 = effective.find(_._1 == 40L).get._2
      assert(segment(split, "splits", 2)
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
        splitsBefore + ((41L, pin40, 2L)),
        "the folded splits segment is the committed log plus the batch")

      // an index store: an append encodes only the batch and keeps the
      // drift baseline, a retrain writes the whole corpus and resets it
      val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
      val pq = s"$root/pq"
      Similarity.buildPqIndex(emb.filter($"vec_id" < 100), pq)
      assert(!Similarity.appendToPqIndex(emb.filter($"vec_id" < 110),
        emb.filter($"vec_id" >= 100 && $"vec_id" < 110), pq))
      val p1 = VersionedIndex.metaOrThrow(pq)
      assert(p1.segs == Vector(0L, 1L) && p1.trainedRows == 100 &&
        p1.totalRows == 110, s"after the append: $p1")
      assert(segment(pq, "codes", 1).length == 10)
      assert(Similarity.appendToPqIndex(emb, emb.filter($"vec_id" >= 110), pq))
      val p2 = VersionedIndex.metaOrThrow(pq)
      val n = emb.count()
      assert(p2.segs == Vector(2L) && p2.trainedRows == n && p2.totalRows == n,
        s"after the retrain: $p2")
      assert(segment(pq, "codes", 2).length == n)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
