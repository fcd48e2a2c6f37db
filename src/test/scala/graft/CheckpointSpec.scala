package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, IncrementalDedup, Similarity}

/** The CheckpointPolicy knob: every load-bearing lineage pin routes
  * through [[Checkpoints.pin]], so a deployment can move the pins from
  * executor block-manager storage (Local, the default) to shared
  * storage (Reliable) without touching operator code — and without
  * changing any result. */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val sf = "/root/testdata/sf0.001"

  test("pin truncates lineage under both policies") {
    val df = graft.engine.Tables.documents(spark, sf)
      .groupBy(length(col("text")).as("len")).count()
    def isRddScan(p: org.apache.spark.sql.DataFrame): Boolean =
      p.queryExecution.analyzed.collectLeaves().forall(
        _.getClass.getSimpleName.startsWith("LogicalRDD"))
    assert(!isRddScan(df), "un-pinned plan should keep its full lineage")
    assert(isRddScan(Checkpoints.pin(df)), "Local pin must truncate lineage")
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    Checkpoints.withPolicy(CheckpointPolicy.Reliable(dir)) {
      val pinned = Checkpoints.pin(df)
      assert(isRddScan(pinned), "Reliable pin must truncate lineage")
      assert(pinned.collect().toSeq == df.collect().toSeq)
    }
    // the reliable pin really landed on the shared dir
    import scala.jdk.CollectionConverters._
    val files = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(dir), null, true).asScala
    assert(files.nonEmpty, s"no checkpoint files under $dir")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("alternating Reliable dirs land pins in the CURRENT policy dir; free() removes files") {
    import scala.jdk.CollectionConverters._
    def filesUnder(dir: String): Seq[java.io.File] =
      if (!new java.io.File(dir).isDirectory) Seq.empty
      else org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(dir), null, true).asScala.toSeq
    val df = graft.engine.Tables.documents(spark, sf).select(col("doc_id"))
    val dirA = java.nio.file.Files.createTempDirectory("ckptA").toString
    val dirB = java.nio.file.Files.createTempDirectory("ckptB").toString
    val pinA1 = Checkpoints.withPolicy(CheckpointPolicy.Reliable(dirA))(
      Checkpoints.pin(df))
    assert(filesUnder(dirA).nonEmpty, "first pin must land under dir A")
    Checkpoints.withPolicy(CheckpointPolicy.Reliable(dirB))(
      Checkpoints.pin(df))
    val aCount = filesUnder(dirA).size
    assert(filesUnder(dirB).nonEmpty, "pin under dir B must land under dir B")
    // returning to a PREVIOUSLY-USED dir must re-set the context's
    // checkpoint dir, not serve the stale one (the seen-it-ever bug)
    Checkpoints.withPolicy(CheckpointPolicy.Reliable(dirA))(
      Checkpoints.pin(df))
    assert(filesUnder(dirA).size > aCount,
      "re-entering policy Reliable(dirA) must checkpoint under dir A again")
    // free() deletes a reliable pin's files (cleanCheckpoints is off by
    // default in Spark — without free they accumulate per pinned batch)
    val before = filesUnder(dirA).size
    Checkpoints.free(pinA1)
    assert(filesUnder(dirA).size < before,
      "free() must remove the reliable pin's checkpoint files")
    Seq(dirA, dirB).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("distributed component fixpoint frees its round pins under Reliable") {
    // Under Reliable, Spark never auto-cleans checkpoint files
    // (cleanCheckpoints defaults to false) — the fixpoint loop must free
    // each superseded round's pin itself, or every clustering call leaks
    // one directory per round on shared storage for the app's lifetime.
    import scala.jdk.CollectionConverters._
    val spark0 = spark
    import spark0.implicits._
    // a 12-node chain forces several large/small-star rounds
    val edges = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("ckpt_cc").toString
    val result = Checkpoints.withPolicy(CheckpointPolicy.Reliable(dir))(
      graft.operators.Components.connectedComponents(edges, driverThreshold = 0))
    assert(result.collect().forall(_.getLong(1) == 0L), "one chain component")
    def ckptFiles(): Seq[java.io.File] = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(dir), null, true).asScala.toSeq
    // only the returned (pinned) labels may still hold files...
    val held = ckptFiles()
    assert(held.map(_.getParentFile.getName).distinct.size <= 1,
      s"fixpoint leaked round pins: ${held.map(_.getParent).distinct}")
    // ...and freeing the result leaves the shared dir empty of data files
    Checkpoints.free(result)
    assert(ckptFiles().isEmpty,
      s"free(result) must clear the last checkpoint: ${ckptFiles()}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("streaming dedup chain is policy-invariant (per-batch pin + release under Reliable)") {
    // the q54 chain pins EVERY micro-batch via Checkpoints.pin and
    // releases the admission delta after each durable commit — under
    // Reliable that now includes deleting checkpoint FILES, so this
    // end-to-end run proves a released pin is never read again and the
    // chain's result is substrate-independent
    val local = graft.streaming.DedupStream.qChainBucketed(spark, sf)
      .collect().map(_.toString).toSeq.sorted
    val dir = java.nio.file.Files.createTempDirectory("ckpt_chain").toString
    val reliable = Checkpoints.withPolicy(CheckpointPolicy.Reliable(dir))(
      graft.streaming.DedupStream.qChainBucketed(spark, sf)
        .collect().map(_.toString).toSeq.sorted)
    assert(local == reliable,
      "chain results must be identical under Local and Reliable policies")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("clustering + incremental admission + ANN recall are policy-invariant") {
    val docs = graft.engine.Tables.documents(spark, sf)
    // exercises the fixpoint pins (Components), the verified-edge pin
    // (Dedup.duplicateClusters), the admission pins (IncrementalDedup
    // setsPin / pinFrontierRows / comp), and the ground-truth pin
    // (Similarity.annRecallAll) — the sites the policy threads through
    def run(): (Seq[String], Seq[String], Seq[String]) = {
      Dedup.clearShingleCaches()
      val clusters = Dedup.qDupClusters(spark, sf)
        .collect().map(_.toString).toSeq.sorted
      val st0 = IncrementalDedup.initialState(
        docs.filter(col("doc_id") % 5 =!= 0))
      val st1 = IncrementalDedup.admitBatch(st0,
        docs.filter(col("doc_id") % 5 === 0))
      val admitted = IncrementalDedup.labelsWithSizes(st1)
        .orderBy("doc_id").collect().map(_.toString).toSeq
      val recall = Similarity.annRecallAll(spark, sf)
        .orderBy("method", "query_id").collect().map(_.toString).toSeq
      (clusters, admitted, recall)
    }
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("ckpt_pol").toString
    val reliable =
      Checkpoints.withPolicy(CheckpointPolicy.Reliable(dir))(run())
    assert(local == reliable,
      "results must be identical under Local and Reliable policies")
    Dedup.clearShingleCaches()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
