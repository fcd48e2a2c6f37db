package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.EmbeddingIncremental

/** Structured-Streaming wiring for the persisted EMBEDDING dedup state
  * ([[graft.operators.EmbeddingIncremental]]) — the vector analog of
  * [[DedupStream.admitNewDrops]]: each parquet drop of
  * (vec_id, embedding) rows under a watched path is admitted against
  * the store exactly once — the streaming checkpoint is the bookmark
  * for new files (like `Ingest.processNewFiles`), and the store
  * manifest records the admitting micro-batch id so a batch
  * crash-redelivered by foreachBatch's at-least-once contract is
  * skipped, not double-admitted — batch 0 bootstrapping with
  * `initialState`/`saveState` and later batches taking the LSM
  * `admitDrop` path (O(batch + merges) state writes, log folds on
  * cadence).
  *
  * Same execution model as the text chain: `Trigger.AvailableNow`
  * reproduces "process everything new, then stop" (the scheduled-job
  * shape), and `maxFilesPerBatch` lets ONE stream run replay several
  * day drops as separate admissions — stream setup is paid once. */
object EmbedStream {

  /** Admit every not-yet-seen parquet drop under `vecsPath` into the
    * embedding-dedup state at `stateDir`, blocking until the
    * AvailableNow run drains. Day-directory drops (`drops/day=0/`…)
    * need the glob `drops/day=*` — the file source does not recurse.
    *
    * @param deconProbe optional benchmark/eval vector set (vec_id,
    *   embedding): when set, every micro-batch passes the STREAMING
    *   DECONTAMINATION GATE before touching persisted state — the
    *   vector analog of [[DedupStream.admitNewDrops]]'s text gate
    *   (closing the r19 verdict's gap #3: a contaminated embedding
    *   drop no longer enters the vector store unexamined). The kernel
    *   is the exact cosine against the BROADCAST probe (benchmark-
    *   sized — the batch never shuffles; the codegen'd
    *   [[graft.functions.CosineSimilarity]], q16's verify numerics):
    *   batch vectors with cosine ≥ `deconTheta` to ANY probe vector
    *   are quarantined under `quarantineDir/batch=$id` (full rows) and
    *   EXCLUDED from the admission. Zero-norm rows never flag (NaN ≥ θ
    *   is false — the q81 convention). An all-contaminated drop
    *   commits nothing; the per-batch overwrite keeps crash
    *   redelivery idempotent.
    * @param quarantineDir where flagged rows land (required with
    *   deconProbe).
    * @param deconTheta gate threshold (default = the near-dup θ). */
  def admitNewDrops(spark: SparkSession, vecsPath: String, stateDir: String,
      checkpointDir: String, threshold: Double = 0.45,
      maxLiveSegments: Int = 16,
      maxFilesPerBatch: Option[Int] = None,
      deconProbe: Option[DataFrame] = None,
      quarantineDir: Option[String] = None,
      deconTheta: Double = 0.45): Unit = {
    require(deconProbe.isEmpty || quarantineDir.isDefined,
      "deconProbe needs a quarantineDir for the flagged rows")
    val reader = spark.readStream.schema(
      org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>"))
    maxFilesPerBatch.foreach(n => reader.option("maxFilesPerTrigger", n))
    val drops = reader.parquet(vecsPath)
    val q = drops.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // replay guard: foreachBatch is at-least-once — a crash between
        // the store's commit and the STREAMING checkpoint's own commit
        // redelivers this batch on restart, and re-admitting rows whose
        // vec_ids the state already holds would silently violate the
        // new-ids precondition (self-pairs, duplicate labels). The
        // store's manifest records (checkpoint identity, batch id)
        // atomically with the commit — the Delta txnAppId/txnVersion
        // recipe ([[graft.Par.ckptIdentity]]): a redelivered id under
        // the SAME checkpoint is skipped; a fresh checkpoint (ids
        // restart at 0) is not mistaken for a replay.
        val ckptId = graft.Par.ckptIdentity(checkpointDir)
        val already = graft.operators.VersionedIndex.meta(stateDir).exists(m =>
          m.streamCkptId.contains(ckptId) &&
            m.streamBatchId.exists(_ >= batchId))
        // foreachBatch hands a streaming-backed DataFrame; the
        // admission builds an iterative multi-action plan over it, so
        // pin a stable local copy first and release it once the commit
        // is durable
        val rawPinned = graft.Checkpoints.pin(batch)
        // the vector decon gate, ahead of every state read/write
        // (flagged set pinned once; no quarantine dir for clean
        // batches — the DedupStream gate's r19-advice shape)
        val pinned = deconProbe match {
          case Some(probe) if !already && !rawPinned.isEmpty =>
            val p = probe.select(col("vec_id").as("probe_id"),
              col("embedding").as("pvec"))
            val flagged = graft.Checkpoints.pin(
              rawPinned.crossJoin(broadcast(p))
                .filter(graft.functions.VectorFns.cosineSim(
                  col("embedding"), col("pvec")) >= deconTheta)
                .select(col("vec_id")).distinct())
            val clean =
              if (flagged.isEmpty) rawPinned
              else {
                rawPinned.join(broadcast(flagged), Seq("vec_id"))
                  .write.mode("overwrite")
                  .parquet(s"${quarantineDir.get}/batch=$batchId")
                graft.Checkpoints.pin(
                  rawPinned.join(broadcast(flagged), Seq("vec_id"),
                    "left_anti"))
              }
            graft.Checkpoints.free(flagged)
            clean
          case _ => rawPinned
        }
        if (!already && !pinned.isEmpty) {
          if (graft.operators.VersionedIndex.currentVersion(stateDir).isEmpty)
            // bootstrapDrop ≡ saveState(initialState(...)) with the
            // bucket-log write overlapping the cluster fixpoint
            EmbeddingIncremental.bootstrapDrop(
              spark, stateDir, pinned, threshold,
              streamBatchId = Some(batchId),
              streamCkptId = Some(ckptId))
          else
            EmbeddingIncremental.admitDrop(
              spark, stateDir, pinned, threshold, maxLiveSegments,
              streamBatchId = Some(batchId),
              streamCkptId = Some(ckptId))
        }
        graft.Checkpoints.free(pinned)
        if (!(pinned eq rawPinned)) graft.Checkpoints.free(rawPinned)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  // ---- SparkEntry wiring -------------------------------------------------

  /** Subset cap for q63: bounds the closure oracle and the bench slot
    * while leaving enough vectors for real merges at every SF. */
  val ChainSubsetMax = 2000L

  /** q63: the PRODUCTION embedding-dedup path — two daily vector
    * drops streamed through the persisted LSM store at
    * maxLiveSegments=1, so the day-2 commit FOLDS the grown logs,
    * resets the composed remap into the rewritten label base, and
    * publishes a real MANIFEST — oracle-checked against a from-scratch
    * closure clustering of the same subset, which the chain must equal
    * by the admission algebra
    * ([[graft.operators.EmbeddingIncremental]]). q62 covers the
    * in-memory admission; this covers the storage layout, commit
    * protocol, fold, and streaming bookmark end-to-end in the driver's
    * correctness gate — the vector-side q54. The append/remap-compose
    * commit path and multi-generation cadence are pinned by
    * EmbeddingIncrementalSpec and the 60-day chain probe
    * (`bench/EMBCHAIN_r14_sf01_60day.txt`); two drops keep the gate
    * query's bench slot to the chain's fixed cost (admissions here are
    * ~15 small sequential jobs — overhead-bound at ANY subset size,
    * which is why shrinking the subset does not shrink the slot). Both
    * drops are staged with ONE partitioned write and replayed through
    * ONE AvailableNow run at maxFilesPerBatch=1: two separate
    * micro-batch admissions, one stream setup. */
  def qEmbedChain(s: SparkSession, d: String): DataFrame = {
    val vecs = graft.engine.Tables.embeddings(s, d)
      .filter(col("vec_id") < ChainSubsetMax)
    val root = java.nio.file.Files.createTempDirectory("graft-q63").toString
    vecs.withColumn("day", pmod(col("vec_id"), lit(2)))
      .repartition(2, col("day"))
      .write.partitionBy("day").parquet(s"$root/vecs")
    admitNewDrops(s, s"$root/vecs/day=*", s"$root/state", s"$root/ckpt",
      maxLiveSegments = 1, maxFilesPerBatch = Some(1))
    // pin rows before the state dir is deleted (the caller writes the
    // result AFTER this returns; a lazy scan would read deleted files)
    val out = graft.Checkpoints.pin(
      EmbeddingIncremental.labelsWithSizes(
        EmbeddingIncremental.loadState(s, s"$root/state").get)
      .orderBy("vec_id"))
    try org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
    catch { case _: Exception => }
    out
  }

  /** Chain ≡ batch: q61's closure clustering, source-parameterized to
    * the capped subset. */
  val qEmbedChainSql: String =
    graft.operators.Dedup.qEmbedClustersSqlFrom(
      s"SELECT * FROM embeddings WHERE vec_id < $ChainSubsetMax")
}
