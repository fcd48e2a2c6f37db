package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.streaming.Trigger
import graft.operators.VersionedIndex

/** The streaming admission driver behind [[DedupStream.admitNewDrops]]
  * and [[EmbedStream.admitNewDrops]]: every not-yet-seen parquet drop
  * under a watched path is admitted into a persisted store exactly once
  * — the streaming checkpoint is the bookmark for new files (like
  * [[graft.sources.Ingest.processNewFiles]]) — and the run blocks until
  * `Trigger.AvailableNow` drains ("process everything new, then stop",
  * the scheduled-job shape). `maxFilesPerBatch` caps files per
  * micro-batch, so ONE stream run replays several day drops as separate
  * admissions and pays the stream setup once. */
private[streaming] object AdmitStream {

  /** Each micro-batch passes, in order:
    *
    *   - the replay guard: foreachBatch is at-least-once — a crash
    *     between the store's commit and the streaming checkpoint's own
    *     commit redelivers the batch on restart. The store's manifest
    *     records (checkpoint identity, batch id) atomically with the
    *     commit (the Delta txnAppId/txnVersion recipe,
    *     [[graft.Par.ckptIdentity]]), so a redelivery is skipped instead
    *     of double-admitted, while a FRESH checkpoint's restarted ids are
    *     not mistaken for one ([[VersionedIndex.admitted]]);
    *   - the pin: foreachBatch hands a streaming-backed DataFrame and the
    *     admission builds an iterative multi-action plan over it, so the
    *     batch is pinned to a stable local copy first;
    *   - the decontamination gate, when `flag` is set, ahead of every
    *     state read or write: `flag` maps the batch to the `idCol` ids it
    *     flags against the caller's probe set; flagged rows land under
    *     `quarantineDir/batch=$id` (full rows — the audit trail) and the
    *     admission sees only the clean subset. The flagged set is pinned
    *     once (its lineage would otherwise recompute for the quarantine
    *     write AND the anti join), the clean subset is pinned again (the
    *     admission probes it several times), and a clean batch writes no
    *     quarantine dir. The per-batch `mode(overwrite)` keeps a crash
    *     redelivery idempotent;
    *   - `admit(batch, (checkpoint identity, batch id))` on a non-empty
    *     batch, which commits with that pair as its replay guard.
    *
    * The pinned copies are freed after each batch. */
  def run(spark: SparkSession, path: String, schemaDdl: String,
      stateDir: String, checkpointDir: String, maxFilesPerBatch: Option[Int],
      idCol: String, flag: Option[DataFrame => DataFrame],
      quarantineDir: Option[String])(
      admit: (DataFrame, (String, Long)) => Unit): Unit = {
    require(flag.isEmpty || quarantineDir.isDefined,
      "deconProbe needs a quarantineDir for the flagged rows")
    val reader = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
    maxFilesPerBatch.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(path).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stream = (graft.Par.ckptIdentity(checkpointDir), batchId)
        val already = VersionedIndex.admitted(stateDir, stream)
        val rawPinned = graft.Checkpoints.pin(batch)
        val pinned = flag match {
          case Some(f) if !already && !rawPinned.isEmpty =>
            val flagged = graft.Checkpoints.pin(
              f(rawPinned).select(col(idCol)).distinct())
            val clean =
              if (flagged.isEmpty) rawPinned
              else {
                rawPinned.join(broadcast(flagged), Seq(idCol))
                  .write.mode("overwrite")
                  .parquet(s"${quarantineDir.get}/batch=$batchId")
                graft.Checkpoints.pin(
                  rawPinned.join(broadcast(flagged), Seq(idCol), "left_anti"))
              }
            graft.Checkpoints.free(flagged)
            clean
          case _ => rawPinned
        }
        if (!already && !pinned.isEmpty) admit(pinned, stream)
        graft.Checkpoints.free(pinned)
        if (!(pinned eq rawPinned)) graft.Checkpoints.free(rawPinned)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }
}
