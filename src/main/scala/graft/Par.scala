package graft

/** Shared concurrency helpers for the persisted-state commit
  * paths (text [[graft.streaming.DedupStream]] and embedding
  * [[graft.operators.EmbeddingIncremental]] /
  * [[graft.streaming.EmbedStream]] sides — one definition, no drift). */
private[graft] object Par {

  /** Run independent Spark actions as concurrent jobs (one commit's
    * segment/tier writes touch disjoint paths and share no lineage
    * beyond already-pinned blocks) — wall time is the slowest task, not
    * the sum — and return their results in order. AWAITS EVERY task
    * before propagating the first failure: returning on first error
    * would leave sibling writers running in the background, and a
    * same-process retry of the commit would then race those zombies on
    * the very seg paths it overwrites. */
  def inParallel[A](tasks: (() => A)*): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.Try
    Await.result(Future.sequence(tasks.map(tk => Future(Try(tk())))),
      Duration.Inf).map(_.get)
  }

  /** Start `task` as a concurrent Spark-action thread, run `body`, and
    * ALWAYS await `task` before returning or rethrowing — for a commit
    * write whose inputs are ready before the rest of the admission's
    * work, so the write overlaps that work instead of queueing behind
    * it, and no failure leaves it running as a zombie that a retry's
    * overwrite of the same segment would race (the [[inParallel]]
    * contract). A failing `body` wins; the task's own failure is then
    * attached to it as suppressed. */
  def overlap[A, B](task: => A)(body: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.Try
    val fut = Future(Try(task))
    val b = try body catch { case e: Throwable =>
      Try(Await.result(fut, Duration.Inf)).flatten.failed
        .foreach(e.addSuppressed)
      throw e
    }
    (Await.result(fut, Duration.Inf).get, b)
  }

  /** Stable identity of a streaming checkpoint LINEAGE, recorded in
    * state manifests next to the admitting micro-batch id. Batch ids
    * are monotonic only WITHIN one lineage — a fresh checkpoint
    * restarts at 0, and a bare id comparison would then skip
    * legitimate new batches — so the replay guard requires BOTH the id
    * and this identity to match (the Delta txnAppId/txnVersion
    * recipe). The identity is the streaming QUERY ID Spark persists in
    * `<ckpt>/metadata` at query start (stable across restarts, and
    * across a checkpoint image restored to a different path — the
    * crash-recovery case the guard exists for); the path itself is the
    * fallback for a not-yet-initialized checkpoint. Returned VERBATIM,
    * not hashed: the manifest is free-form JSON, and a compressed hash
    * (a 32-bit value colliding between a fresh lineage and the recorded
    * one) would silently skip legitimate new batches. */
  def ckptIdentity(checkpointDir: String): String = {
    val meta = new java.io.File(checkpointDir, "metadata")
    (if (meta.isFile)
      """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(
        java.nio.file.Files.readString(meta.toPath)).map(_.group(1))
    else None)
      .getOrElse(new java.io.File(checkpointDir).getAbsolutePath)
  }

  /** Run `f` with adaptive query execution OFF — for the daily-admission
    * paths, whose relations are frontier/batch-sized BY CONSTRUCTION
    * (bounded takes, pinned batches, touched-bucket reads). AQE's
    * runtime re-planning buys nothing at that size and materializes
    * every exchange as its own Spark job: measured ~7 pure scheduling
    * jobs per admission day on the text chain (23 → 16 jobs/day, equal
    * or better wall). Corpus-sized work (bootstrap clustering feeds,
    * analytic queries) keeps AQE — only the admission commit scope is
    * static. Session-scoped set/restore: admissions are sequential by
    * the single-writer store contract, and an admission's own
    * overlapped writes are awaited inside the scope ([[overlap]]). */
  def withStaticPlan[A](spark: org.apache.spark.sql.SparkSession)(f: => A): A = {
    val k = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(k, "true")
    spark.conf.set(k, "false")
    try f finally spark.conf.set(k, prev)
  }

  /** Estimated decompressed bytes of parquet-backed plan stats — the
    * stats carry on-disk (column-compressed) sizes, while shuffle
    * partition sizing reasons about in-flight bytes. 4× is the
    * conventional parquet decompression allowance; overshooting only
    * costs a few extra (cheap) partitions. */
  private val ScanDecompressionFactor = 4L

  /** [[withStaticPlan]] plus BATCH-DERIVED shuffle parallelism — the
    * admission scopes' replacement for AQE partition coalescing (which
    * the static-plan measurement rules out: every AQE exchange is its
    * own scheduling job). The admission's shuffled relations are all
    * O(batch) by construction (the batch's bands/windows/assignments
    * and the state rows pruned down to them), so the right partition
    * count is a function of the BATCH's size, not the session constant:
    * a trickle batch on a 32-core box (or a 10k-partition fleet
    * session) should not fan KB-sized exchanges into full-width task
    * waves, and a 100 GB deployment batch should not be squeezed into
    * the local core count. partitions = clamp(ceil(batchBytes × 4 /
    * advisoryPartitionSize), 1, session shuffle.partitions) — the same
    * sizing rule AQE's coalescer applies post-shuffle, decided pre-hoc
    * from plan stats (zero jobs; an unknown/absurd estimate clamps to
    * the session value, i.e. degrades to the previous behavior).
    * Results are partitioning-invariant (joins/aggregations/distinct);
    * only task counts change. */
  def withAdmitPlan[A](spark: org.apache.spark.sql.SparkSession,
      batches: org.apache.spark.sql.DataFrame*)(f: => A): A = {
    val kP = "spark.sql.shuffle.partitions"
    val prevP = spark.conf.get(kP)
    val target = admitShufflePartitions(spark, batches,
      prevP.toLong)
    spark.conf.set(kP, target.toString)
    try withStaticPlan(spark)(f) finally spark.conf.set(kP, prevP)
  }

  private[graft] def admitShufflePartitions(
      spark: org.apache.spark.sql.SparkSession,
      batches: Seq[org.apache.spark.sql.DataFrame], cap: Long): Long = {
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"))
    // stats.sizeInBytes is BigInt: an unsized leaf reports Long.MaxValue
    // and a Long sum of those would overflow into a NEGATIVE clamp
    val bytes = batches.map(b =>
      b.queryExecution.optimizedPlan.stats.sizeInBytes *
        ScanDecompressionFactor).sum
    val want = (bytes + advisory - 1) / advisory
    want.min(BigInt(cap)).max(BigInt(1)).toLong
  }

  /** Minimal JSON string escaping for manifest fields ([[ckptIdentity]]
    * values are UUIDs or filesystem paths — backslash and quote are the
    * only characters that can break the manifest's hand-rolled JSON). */
  def jsonEscape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  def jsonUnescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")
}
