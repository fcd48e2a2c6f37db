package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{AdmitDelta, DedupState, IncrementalDedup}

/** Streaming admission for the incremental dedup state — the reference's
  * daily-drop topology (landing zone → bookmark-incremental processing)
  * applied to near-duplicate clustering: each micro-batch of newly
  * landed documents is admitted against the PERSISTED [[DedupState]]
  * with [[IncrementalDedup.admitBatchDelta]], never re-reading old text.
  *
  * State lives as four parquet relations under `stateDir`, promoted by
  * a pointer file — the same atomic-swap shape a Delta/Iceberg table
  * commit provides, kept here to plain parquet + one rename so the
  * engine stays dependency-free. Readers (and the next batch) always
  * load the last COMMITTED version; a crash mid-write leaves garbage
  * uncommitted files and an intact previous version.
  *
  * `bands`/`shingles` exploit being APPEND-ONLY: a two-tier log (LSM in
  * miniature) of RECENT day segments (`bands/seg$i`, batch-sized). Once
  * [[MaxLiveSegments]] segments have accumulated — or an OVERSIZED
  * segment (a backfill day, k× its cohort's median bytes) is live, see
  * [[foldPlan]]'s mass trigger — the next commit folds them,
  * concurrently with its own writes, since the fold never touches
  * the segment being committed, into a BUCKETED BASE
  * (`bands/base/cpart=$j/bucket=$k/`, sorted by key within bucket) that
  * makes the daily probe a partition-pruned scan
  * ([[IncrementalDedup.prunedBands]]; plan-asserted in DedupStreamSpec).
  * The BOOTSTRAP snapshot (the one corpus-sized "segment") is written
  * pre-folded into `cpart=0` by the first commit, so no probe ever
  * scans it unpruned.
  *
  * `labels`/`sizes` — the two relations admission MUTATES — are
  * copy-on-write per cluster-id bucket: bucket k's rows live at
  * `labels/b$k/v$N` where N is the last commit that touched the bucket,
  * and the committed MANIFEST's `owners` array maps bucket → owning
  * version. A commit rewrites ONLY the buckets its frontier touches
  * (remapped cluster ids ∪ merged labels ∪ the batch's cluster ids —
  * O(batch) buckets), so per-day labels/sizes write bytes are
  * O(batch + touched-bucket rows), not O(corpus); untouched buckets'
  * files are not opened, not rewritten, bit-identical across versions.
  * Loading is ONE multi-root parquet scan over the owned bucket dirs —
  * plan size constant in both the day index and the version count. A
  * touched bucket whose rows all migrate elsewhere commits an EMPTY
  * marker dir (zero files), so a referenced dir that is ABSENT is loud
  * lost-state, same contract as the base compactions.
  *
  * Each version's `MANIFEST` (written before the pointer moves) records
  * compactions, live-segment range, bucket count, and the labels/sizes
  * owner array. Crash-safety: half-written segments/compactions/bucket
  * versions sit above the committed pointer or outside the committed
  * owners and are never listed; the retried commit overwrites them.
  * Retention keeps the current + previous version of everything (bucket
  * versions referenced by either manifest survive; in-flight readers of
  * the prior commit stay valid) and deletes the rest, so disk stays
  * O(corpus + 2·touched), not O(days · corpus).
  */
object DedupStream {

  /** Bucket count of the persisted layout (bands/shingles base AND
    * labels/sizes copy-on-write dirs), fixed at the state's first
    * commit. 32 keeps test states from exploding into thousands of
    * files; a 100 TB deployment sizes this so one bucket ≈ a few
    * HDFS-block-sized files (e.g. 4096). */
  val StateBuckets = 32

  /** Fold the live segments into the bucketed base once this many have
    * accumulated; also the bound on segments a daily probe reads. */
  val MaxLiveSegments = 4

  /** Base compactions a fold may leave behind before it goes MAJOR —
    * folding every live cpart along with the segments into one new
    * compaction. Without this the base accumulates one cpart per
    * [[MaxLiveSegments]] commits forever (the 100-day probe's read
    * column: k=4 reads 3× k=16's bytes by day 99 purely from cpart
    * count — at deployment, years × buckets of files per probe
    * listing). A major fold is O(live base) I/O amortized over
    * MaxLiveSegments × MaxBaseCompactions commits — the classic LSM
    * major compaction — and bounds every probe's base at
    * MaxBaseCompactions × buckets files. */
  val MaxBaseCompactions = 8

  /** Auto bucket-migration policy — bucket sizing as a POLICY, not a
    * manual knob (r16's probe proved probe reads scale with
    * touched/total buckets and flatten when batch keys ≪ bucket count,
    * but [[migrateBuckets]] had no trigger). A commit migrates the
    * layout to [[AutoMigrateGrowth]]× the current bucket count when
    * the live base's average bytes per bucket — measured PER TABLE,
    * on the heavier of bands/shingles — exceed `bucketBytesTarget`:
    * the layout's own sizing rule ("one bucket ≈ a few block-sized
    * files", a statement about each probed table's files; default
    * 256 MiB) made enforceable. Mass
    * is monotone, so no streak logic: as the corpus grows 4×, one
    * amortized O(corpus) migration re-establishes bounded per-bucket
    * probe reads, exactly like a major fold. The check is one manifest
    * read + two driver-side directory sizings — zero Spark jobs.
    *
    * A BATCH-SATURATION trigger (migrate when batch keys ≥ buckets for
    * M consecutive commits) was implemented first and MEASURED OUT
    * (`bench/CHAINPROBE_r17_automig.txt`, and the sf10 chain stamps in
    * `bench/BENCH_DETAIL_r17_sf10.json`): a batch that saturates the
    * grid saturates it at 4× the buckets too — touched/total stays ~1,
    * so the probe prunes nothing either way — while the commit pays ×4
    * the files, tasks, and renames every day after (sf10 chain: the
    * migration day wrote 306 MB vs 138, then 38 jobs/day vs 29 and
    * ~+30% wall FOREVER). Saturation is precisely the regime where
    * migration cannot pay; per-bucket MASS is the one that can (the
    * trickle-regime probes P and M, where touched ≪ total, measure the
    * win directly).
    *
    * The migration itself runs AFTER the commit promotes (outside the
    * admission's static-plan scope — it is corpus-sized work and wants
    * AQE), is atomic like any commit, records `migratedFrom` in its
    * manifest, and carries the streaming replay guard forward. Growth
    * is geometric (×4), capped at [[AutoMigrateMaxBuckets]] so a
    * corrupt size reading cannot explode the layout.
    *
    * FLOOR: a migration is BLOCKED when it would land the base below
    * [[AutoMigrateMinBucketBytes]] per bucket — the other half of the
    * sizing rule. Below the parquet footer-floor crossover every
    * touched bucket costs a fixed per-file overhead, so more buckets
    * mean MORE read until buckets hold real mass (measured: a probe
    * chain migrated to ~5 KiB buckets read 2.2× the bytes and 7× the
    * wall of its unmigrated control). */
  val AutoMigrateGrowth = 4
  val AutoMigrateMaxBuckets = 65536
  val AutoMigrateBucketBytes: Long = 256L * 1024 * 1024

  /** Minimum post-migration base bytes per bucket. MEASURED, not
    * guessed (bench/CHAINPROBE_r17_automig.txt): a 100-day bulk chain
    * migrated to 512 buckets at ~5 KiB/bucket read 2.2× MORE bytes and
    * 7× MORE wall per day than the unmigrated 32-bucket control —
    * below the parquet footer-floor crossover every touched bucket
    * costs a fixed file overhead, so MORE buckets means MORE read until
    * buckets hold real mass. 1 MiB sits safely above that crossover at
    * this row width; a production deployment raises it toward its
    * block size — the knob is a [[commitDelta]] parameter. */
  val AutoMigrateMinBucketBytes: Long = 1024L * 1024

  private val LabelsDdl = "doc_id BIGINT, cluster_id BIGINT"
  private val SizesDdl = "cluster_id BIGINT, cluster_size BIGINT"
  private val BandsDdl = "doc_id BIGINT, band BIGINT, band_hash STRING"
  private val ShinglesDdl = "doc_id BIGINT, sh ARRAY<STRING>"

  /** Every state read declares its schema — the layouts above are fixed
    * by this file's own writers, so footer-based inference would spend a
    * driver file-read (and at 4096 buckets, a listing job) per relation
    * per admission purely to rediscover a known shape. */
  private def readPq(spark: SparkSession, ddl: String,
      paths: Seq[String], basePath: Option[String] = None): DataFrame = {
    val r = spark.read.schema(
      org.apache.spark.sql.types.StructType.fromDDL(ddl))
    basePath.foreach(p => r.option("basePath", p))
    r.parquet(paths: _*)
  }

  private def inParallel(tasks: (() => Unit)*): Unit =
    graft.Par.inParallel(tasks: _*)

  private def versionOf(stateDir: String): Option[Long] = {
    val f = new java.io.File(stateDir, "CURRENT")
    if (f.isFile) Some(java.nio.file.Files.readString(f.toPath).trim.toLong)
    else None
  }

  /** Committed-version metadata. The base holds compactions
    * [cFrom, compactions); cFrom is 0 until a re-bucketing migration
    * supersedes the older compactions. `owners(k)` is the version whose
    * commit last wrote labels/sizes bucket k; None on manifests from
    * before the copy-on-write layout (labels/sizes then live whole at
    * `v$N/`). */
  private final case class Manifest(compactions: Int, cFrom: Int,
      segFrom: Long, buckets: Int, owners: Option[Vector[Long]],
      streamBatchId: Option[Long] = None,
      streamCkptId: Option[String] = None,
      migratedFrom: Option[Int] = None)

  /** Versions committed before the bucketed layout have no MANIFEST —
    * they read as (0, 0, 0, 0, None): all segments live, no base,
    * unbucketed, legacy whole-relation labels/sizes. */
  private def manifestOf(stateDir: String, v: Long): Option[Manifest] = {
    val f = new java.io.File(stateDir, s"v$v/MANIFEST")
    if (!f.isFile) None
    else {
      val txt = java.nio.file.Files.readString(f.toPath).trim
      def num(k: String): Option[Long] =
        s""""$k":(\\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
      val owners = s""""owners":\\[([\\d,]*)\\]""".r.findFirstMatchIn(txt)
        .map(m => if (m.group(1).isEmpty) Vector.empty[Long]
                  else m.group(1).split(",").map(_.toLong).toVector)
      (num("compactions"), num("segFrom"), num("buckets")) match {
        case (Some(c), Some(fr), Some(b)) =>
          Some(Manifest(c.toInt, num("cFrom").getOrElse(0L).toInt, fr,
            b.toInt, owners, num("streamBatchId"),
            """"streamCkptId":"((?:[^"\\]|\\.)*)"""".r
              .findFirstMatchIn(txt)
              .map(m => graft.Par.jsonUnescape(m.group(1))),
            num("migratedFrom").map(_.toInt)))
        case _ => throw new IllegalStateException(
          s"unreadable state manifest v$v: $txt")
      }
    }
  }

  private def writeManifest(stateDir: String, v: Long, compactions: Int,
      cFrom: Int, segFrom: Long, buckets: Int, owners: Vector[Long],
      stream: Option[(String, Long)] = None,
      migratedFrom: Option[Int] = None): Unit = {
    val dir = java.nio.file.Paths.get(stateDir, s"v$v")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("MANIFEST"),
      s"""{"compactions":$compactions,"cFrom":$cFrom,"segFrom":$segFrom,""" +
        stream.map { case (ck, id) =>
          s""""streamCkptId":"${graft.Par.jsonEscape(ck)}","streamBatchId":$id,"""
        }.getOrElse("") +
        migratedFrom.map(b => s""""migratedFrom":$b,""").getOrElse("") +
        s""""buckets":$buckets,"owners":[${owners.mkString(",")}]}""")
  }

  private def isDir(p: String): Boolean = new java.io.File(p).isDirectory

  /** The store's driver-side protocol — CURRENT pointer, manifests,
    * atomic renames, [[foldPlan]]'s mass-trigger segment sizing,
    * [[retire]] — runs on `java.io.File`, i.e. the state dir MUST be a
    * driver-local filesystem path. On a remote URI those calls would
    * not fail loudly: `isDirectory` reads false, sizing reads 0, and
    * the store would silently behave as if empty (the mass trigger
    * never firing is the subtlest such degrade). Reject schemes at
    * every entry point instead; a port to object storage replaces this
    * guard and the File calls with one filesystem abstraction
    * (Hadoop's), not scattered fixes. `file:` URIs are NOT accepted:
    * the raw-path File calls here never strip the scheme, so even the
    * local scheme would resolve to a `./file:...` relative dir. */
  private def requireLocalFs(stateDir: String): Unit =
    require(!"^[A-Za-z][A-Za-z0-9+.-]*:".r.findFirstIn(stateDir).isDefined,
      s"stateDir must be a driver-local filesystem path, got '$stateDir' — " +
        "the state protocol (pointer swap, manifest, segment sizing) is " +
        "java.io.File-based and would silently read a remote URI as empty")

  /** A DataFrame whose every leaf is an in-memory LocalRelation (the
    * admission's pinned frontier) would otherwise be WRITTEN through
    * `leafNodeDefaultParallelism` tasks — 32 near-empty part files for a
    * few hundred rows, paid again by every later probe's listing.
    * Coalesce those to one task; distributed inputs pass through with
    * their own partitioning (a deployment-sized batch segment needs it). */
  private def oneTaskIfLocal(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val leaves = df.queryExecution.analyzed.collectLeaves()
    if (leaves.nonEmpty && leaves.forall(_.isInstanceOf[LocalRelation]))
      df.coalesce(1)
    else df
  }

  /** A compaction dir that actually holds bucket partitions (an empty
    * fold writes only _SUCCESS; listing it would fail schema inference). */
  private def hasBucketDirs(p: String): Boolean = {
    val d = new java.io.File(p)
    d.isDirectory && d.listFiles.exists(f =>
      f.isDirectory && f.getName.startsWith("bucket="))
  }

  /** A bucket-version dir with data files (an empty marker commits a
    * bare dir: the bucket is owned, has zero rows, and is NOT lost). */
  private def hasDataFiles(p: String): Boolean = {
    val d = new java.io.File(p)
    d.isDirectory && d.listFiles.exists(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  private def emptyDf(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** The copy-on-write relation (`labels` or `sizes`): one multi-root
    * scan over the owned bucket dirs — `only` restricts to a touched
    * subset (the commit-time pruned read). A referenced dir that does
    * not exist is lost committed state and fails loudly; empty marker
    * dirs contribute no files. */
  private def ownedRelation(spark: SparkSession, stateDir: String, t: String,
      owners: Vector[Long], only: Option[Set[Int]], ddl: String): DataFrame = {
    val paths = owners.zipWithIndex
      .filter { case (_, k) => only.forall(_.contains(k)) }
      .map { case (ver, k) =>
        val p = s"$stateDir/$t/b$k/v$ver"
        if (!isDir(p)) throw new IllegalStateException(
          s"committed state references $t/b$k/v$ver but it does not " +
            "exist — lost or deleted committed state")
        p
      }
      .filter(hasDataFiles)
    if (paths.isEmpty) emptyDf(spark, ddl)
    else readPq(spark, ddl, paths)
  }

  /** Load the last committed state, or None before the first commit.
    * `labels`/`sizes` come from the owner-mapped bucket dirs (or the
    * legacy `v$N/` whole relation when the manifest predates owners);
    * `bands`/`shingles` each come from two multi-root scans — the
    * committed compactions of the bucketed base (carrying the `bucket`
    * partition column for pruning) and the live segments (bucket
    * recomputed as a column so the union is uniform); uncommitted
    * garbage above CURRENT / outside the committed owners is never
    * listed. A state whose tiers are ALL legitimately empty
    * (empty-corpus commits) reads as an empty relation of the right
    * schema, not an error. */
  def loadState(spark: SparkSession, stateDir: String): Option[DedupState] = {
    requireLocalFs(stateDir)
    versionOf(stateDir).map { v =>
      val man = manifestOf(stateDir, v)
      val (c, cFrom, segFrom, b) = man
        .map(m => (m.compactions, m.cFrom, m.segFrom, m.buckets))
        .getOrElse((0, 0, 0L, 0))
      def log(t: String, bucketCol: Int => Column, emptyDdl: String) = {
        val segPaths = (segFrom to v).map(i => s"$stateDir/$t/seg$i")
          .filter(isDir)
        val basePaths = (cFrom until c).map { j =>
          val p = s"$stateDir/$t/base/cpart=$j"
          if (!isDir(p)) throw new IllegalStateException(
            s"committed state v$v references $t compaction cpart=$j " +
              s"but $p does not exist — lost or deleted committed state")
          p
        }.filter(hasBucketDirs)
        val segDf =
          if (segPaths.isEmpty) None
          else {
            val raw = readPq(spark, emptyDdl, segPaths)
            Some(if (b > 0) raw.withColumn("bucket", bucketCol(b)) else raw)
          }
        // basePath so the committed cpart roots read as one partitioned
        // tree (partition columns cpart, bucket); cpart is only commit
        // bookkeeping — drop it, keep bucket for probe-time pruning
        val baseDf =
          if (basePaths.isEmpty) None
          else Some(readPq(spark, emptyDdl + ", cpart INT, bucket INT",
            basePaths, basePath = Some(s"$stateDir/$t/base")).drop("cpart"))
        (baseDf.toSeq ++ segDf.toSeq).reduceOption(_ unionByName _)
          .getOrElse(emptyDf(spark, emptyDdl))
      }
      val (labels, sizes) = man.flatMap(_.owners) match {
        case Some(own) =>
          (ownedRelation(spark, stateDir, "labels", own, None, LabelsDdl),
            ownedRelation(spark, stateDir, "sizes", own, None, SizesDdl))
        case None => // legacy whole-relation layout
          (readPq(spark, LabelsDdl, Seq(s"$stateDir/v$v/labels")),
            readPq(spark, SizesDdl, Seq(s"$stateDir/v$v/sizes")))
      }
      DedupState(labels, sizes,
        log("bands",
          n => IncrementalDedup.bandBucket(col("band"), col("band_hash"), n),
          BandsDdl),
        log("shingles", n => IncrementalDedup.docBucket(col("doc_id"), n),
          ShinglesDdl),
        buckets = if (b > 0) Some(b) else None)
    }
  }

  /** Fold segments [from, to] of one log into compaction `cpart`,
    * partitioned by the probe key's bucket and sorted by the key within
    * each bucket (row groups arrive key-clustered for min/max pruning).
    * `repartition(bucket)` first so each bucket directory is written by
    * exactly one task — one file per bucket per fold. Write mode is
    * overwrite: a crashed fold's leftovers (never referenced by a
    * manifest) are wiped by the retry. */
  private def compactInto(df: DataFrame, path: String, bucketCol: Column,
      sortKey: Column, numBuckets: Int): Unit =
    df.withColumn("bucket", bucketCol)
      // task count bounded by the layout's bucket count, not the session
      // shuffle width — a fold over b buckets schedules b tasks
      .repartition(numBuckets, col("bucket"))
      .sortWithinPartitions(col("bucket"), sortKey)
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(path)

  /** One log's fold input → compaction `cpart=$c`: segments
    * [segFrom, segTo] and — when `major` — every live base cpart
    * [cFrom, c) too, so the new compaction SUPERSEDES them (the caller
    * advances the manifest's cFrom past the folded-in cparts, exactly
    * the [[migrateBuckets]] bookkeeping). Writes the cpart even when
    * every input is empty (a _SUCCESS-only marker): the manifest will
    * reference it, and a referenced-but-absent dir is the loud
    * lost-state signal, not a legal state. */
  private def compactLog(spark: SparkSession, stateDir: String, t: String,
      ddl: String, major: Boolean, cFrom: Int, c: Int, segFrom: Long,
      segTo: Long, bucketCol: Column, sortKey: Column,
      numBuckets: Int): Unit = {
    val segs = (segFrom to segTo).map(i => s"$stateDir/$t/seg$i").filter(isDir)
    val segDf = if (segs.isEmpty) None else Some(readPq(spark, ddl, segs))
    val baseDf =
      if (!major) None
      else {
        val paths = (cFrom until c).map { j =>
          val p = s"$stateDir/$t/base/cpart=$j"
          // same loud lost-state contract as loadState: a REFERENCED
          // cpart that no longer exists must abort the fold — folding
          // past it would advance cFrom and make the loss permanent
          // and silent (an existing-but-empty fold dir is legal and
          // contributes nothing)
          if (!isDir(p)) throw new IllegalStateException(
            s"major fold references $t compaction cpart=$j but $p does " +
              "not exist — lost or deleted committed state")
          p
        }.filter(hasBucketDirs)
        if (paths.isEmpty) None
        else Some(readPq(spark, ddl + ", cpart INT, bucket INT", paths,
          basePath = Some(s"$stateDir/$t/base")).drop("cpart").drop("bucket"))
      }
    compactInto(
      (segDf.toSeq ++ baseDf.toSeq).reduceOption(_ unionByName _)
        .getOrElse(emptyDf(spark, ddl)),
      s"$stateDir/$t/base/cpart=$c", bucketCol, sortKey, numBuckets)
  }

  /** Fold plan for one commit: once [[MaxLiveSegments]] segments have
    * accumulated BEFORE this commit, fold them — segments
    * [prevF, next-1], never the segment this commit is writing — into
    * the bucketed base (amortized O(batch)/day: every log row is
    * written exactly twice, once as a segment, once into a compaction).
    * Excluding the in-flight segment is what lets the caller run the
    * returned compaction task CONCURRENTLY with the commit's own
    * writes (every fold input already exists on disk), hiding the fold
    * behind the slower labels/sizes staged writes instead of paying it
    * serially; the current segment simply stays live one commit longer
    * (the probe's live-segment bound is unchanged: a reader of commit
    * N sees at most maxLiveSegments live segments).
    *
    * MASS TRIGGER (in addition to the count rule): live segments are
    * probed UNPRUNED (their bucket column is computed at read, so a
    * probe scans every live row — fine when segments are batch-sized,
    * the steady case the count rule bounds at k·batch). A segment k×
    * its cohort's median — a backfill day's bulk drop — would make
    * every probe until the count-rule fold pay its full mass, so it
    * folds at the NEXT commit instead (one driver-side listing of the
    * live segment sizes decides; an oversized segment is therefore
    * live for at most 2 commits). Equal-sized cohorts never trigger
    * early — the cadence stays exactly the count rule's, and the
    * probe's read bound is O(k·batch + touched base buckets) in both
    * regimes (measured: variants L and P of the committed
    * `bench/CHAINPROBE_r16_read.txt`).
    *
    * MAJOR FOLDS: once [[MaxBaseCompactions]] cparts are live, the
    * fold also folds them all into its new compaction and returns an
    * advanced cFrom — see [[MaxBaseCompactions]]'s amortization
    * argument. Returns (fold task, compactions, cFrom, segFrom) for
    * the next manifest. */
  private def foldPlan(spark: SparkSession, stateDir: String, next: Long,
      prevC: Int, prevCFrom: Int, prevF: Long, b: Int,
      maxLiveSegments: Int): (Option[() => Unit], Int, Int, Long) = {
    def segBytes(i: Long): Long = Seq("bands", "shingles").map { t =>
      val d = new java.io.File(stateDir, s"$t/seg$i")
      if (d.isDirectory)
        org.apache.commons.io.FileUtils.sizeOfDirectory(d) else 0L
    }.sum
    lazy val liveSizes = (prevF until next).map(segBytes).filter(_ > 0L)
    lazy val oversized = liveSizes.size >= 2 && {
      val sorted = liveSizes.sorted
      sorted.last >= maxLiveSegments.toLong *
        math.max(1L, sorted((liveSizes.size - 1) / 2))
    }
    if (next - prevF >= maxLiveSegments || oversized) {
      val major = prevC - prevCFrom >= MaxBaseCompactions
      val task = () => inParallel(
        () => compactLog(spark, stateDir, "bands", BandsDdl, major,
          prevCFrom, prevC, prevF, next - 1,
          IncrementalDedup.bandBucket(col("band"), col("band_hash"), b),
          col("band_hash"), b),
        () => compactLog(spark, stateDir, "shingles", ShinglesDdl, major,
          prevCFrom, prevC, prevF, next - 1,
          IncrementalDedup.docBucket(col("doc_id"), b),
          col("doc_id"), b))
      (Some(task), prevC + 1, if (major) prevC else prevCFrom, next)
    } else (None, prevC, prevCFrom, prevF)
  }

  /** Write `df` (carrying cluster_id) into per-bucket version dirs
    * `$t/b$k/v$next` for exactly the buckets in `touched`: one
    * partitioned staging write (one task per bucket, rows sorted by
    * cluster_id within), then a driver-side rename per touched bucket.
    * A touched bucket the staging produced no rows for gets an empty
    * marker dir — its old content is superseded (rows migrated to a
    * merged cluster's bucket) and absence must stay distinguishable
    * from lost state. Staged buckets outside `touched` would mean the
    * touched-set computation missed a write target — loud error, since
    * committing them would strand rows invisible to the owner map. */
  private def writeBuckets(df: DataFrame, stateDir: String, t: String,
      next: Long, b: Int, touched: Seq[Int]): Unit = {
    val stage = s"$stateDir/$t/.stage$next"
    // task count bounded by the touched-bucket count (hash keeps each
    // bucket in one task — one file per bucket), not the session shuffle
    // width: a 3-bucket commit should not schedule 32 near-empty tasks
    df.withColumn("lbucket", IncrementalDedup.docBucket(col("cluster_id"), b))
      .repartition(math.max(1, touched.size), col("lbucket"))
      .sortWithinPartitions(col("lbucket"), col("cluster_id"))
      .write.partitionBy("lbucket").mode("overwrite").parquet(stage)
    val staged = new java.io.File(stage).listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("lbucket="))
      .map(f => f.getName.drop("lbucket=".length).toInt -> f).toMap
    val stray = staged.keySet -- touched.toSet
    require(stray.isEmpty,
      s"$t commit staged rows for untouched buckets $stray — the touched " +
        "set must cover every bucket the delta writes")
    touched.foreach { k =>
      val dst = java.nio.file.Paths.get(stateDir, t, s"b$k", s"v$next")
      org.apache.commons.io.FileUtils.deleteDirectory(dst.toFile) // crashed try
      java.nio.file.Files.createDirectories(dst.getParent)
      staged.get(k) match {
        case Some(src) => java.nio.file.Files.move(src.toPath, dst)
        case None => java.nio.file.Files.createDirectories(dst) // empty marker
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
  }

  private def rmQuiet(d: java.io.File): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(d)
    catch { case _: Exception => } // stale history is harmless

  /** Post-promotion cleanup: keep the current + previous version of
    * everything (in-flight readers of the prior commit stay valid),
    * delete the rest — manifest dirs, folded-away segments, and
    * labels/sizes bucket versions referenced by neither owner map. */
  private def retire(stateDir: String, next: Long, newF: Long, prevF: Long,
      newCFrom: Int, prevCFrom: Int,
      curOwn: Option[Vector[Long]], prevOwn: Option[Vector[Long]]): Unit = {
    (0L until next - 1).map(i => new java.io.File(stateDir, s"v$i"))
      .filter(_.isDirectory).foreach(rmQuiet)
    Seq("bands", "shingles").foreach { t =>
      (0L until math.min(newF, prevF))
        .map(i => new java.io.File(stateDir, s"$t/seg$i"))
        .filter(_.isDirectory).foreach(rmQuiet)
      // compactions superseded by a re-bucketing migration in BOTH the
      // current and previous manifests' ranges are unreferenced
      (0 until math.min(newCFrom, prevCFrom))
        .map(j => new java.io.File(stateDir, s"$t/base/cpart=$j"))
        .filter(_.isDirectory).foreach(rmQuiet)
    }
    Seq("labels", "sizes").foreach { t =>
      val root = new java.io.File(stateDir, t)
      if (root.isDirectory) root.listFiles.foreach { bdir =>
        if (bdir.isDirectory && bdir.getName.startsWith("b")
            && bdir.getName.drop(1).forall(_.isDigit)) {
          val k = bdir.getName.drop(1).toInt
          def owns(o: Option[Vector[Long]], ver: Long) =
            o.exists(v => k < v.length && v(k) == ver)
          bdir.listFiles.foreach { vdir =>
            if (vdir.isDirectory && vdir.getName.startsWith("v")) {
              val ver = vdir.getName.drop(1).toLong
              if (!owns(curOwn, ver) && !owns(prevOwn, ver)) rmQuiet(vdir)
            }
          }
        }
      }
    }
  }

  private def promote(stateDir: String, next: Long): Unit = {
    val tmp = java.nio.file.Paths.get(stateDir, s".CURRENT.$next.tmp")
    java.nio.file.Files.writeString(tmp, next.toString)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(stateDir, "CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write the next state version FROM A FULL STATE and promote it —
    * the bootstrap path (and the one-time upgrade of a legacy state,
    * which pays one full labels/sizes write to enter the copy-on-write
    * layout: every bucket becomes owned by this commit). Materializes
    * every relation BEFORE the pointer moves, so a failed write never
    * publishes a partial state.
    *
    * `newBands`/`newShingles` are the CURRENT BATCH's rows only — the
    * append-log delta. Omitting them is only legal on the very first
    * commit (the full snapshot IS the delta there); passing a later full
    * state without deltas would double-count rows against the existing
    * log, so it fails loudly instead. Steady-state daily commits should
    * use [[commitDelta]], which rewrites only touched buckets. */
  def commitState(st: DedupState, stateDir: String,
      newBands: Option[DataFrame] = None,
      newShingles: Option[DataFrame] = None,
      buckets: Int = StateBuckets,
      maxLiveSegments: Int = MaxLiveSegments,
      stream: Option[(String, Long)] = None): Long = {
    requireLocalFs(stateDir)
    val prevVersion = versionOf(stateDir)
    val next = prevVersion.getOrElse(-1L) + 1
    require(next == 0 || (newBands.isDefined && newShingles.isDefined),
      "commitState on an existing state requires the batch deltas for the " +
        "bands/shingles append log (a full rewrite would double-count)")
    val prevMan = prevVersion.flatMap(v => manifestOf(stateDir, v))
    // layout constants are fixed by the FIRST commit's manifest; later
    // commits inherit them (a pre-manifest legacy state inherits the
    // defaults — its old segments simply all read as live until folded).
    // The manifest value wins on every commit after the first; a caller
    // passing a CONFLICTING non-default count would otherwise silently
    // believe the layout was re-sized.
    val (prevC, prevCFrom, prevF, b) = prevMan
      .map(m => (m.compactions, m.cFrom, m.segFrom, m.buckets))
      .getOrElse((0, 0, 0L, buckets))
    require(buckets == StateBuckets || buckets == b,
      s"state layout is fixed at $b buckets by its first commit's manifest; " +
        s"got buckets=$buckets — a plain commit cannot re-size the layout " +
        "(use a re-bucketing fold)")
    val spark = st.labels.sparkSession
    def dropB(df: DataFrame) = IncrementalDedup.dropBucket(df)
    val all = (0 until b).toSeq
    def wr(df: DataFrame, path: String): Unit =
      oneTaskIfLocal(df).write.mode("overwrite").parquet(s"$stateDir/$path")
    // The FIRST commit's snapshot is corpus-sized — committed as a live
    // segment it would be probed UNPRUNED (bucket computed at read) by
    // every admission until the count-rule fold, i.e. k days of
    // full-corpus reads (measured: `bench/CHAINPROBE_r16_read.txt`
    // variant P, days 0-3 read the whole band tier at every bucket
    // count). Write it PRE-FOLDED into the bucketed base instead: one
    // extra shuffle on a day that is O(corpus) anyway (labels/sizes
    // write every bucket), and every later probe prunes from day 1.
    val bootstrapFold = next == 0
    val logTasks: Seq[() => Unit] =
      if (bootstrapFold) Seq(
        () => compactInto(dropB(newBands.getOrElse(st.bands)),
          s"$stateDir/bands/base/cpart=0",
          IncrementalDedup.bandBucket(col("band"), col("band_hash"), b),
          col("band_hash"), b),
        () => compactInto(dropB(newShingles.getOrElse(st.shingles)),
          s"$stateDir/shingles/base/cpart=0",
          IncrementalDedup.docBucket(col("doc_id"), b), col("doc_id"), b))
      else Seq(
        () => wr(dropB(newBands.getOrElse(st.bands)), s"bands/seg$next"),
        () => wr(dropB(newShingles.getOrElse(st.shingles)),
          s"shingles/seg$next"))
    val (foldTask, newC, newCFrom, newF) =
      if (bootstrapFold) (None, 1, 0, 1L)
      else foldPlan(spark, stateDir, next, prevC, prevCFrom, prevF, b,
        maxLiveSegments)
    inParallel(Seq(
      () => writeBuckets(dropB(st.labels), stateDir, "labels", next, b, all),
      () => writeBuckets(dropB(st.sizes), stateDir, "sizes", next, b, all))
      ++ logTasks ++ foldTask: _*)
    val owners = Vector.fill(b)(next)
    writeManifest(stateDir, next, newC, newCFrom, newF, b, owners, stream)
    promote(stateDir, next)
    retire(stateDir, next, newF, prevF, newCFrom, prevCFrom,
      Some(owners), prevMan.flatMap(_.owners))
    next
  }

  /** Commit one admitted batch against the previously committed state —
    * the steady-state daily path. Reads ONLY the labels/sizes buckets
    * the delta's frontier touches (an O(batch)-sized path list), applies
    * the remap to just those rows, writes just those bucket versions,
    * appends the batch's band/shingle segments, and publishes a manifest
    * whose owner map points untouched buckets at their existing files —
    * which are never opened, never rewritten. Per-day labels/sizes I/O is
    * O(batch + touched-bucket rows); everything else is the amortized
    * segment fold. A legacy previous state (pre-owners manifest) takes
    * the [[commitState]] upgrade path once.
    *
    * RETURNS the latest PROMOTED version — normally the version that
    * admitted this delta, but when the mass policy fires a follow-on
    * migration (`autoMigrate`, the default) it is the migration
    * manifest's version, one past the delta commit. Both contain the
    * delta's rows; a caller that needs the admission version itself
    * (e.g. to pin a pre-migration layout) should read it as the
    * migration manifest's `migratedFrom`, or pass
    * `autoMigrate = false` and run [[migrateBuckets]] on its own
    * schedule. */
  def commitDelta(spark: SparkSession, stateDir: String, prev: DedupState,
      delta: AdmitDelta, maxLiveSegments: Int = MaxLiveSegments,
      stream: Option[(String, Long)] = None,
      autoMigrate: Boolean = true,
      bucketBytesTarget: Long = AutoMigrateBucketBytes,
      bucketBytesFloor: Long = AutoMigrateMinBucketBytes): Long = {
    // static plans sized to the delta for the O(batch + touched-bucket)
    // commit writes — see graft.Par.withAdmitPlan (the delta's band and
    // shingle segments are the commit's heaviest shuffled relations)
    val v = graft.Par.withAdmitPlan(spark, delta.newBands,
      delta.newShingles) {
      commitDeltaImpl(spark, stateDir, prev, delta, maxLiveSegments, stream)
    }
    // the auto-migration check runs AFTER the commit is durable and
    // OUTSIDE the static-plan scope (a migration is corpus-sized work
    // and wants AQE); layout-invariant callers (probe A/Bs, fixed-layout
    // specs) opt out explicitly
    if (autoMigrate)
      maybeAutoMigrate(spark, stateDir, bucketBytesTarget, bucketBytesFloor)
        .getOrElse(v)
    else v
  }

  /** Apply the mass policy to the CURRENT committed state: migrate to
    * the next bucket tier when the live base's per-bucket mass exceeds
    * `bucketBytesTarget` (and would stay above `bucketBytesFloor` at
    * the new count). Returns the migration's version, or None when the
    * layout is already right-sized (the common case — one manifest
    * read, two directory sizings, zero jobs). */
  private def maybeAutoMigrate(spark: SparkSession, stateDir: String,
      bucketBytesTarget: Long, bucketBytesFloor: Long): Option[Long] =
    versionOf(stateDir).flatMap(v => manifestOf(stateDir, v)).flatMap { man =>
      val b = man.buckets
      if (man.owners.isEmpty || b <= 0) None
      else {
        val newB = math.min(b * AutoMigrateGrowth, AutoMigrateMaxBuckets)
        // PER-TABLE masses: the sizing rule ("one bucket ≈ a few
        // block-sized files") is a statement about each probed table's
        // files, so the trigger compares the HEAVIEST table's per-bucket
        // mass to the target (summing bands+shingles would fire at ~half
        // the documented per-table target) and the floor protects the
        // LIGHTEST (an admission probes both tables, so shattering
        // either into sub-footer files pays the tiny-file penalty).
        lazy val perTableBytes = Seq("bands", "shingles").map { t =>
          (man.cFrom until man.compactions).map { j =>
            val d = new java.io.File(stateDir, s"$t/base/cpart=$j")
            if (d.isDirectory)
              org.apache.commons.io.FileUtils.sizeOfDirectory(d) else 0L
          }.sum
        }
        // newB > b FIRST: at the bucket cap the sizing walk (a full
        // recursive listing of the base) would otherwise run on every
        // commit for a result migration could never use
        lazy val massHit = perTableBytes.max / b > bucketBytesTarget
        // the floor: never migrate EITHER table into the tiny-file regime
        lazy val floorOk = perTableBytes.min / newB >= bucketBytesFloor
        if (newB > b && massHit && floorOk) {
          System.err.println(s"[chain] auto-migrating $b -> $newB buckets " +
            s"(max table base/bucket=${perTableBytes.max / b} B > target " +
            s"$bucketBytesTarget)")
          Some(migrateBuckets(spark, stateDir, newB))
        } else None
      }
    }

  private def commitDeltaImpl(spark: SparkSession, stateDir: String,
      prev: DedupState, delta: AdmitDelta, maxLiveSegments: Int,
      stream: Option[(String, Long)]): Long = {
    requireLocalFs(stateDir)
    val prevV = versionOf(stateDir).getOrElse(throw new IllegalStateException(
      "commitDelta requires an existing committed state (bootstrap with commitState)"))
    manifestOf(stateDir, prevV).filter(_.owners.isDefined) match {
      case None =>
        commitState(IncrementalDedup.applyDelta(prev, delta), stateDir,
          newBands = Some(delta.newBands),
          newShingles = Some(delta.newShingles),
          maxLiveSegments = maxLiveSegments,
          stream = stream)
      case Some(man) =>
        val next = prevV + 1
        val b = man.buckets
        val own = man.owners.get
        def kb(c: Column) = IncrementalDedup.docBucket(c, b).as("k")
        // every bucket a label row can leave, enter, or appear in:
        // remapped old cluster ids (rows leave), merged labels (rows
        // enter), the batch's assignments. When the admission kept the
        // frontier driver-local, this is a pure driver computation over
        // rows already in hand (docBucketLocal — zero jobs); otherwise a
        // frontier-sized collect, the same K-bounded driver-side index
        // material as the band probe.
        val touched = (delta.localRemap, delta.localAssign) match {
          case (Some(rm), Some(as)) =>
            (rm.flatMap { case (c, m) => Seq(c, m) } ++ as.map(_._2))
              .map(IncrementalDedup.docBucketLocal(_, b)).distinct.sorted
          case _ => delta.remap.select(kb(col("cluster_id")))
            .union(delta.remap.select(kb(col("merged"))))
            .union(delta.newAssign.select(kb(col("cluster_id"))))
            .distinct().collect().map(_.getInt(0)).toSeq.sorted
        }
        val tset = touched.toSet
        val oldLab =
          ownedRelation(spark, stateDir, "labels", own, Some(tset), LabelsDdl)
        val newLab = oldLab.join(broadcast(delta.remap), Seq("cluster_id"), "left")
          .select(col("doc_id"),
            coalesce(col("merged"), col("cluster_id")).as("cluster_id"))
          .unionByName(delta.newAssign.select("doc_id", "cluster_id"))
        val oldSz =
          ownedRelation(spark, stateDir, "sizes", own, Some(tset), SizesDdl)
        val newSz = oldSz.join(broadcast(delta.remap), Seq("cluster_id"), "left")
          .select(coalesce(col("merged"), col("cluster_id")).as("cluster_id"),
            col("cluster_size"))
          .unionByName(delta.newAssign.groupBy("cluster_id")
            .agg(count(lit(1)).as("cluster_size")))
          .groupBy("cluster_id").agg(sum("cluster_size").as("cluster_size"))
        def wr(df: DataFrame, path: String): Unit =
          oneTaskIfLocal(df).write.mode("overwrite").parquet(s"$stateDir/$path")
        val (foldTask, newC, newCFrom, newF) = foldPlan(spark, stateDir, next,
          man.compactions, man.cFrom, man.segFrom, b, maxLiveSegments)
        inParallel(Seq(
          () => writeBuckets(newLab, stateDir, "labels", next, b, touched),
          () => writeBuckets(newSz, stateDir, "sizes", next, b, touched),
          () => wr(delta.newBands, s"bands/seg$next"),
          () => wr(delta.newShingles, s"shingles/seg$next"),
          () => foldTask.foreach(_())): _*)
        val owners = touched.foldLeft(own)((v, k) => v.updated(k, next))
        writeManifest(stateDir, next, newC, newCFrom, newF, b, owners,
          stream)
        promote(stateDir, next)
        retire(stateDir, next, newF, man.segFrom, newCFrom, man.cFrom,
          Some(owners), Some(own))
        next
    }
  }

  /** Re-size the persisted layout's bucket count — the migration fold a
    * growing deployment needs when the corpus has outgrown the count
    * pinned by its first commit (a bucket should stay a few block-sized
    * files). One full-rewrite commit, atomic like any other: everything
    * (all committed compactions + live segments) re-folds into ONE new
    * compaction per log under the new bucket count, labels/sizes rewrite
    * into `newBuckets` owner dirs, and the manifest's `cFrom` advances
    * past the superseded compactions — readers of the previous version
    * stay valid (its compactions/segments/bucket dirs survive one more
    * commit), and the next [[commitDelta]] prunes against the new
    * layout. O(corpus) I/O by nature — scheduled like any compaction,
    * not a daily cost. */
  def migrateBuckets(spark: SparkSession, stateDir: String,
      newBuckets: Int): Long = {
    requireLocalFs(stateDir)
    require(newBuckets > 0, s"newBuckets must be positive: $newBuckets")
    val prevV = versionOf(stateDir).getOrElse(throw new IllegalStateException(
      "migrateBuckets requires an existing committed state"))
    val man = manifestOf(stateDir, prevV).filter(_.owners.isDefined)
      .getOrElse(throw new IllegalStateException(
        "migrateBuckets requires a copy-on-write state — commit once to upgrade a legacy state first"))
    val next = prevV + 1
    val st = loadState(spark, stateDir).get
    def dropB(df: DataFrame) = IncrementalDedup.dropBucket(df)
    val all = (0 until newBuckets).toSeq
    inParallel(
      () => writeBuckets(dropB(st.labels), stateDir, "labels", next,
        newBuckets, all),
      () => writeBuckets(dropB(st.sizes), stateDir, "sizes", next,
        newBuckets, all),
      () => compactInto(dropB(st.bands),
        s"$stateDir/bands/base/cpart=${man.compactions}",
        IncrementalDedup.bandBucket(col("band"), col("band_hash"), newBuckets),
        col("band_hash"), newBuckets),
      () => compactInto(dropB(st.shingles),
        s"$stateDir/shingles/base/cpart=${man.compactions}",
        IncrementalDedup.docBucket(col("doc_id"), newBuckets),
        col("doc_id"), newBuckets))
    val owners = Vector.fill(newBuckets)(next)
    // the new base is compaction [compactions, compactions+1); every
    // prior compaction and every live segment is folded in and
    // superseded (segFrom moves past this version's — empty — segment
    // slot, which never exists: migration admits no batch)
    // carry the streaming replay guard FORWARD: migration admits no
    // batch, so the last admitted (checkpoint identity, batch id) must
    // survive into this manifest — dropping it would open the exact
    // at-least-once window the guard exists for (a crash between the
    // migrated commit and the streaming checkpoint would re-admit the
    // last micro-batch against its own stored copies)
    writeManifest(stateDir, next, man.compactions + 1, man.compactions,
      next + 1, newBuckets, owners,
      stream = for { c <- man.streamCkptId; b <- man.streamBatchId }
        yield (c, b),
      migratedFrom = Some(man.buckets))
    promote(stateDir, next)
    retire(stateDir, next, next + 1, man.segFrom, man.compactions, man.cFrom,
      Some(owners), man.owners)
    next
  }

  /** Admit every not-yet-seen parquet drop under `docsPath` into the
    * persisted state, exactly once per file (streaming checkpoint =
    * bookmark, like [[graft.sources.Ingest.processNewFiles]]), blocking
    * until the AvailableNow run drains. Batch 0 against an empty
    * `stateDir` bootstraps with [[IncrementalDedup.initialState]];
    * later batches take the touched-bucket [[commitDelta]] path.
    *
    * `docsPath` goes to the file source verbatim — when each day lands
    * as its own directory (`drops/day1/`, `drops/day2/`, the landing-
    * zone shape), pass the glob `drops/&#42;`; the file source does not
    * recurse on its own. `schemaDdl` is declared (streaming sources
    * require it) — defaults to the documents fixture shape.
    * `maxFilesPerBatch` caps files per micro-batch, so ONE stream run
    * can replay several day drops as separate admissions — the
    * per-admission setup cost is paid once, not per day. */
  /** @param deconProbe optional benchmark/eval set (doc_id, text): when
    *   set, every micro-batch passes the STREAMING DECONTAMINATION GATE
    *   before touching persisted state — q78's broadcast cross-set
    *   kernel ([[graft.operators.SubstringDedup.contaminationSpans]]:
    *   batch windows equi-joined against the broadcast probe windows,
    *   the batch never shuffles) flags docs sharing a ≥ k-token run
    *   with the probe; flagged docs land under
    *   `quarantineDir/batch=$id` (full rows — the audit trail) and are
    *   EXCLUDED from the admission, so a contaminated daily drop never
    *   enters state (decon as an admission invariant, not a batch
    *   afterthought). An all-contaminated drop commits nothing: the
    *   quarantine write is per-batch `mode(overwrite)`, so the
    *   at-least-once redelivery after a crash re-quarantines
    *   idempotently.
    * @param quarantineDir where flagged rows land (required with
    *   deconProbe).
    * @param splitStoreDir optional [[graft.operators.SplitPins]] store:
    *   every admission also commits the batch's PINNED train/val/test
    *   assignments (q93's leakage-safe rule — docs never move, merges
    *   inherit the oldest pin), riding the same admission delta. The
    *   split store commits BEFORE the dedup state and carries its own
    *   (lineage, batchId) replay guard, so a crash in either window is
    *   exactly-once for both: a redelivery after the split commit
    *   recomputes the identical delta from the unchanged dedup state
    *   (the admission is deterministic) and skips only the split
    *   commit. An empty split store next to committed dedup state (the
    *   store enabled on a running stream) is first bootstrapped from
    *   the committed labels, then admits the batch in the same
    *   micro-batch. */
  def admitNewDrops(spark: SparkSession, docsPath: String, stateDir: String,
      checkpointDir: String,
      schemaDdl: String = "doc_id bigint, text string",
      maxLiveSegments: Int = MaxLiveSegments,
      maxFilesPerBatch: Option[Int] = None,
      buckets: Int = StateBuckets,
      deconProbe: Option[DataFrame] = None,
      quarantineDir: Option[String] = None,
      splitStoreDir: Option[String] = None): Unit = {
    require(deconProbe.isEmpty || quarantineDir.isDefined,
      "deconProbe needs a quarantineDir for the flagged rows")
    val reader = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
    maxFilesPerBatch.foreach(n => reader.option("maxFilesPerTrigger", n))
    val drops = reader.parquet(docsPath)
    val q = drops.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // replay guard: foreachBatch is at-least-once — a crash between
        // the state commit and the streaming checkpoint's own commit
        // redelivers this batch on restart; the manifest records the
        // (checkpoint identity, batch id) pair atomically with the
        // commit — graft.Par.ckptIdentity's Delta-recipe note — so the
        // redelivery is skipped instead of double-admitted (the docs
        // would otherwise re-pair with their own stored copies), while
        // a FRESH checkpoint's restarted ids are not mistaken for one.
        val ckptId = graft.Par.ckptIdentity(checkpointDir)
        val already = versionOf(stateDir)
          .flatMap(v => manifestOf(stateDir, v))
          .exists(m => m.streamCkptId.contains(ckptId) &&
            m.streamBatchId.exists(_ >= batchId))
        // foreachBatch hands a streaming-backed DataFrame; the admission
        // builds an iterative multi-action plan over it, so pin the
        // batch to a stable local copy first
        val rawPinned = graft.Checkpoints.pin(batch)
        // the decon gate, ahead of every state read/write: flagged rows
        // divert to the quarantine log, the admission sees only the
        // clean subset (pinned again — the admission probes it several
        // times and the anti join must not replan per consumer)
        val pinned = deconProbe match {
          case Some(probe) if !already && !rawPinned.isEmpty =>
            import org.apache.spark.sql.functions.{broadcast, col}
            // pin the flagged set once: the lineage (contaminationSpans,
            // a shingle explode + join) would otherwise recompute for
            // the anti-join AND the quarantine write (r19 advice)
            val flagged = graft.Checkpoints.pin(
              graft.operators.SubstringDedup
                .contaminationSpans(rawPinned, probe)
                .select(col("train_doc").as("doc_id")).distinct())
            val clean =
              if (flagged.isEmpty) rawPinned // nothing flagged: no
              // quarantine dir for this batch (clean batches must not
              // accumulate empty parquet dirs), admit the batch as-is
              else {
                rawPinned.join(broadcast(flagged), Seq("doc_id"))
                  .write.mode("overwrite")
                  .parquet(s"${quarantineDir.get}/batch=$batchId")
                graft.Checkpoints.pin(
                  rawPinned.join(broadcast(flagged), Seq("doc_id"),
                    "left_anti"))
              }
            IncrementalDedup.freeLocalCheckpoint(flagged)
            clean
          case _ => rawPinned
        }
        if (!already && !pinned.isEmpty) {
          // the split store's own replay guard (see the param doc):
          // skip its commit when it already recorded this batch
          val splitAlready = splitStoreDir.exists(sd =>
            graft.operators.VersionedIndex.meta(sd)
              .exists(sm => sm.streamCkptId.contains(ckptId) &&
                sm.streamBatchId.exists(_ >= batchId)))
          loadState(spark, stateDir) match {
            case Some(prev) =>
              val delta = IncrementalDedup.admitBatchDelta(prev, pinned)
              splitStoreDir.foreach(sd => if (!splitAlready) {
                // a split store enabled on existing dedup state starts
                // from the committed labels. The bootstrap records no
                // batch id, so a crash before the delta commit below
                // redelivers into a plain admitDelta
                if (graft.operators.VersionedIndex.currentVersion(sd).isEmpty)
                  graft.operators.SplitPins.bootstrapStore(spark, sd,
                    prev.labels)
                graft.operators.SplitPins.admitDelta(spark,
                  sd, delta.newAssign, delta.remap,
                  maxLiveSegments = maxLiveSegments,
                  stream = Some((ckptId, batchId)))
              })
              commitDelta(spark, stateDir, prev, delta,
                maxLiveSegments = maxLiveSegments,
                stream = Some((ckptId, batchId)))
              // the commit is durable — release the delta's component
              // checkpoint rather than waiting on the ContextCleaner
              delta.release()
            case None =>
              val st = IncrementalDedup.initialState(pinned)
              splitStoreDir.foreach(sd => if (!splitAlready)
                graft.operators.SplitPins.bootstrapStore(spark,
                  sd, st.labels, stream = Some((ckptId, batchId))))
              commitState(st, stateDir,
                buckets = buckets, maxLiveSegments = maxLiveSegments,
                stream = Some((ckptId, batchId)))
          }
          // per-batch shingle/band memos are keyed on this batch's plan
          // and never hit again — drop them so a long-running stream
          // doesn't accumulate cached relations; same for the pinned
          // micro-batch copy, whose blocks outlive the batch otherwise
          graft.operators.Dedup.clearShingleCaches()
        }
        IncrementalDedup.freeLocalCheckpoint(pinned)
        if (!(pinned eq rawPinned))
          IncrementalDedup.freeLocalCheckpoint(rawPinned)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  // ---- SparkEntry wiring -------------------------------------------------

  /** q54: the PRODUCTION dedup path — three daily drops streamed through
    * the persisted, bucketed, compacted state (maxLiveSegments = 1, so
    * every commit folds the previous segment concurrently with its
    * writes and the later admissions probe the bucketed base through a
    * real MANIFEST) — oracle-checked against a from-scratch closure
    * clustering of the same subset, which the chain must equal by the
    * incremental ≡ batch argument ([[IncrementalDedup]]). q51 covers
    * the in-memory incremental operator; this covers the storage
    * layout, commit protocol, and probe pruning end-to-end in the
    * driver's correctness gate. All three day drops are staged up front
    * (one file each) and replayed through ONE AvailableNow run at
    * maxFilesPerBatch=1 — three separate micro-batch admissions, one
    * stream setup, so the query's cost is the admissions themselves
    * rather than 3× stream-start overhead. Every storage tier is
    * exercised: bootstrap pre-fold (commit 0 writes the snapshot
    * straight into cpart=0), pruned base probe (admit of day 1),
    * base + live-segment probe (admit of day 2 reads cpart=0 and
    * seg1), a count-rule fold at commit 2, and the final read spans
    * two compactions plus the live seg2. */
  def qChainBucketed(s: SparkSession, d: String): DataFrame = {
    val docs = graft.engine.Tables.documents(s, d)
      .filter(col("doc_id") < 500)
    val root = java.nio.file.Files.createTempDirectory("graft-q54").toString
    // stage all three day drops with ONE partitioned write (each day=
    // directory gets exactly one file: the repartition keys each day
    // into one task), not three separate single-file write jobs — the
    // staging is q54 fixture setup, and its job-launch overhead was a
    // measurable slice of the query's wall
    docs.withColumn("day", pmod(col("doc_id"), lit(3)))
      .repartition(3, col("day"))
      .write.partitionBy("day").parquet(s"$root/docs")
    // buckets right-sized to the subset per the layout's own sizing rule
    // (a bucket should hold real data, not a near-empty tiny file): 8
    // buckets for ~500 docs keeps probe pruning demonstrable (a batch
    // touches ≤4) without paying 64 near-empty file commits per fold
    admitNewDrops(s, s"$root/docs/day=*", s"$root/state", s"$root/ckpt",
      maxLiveSegments = 1, maxFilesPerBatch = Some(1), buckets = 8)
    // pin rows before the state dir is deleted (the caller writes the
    // result AFTER this returns; a lazy scan would read deleted files)
    val out = graft.Checkpoints.pin(IncrementalDedup.labelsWithSizes(
        loadState(s, s"$root/state").get)
      .orderBy("doc_id"))
    try org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
    catch { case _: Exception => }
    out
  }

  /** Chain ≡ batch: the oracle is a plain closure clustering of the
    * capped subset (same CTE chain as q37, source-parameterized). */
  val qChainBucketedSql: String =
    s"""WITH RECURSIVE d54 AS (SELECT * FROM documents WHERE doc_id < 500),
       |${graft.operators.Dedup.jaccardCtesSqlFrom("d54")},
       |${graft.operators.Dedup.clusterCtesSqlFrom("d54")}
       |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
       |FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin
}
