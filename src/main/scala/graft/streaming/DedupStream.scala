package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AdmitDelta, DedupState, IncrementalDedup, SplitPins,
  VersionedIndex}
import VersionedIndex.{Fold, Log, Tiered}

/** Streaming admission for the incremental dedup state — the reference's
  * daily-drop topology (landing zone → bookmark-incremental processing)
  * applied to near-duplicate clustering: each micro-batch of newly
  * landed documents is admitted against the PERSISTED [[DedupState]]
  * with [[IncrementalDedup.admitBatchDelta]], never re-reading old text.
  *
  * The state commits through the shared [[VersionedIndex]] protocol —
  * an atomic `CURRENT` pointer over per-version manifests, the
  * atomic-swap shape a Delta/Iceberg table commit provides, kept to
  * plain parquet + one rename so the engine stays dependency-free.
  * Readers (and the next batch) always load the last COMMITTED version;
  * a crash mid-write leaves garbage uncommitted files and an intact
  * previous version. Layout:
  *
  * {{{
  * stateDir/
  *   CURRENT  v$N/MANIFEST                # the VersionedIndex protocol
  *   bands/seg$M/  shingles/seg$M/        # live day segments (`segs`)
  *   bands/base/cpart=$j/bucket=$k/       # bucketed base parts (`parts`)
  *   shingles/base/cpart=$j/bucket=$k/
  *   labels/b$k/v$M/  sizes/b$k/v$M/      # copy-on-write buckets, owners(k)=M
  * }}}
  *
  * `bands`/`shingles` exploit being APPEND-ONLY: they are the
  * [[VersionedIndex.Tiered]] logs of a two-tier store, RECENT day
  * segments (batch-sized, one file) over a BUCKETED BASE (sorted by key
  * within bucket) that makes the daily probe a partition-pruned scan
  * ([[IncrementalDedup.prunedBands]]; plan-asserted in DedupStreamSpec).
  * This store's own fold policy ([[foldOf]]) folds the older segments
  * into a new base part once [[MaxLiveSegments]] have accumulated, or an
  * OVERSIZED one is live, concurrently with the commit's own writes; its
  * mass policy re-buckets ([[migrateBuckets]]). The BOOTSTRAP snapshot
  * (the one corpus-sized write) is the first base part, so no probe ever
  * scans it unpruned.
  *
  * `labels`/`sizes` — the two relations admission MUTATES — are
  * copy-on-write per cluster-id bucket: bucket k's rows live at
  * `labels/b$k/v$N` where N is the last commit that touched the bucket,
  * and the committed manifest's `owners` array maps bucket → owning
  * version. A commit rewrites ONLY the buckets its frontier touches
  * (remapped cluster ids ∪ merged labels ∪ the batch's cluster ids —
  * O(batch) buckets), so per-day labels/sizes write bytes are
  * O(batch + touched-bucket rows), not O(corpus); untouched buckets'
  * files are not opened, not rewritten, bit-identical across versions.
  * Loading is ONE multi-root parquet scan over the owned bucket dirs —
  * plan size constant in both the day index and the version count. A
  * touched bucket whose rows all migrate elsewhere commits an EMPTY
  * marker dir (zero files), so a referenced dir that is ABSENT is loud
  * lost-state, same contract as the base parts.
  *
  * Each manifest carries the owner array (and a re-bucketing's
  * `migratedFrom`) next to the protocol's parts, segments and bucket
  * count. Crash-safety: half-written segments, parts and bucket versions
  * sit above the committed pointer or outside the committed owners and
  * are never listed; the retried commit overwrites them. The protocol
  * keeps the current + previous manifests and every part and segment
  * either lists, and [[retireOwners]] keeps every bucket version either
  * owns (in-flight readers of the prior commit stay valid), so disk
  * stays O(corpus + 2·touched), not O(days · corpus).
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

  /** The two append-only logs, bucketed on their probe key: bands on
    * [[IncrementalDedup.bandBucket]] sorted on `band_hash`, shingles on
    * [[IncrementalDedup.docBucket]] sorted on `doc_id`. */
  private val Bands = Log("bands", "doc_id BIGINT, band BIGINT, band_hash STRING",
    layout = Tiered("bucket",
      IncrementalDedup.bandBucket(col("band"), col("band_hash"), _), "band_hash"))
  private val Shingles = Log("shingles", "doc_id BIGINT, sh ARRAY<STRING>",
    layout = Tiered("bucket", IncrementalDedup.docBucket(col("doc_id"), _),
      "doc_id"))
  private val Logs = Seq(Bands, Shingles)

  /** `owners(k)` is the version whose commit last wrote labels/sizes
    * bucket k. */
  private def ownersOf(m: VersionedIndex.Meta): Vector[Long] = m.nums("owners")

  private def isDir(p: String): Boolean = new java.io.File(p).isDirectory

  /** A bucket-version dir with data files (an empty marker commits a
    * bare dir: the bucket is owned, has zero rows, and is NOT lost). */
  private def hasDataFiles(p: String): Boolean = {
    val d = new java.io.File(p)
    d.isDirectory && d.listFiles.exists(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  /** The copy-on-write relation (`labels` or `sizes`): one multi-root
    * scan over the owned bucket dirs — `only` restricts to a touched
    * subset (the commit-time pruned read). A referenced dir that does
    * not exist is lost committed state and fails loudly; empty marker
    * dirs contribute no files. Every read declares its schema: the
    * layout is fixed by [[writeBuckets]], so footer inference would
    * spend a driver file-read per relation per admission. */
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
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    if (paths.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(paths: _*)
  }

  /** Load the last committed state, or None before the first commit.
    * `labels`/`sizes` come from the owner-mapped bucket dirs,
    * `bands`/`shingles` from [[VersionedIndex.readLog]]: the bucketed
    * base parts (carrying the `bucket` partition column for pruning) and
    * the live day segments (bucket computed); uncommitted garbage above
    * CURRENT / outside the committed owners is never listed. A state
    * whose tiers are ALL legitimately empty (empty-corpus commits) reads
    * as an empty relation of the right schema, not an error. */
  def loadState(spark: SparkSession, stateDir: String): Option[DedupState] =
    VersionedIndex.meta(stateDir).map { m =>
      DedupState(
        ownedRelation(spark, stateDir, "labels", ownersOf(m), None, LabelsDdl),
        ownedRelation(spark, stateDir, "sizes", ownersOf(m), None, SizesDdl),
        VersionedIndex.readLog(spark, stateDir, Bands, m),
        VersionedIndex.readLog(spark, stateDir, Shingles, m),
        buckets = Some(m.buckets))
    }

  /** The store's fold policy for the commit after `m`: once
    * [[MaxLiveSegments]] day segments have accumulated BEFORE this commit,
    * fold them — never the segment this commit is writing — into one new
    * base part (amortized O(batch)/day: every log row is written exactly
    * twice, once as a segment, once into a part). Excluding the in-flight
    * segment is what lets the fold run CONCURRENTLY with the commit's own
    * writes (every fold input already exists on disk), hiding it behind
    * the slower labels/sizes staged writes instead of paying it serially;
    * the current segment simply stays live one commit longer (the probe's
    * live-segment bound is unchanged: a reader of commit N sees at most
    * maxLiveSegments live segments).
    *
    * MASS TRIGGER (in addition to the count rule): live segments are
    * probed UNPRUNED (their bucket column is computed at read, so a
    * probe scans every live row — fine when segments are batch-sized,
    * the steady case the count rule bounds at k·batch). A segment k×
    * its cohort's median — a backfill day's bulk drop — would make
    * every probe until the count-rule fold pay its full mass, so it
    * folds at the NEXT commit instead (one driver-side sizing of the
    * live segments decides; an oversized segment is therefore live for
    * at most 2 commits). Equal-sized cohorts never trigger early — the
    * cadence stays exactly the count rule's, and the probe's read bound
    * is O(k·batch + touched base buckets) in both regimes (measured:
    * variants L and P of the committed `bench/CHAINPROBE_r16_read.txt`).
    *
    * MAJOR FOLDS: once [[MaxBaseCompactions]] parts are live, the fold
    * also folds them all into its new part — see [[MaxBaseCompactions]]'s
    * amortization argument. */
  private def foldOf(stateDir: String, m: VersionedIndex.Meta,
      maxLiveSegments: Int): Option[Fold] = {
    lazy val liveSizes = VersionedIndex.segBytes(stateDir, Bands, m)
      .zip(VersionedIndex.segBytes(stateDir, Shingles, m))
      .map { case (x, y) => x + y }.filter(_ > 0L)
    lazy val oversized = liveSizes.size >= 2 && {
      val sorted = liveSizes.sorted
      sorted.last >= maxLiveSegments.toLong *
        math.max(1L, sorted((liveSizes.size - 1) / 2))
    }
    Option.when(m.segs.size >= maxLiveSegments || oversized)(
      Fold(parts = m.parts.size >= MaxBaseCompactions, batch = false))
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

  /** Once version `next` is committed (its manifest names `cur` as the
    * owners), delete the labels/sizes bucket versions that neither `cur`
    * nor the previous commit's `prev` owns: in-flight readers of the
    * prior commit stay valid. */
  private def retireOwners(stateDir: String, cur: Vector[Long],
      prev: Option[Vector[Long]]): Unit =
    Seq("labels", "sizes").foreach { t =>
      val root = new java.io.File(stateDir, t)
      if (root.isDirectory) root.listFiles.foreach { bdir =>
        if (bdir.isDirectory && bdir.getName.startsWith("b")
            && bdir.getName.drop(1).forall(_.isDigit)) {
          val k = bdir.getName.drop(1).toInt
          def owns(o: Vector[Long], ver: Long) = k < o.length && o(k) == ver
          bdir.listFiles.foreach { vdir =>
            if (vdir.isDirectory && vdir.getName.startsWith("v")) {
              val ver = vdir.getName.drop(1).toLong
              if (!owns(cur, ver) && !prev.exists(owns(_, ver)))
                try org.apache.commons.io.FileUtils.deleteDirectory(vdir)
                catch { case _: Exception => } // stale history is harmless
            }
          }
        }
      }
    }

  /** Write the next state version FROM A FULL STATE and promote it —
    * the bootstrap path: every labels/sizes bucket becomes owned by
    * this commit. Materializes every relation BEFORE the pointer moves,
    * so a failed write never publishes a partial state.
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
    val prev = VersionedIndex.meta(stateDir)
    val next = prev.fold(0L)(_.version + 1)
    require(next == 0 || (newBands.isDefined && newShingles.isDefined),
      "commitState on an existing state requires the batch deltas for the " +
        "bands/shingles append log (a full rewrite would double-count)")
    // the bucket count is fixed by the FIRST commit's manifest; later
    // commits inherit it. A caller passing a CONFLICTING non-default
    // count would otherwise silently believe the layout was re-sized.
    val b = prev.fold(buckets)(_.buckets)
    require(buckets == StateBuckets || buckets == b,
      s"state layout is fixed at $b buckets by its first commit's manifest; " +
        s"got buckets=$buckets — a plain commit cannot re-size the layout " +
        "(use a re-bucketing fold)")
    val spark = st.labels.sparkSession
    def dropB(df: DataFrame) = IncrementalDedup.dropBucket(df)
    val all = (0 until b).toSeq
    val owners = Vector.fill(b)(next)
    def write(a: VersionedIndex.Admission): Unit = graft.Par.inParallel(
      () => writeBuckets(dropB(st.labels), stateDir, "labels", next, b, all),
      () => writeBuckets(dropB(st.sizes), stateDir, "sizes", next, b, all),
      () => a.seg(Bands, dropB(newBands.getOrElse(st.bands))),
      () => a.seg(Shingles, dropB(newShingles.getOrElse(st.shingles))))
    prev match {
      // The FIRST commit's snapshot is corpus-sized — committed as a day
      // segment it would be probed UNPRUNED (bucket computed at read) by
      // every admission until the count-rule fold, i.e. k days of
      // full-corpus reads (measured: `bench/CHAINPROBE_r16_read.txt`
      // variant P, days 0-3 read the whole band tier at every bucket
      // count). The bootstrap writes it as a bucketed base part instead:
      // one extra shuffle on a day that is O(corpus) anyway (labels/sizes
      // write every bucket), and every later probe prunes from day 1.
      case None => VersionedIndex.bootstrap(spark, stateDir, Logs, stream,
        buckets = Some(b), members = Seq("owners" -> owners))(write)
      case Some(m) => VersionedIndex.advance(spark, stateDir, m,
        foldOf(stateDir, m, maxLiveSegments), Logs, Seq("owners" -> owners),
        stream)(write)
    }
    retireOwners(stateDir, owners, prev.map(ownersOf))
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
    * segment fold.
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
  def commitDelta(spark: SparkSession, stateDir: String,
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
      commitDeltaImpl(spark, stateDir, delta, maxLiveSegments, stream)
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
    VersionedIndex.meta(stateDir).flatMap { m =>
      val b = m.buckets
      val newB = math.min(b * AutoMigrateGrowth, AutoMigrateMaxBuckets)
      // PER-TABLE masses: the sizing rule ("one bucket ≈ a few
      // block-sized files") is a statement about each probed table's
      // files, so the trigger compares the HEAVIEST table's per-bucket
      // mass to the target (summing bands+shingles would fire at ~half
      // the documented per-table target) and the floor protects the
      // LIGHTEST (an admission probes both tables, so shattering
      // either into sub-footer files pays the tiny-file penalty).
      lazy val perTableBytes = Logs.map(VersionedIndex.partBytes(stateDir, _, m))
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

  private def commitDeltaImpl(spark: SparkSession, stateDir: String,
      delta: AdmitDelta, maxLiveSegments: Int,
      stream: Option[(String, Long)]): Long = {
    val committed = VersionedIndex.meta(stateDir).getOrElse(
      throw new IllegalStateException("commitDelta requires an existing " +
        "committed state (bootstrap with commitState)"))
    val prevOwners = ownersOf(committed)
    val next = committed.version + 1
    val b = committed.buckets
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
    val oldLab = ownedRelation(spark, stateDir, "labels", prevOwners,
      Some(tset), LabelsDdl)
    val newLab = oldLab.join(broadcast(delta.remap), Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("merged"), col("cluster_id")).as("cluster_id"))
      .unionByName(delta.newAssign.select("doc_id", "cluster_id"))
    val oldSz = ownedRelation(spark, stateDir, "sizes", prevOwners,
      Some(tset), SizesDdl)
    val newSz = oldSz.join(broadcast(delta.remap), Seq("cluster_id"), "left")
      .select(coalesce(col("merged"), col("cluster_id")).as("cluster_id"),
        col("cluster_size"))
      .unionByName(delta.newAssign.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size")))
      .groupBy("cluster_id").agg(sum("cluster_size").as("cluster_size"))
    val owners = touched.foldLeft(prevOwners)((v, k) => v.updated(k, next))
    VersionedIndex.advance(spark, stateDir, committed,
        foldOf(stateDir, committed, maxLiveSegments), Logs,
        Seq("owners" -> owners), stream) { a =>
      graft.Par.inParallel(
        () => writeBuckets(newLab, stateDir, "labels", next, b, touched),
        () => writeBuckets(newSz, stateDir, "sizes", next, b, touched),
        () => a.seg(Bands, delta.newBands),
        () => a.seg(Shingles, delta.newShingles))
    }
    retireOwners(stateDir, owners, Some(prevOwners))
    next
  }

  /** Re-size the persisted layout's bucket count — the migration fold a
    * growing deployment needs when the corpus has outgrown the count
    * pinned by its first commit (a bucket should stay a few block-sized
    * files). One full-rewrite commit ([[VersionedIndex.rebuild]]), atomic
    * like any other: every base part and live segment re-folds into ONE
    * new part per log under the new bucket count, labels/sizes rewrite
    * into `newBuckets` owner dirs, and the manifest lists only the new
    * part — readers of the previous version stay valid (its parts,
    * segments and bucket dirs survive one more commit), and the next
    * [[commitDelta]] prunes against the new layout. O(corpus) I/O by
    * nature — scheduled like any compaction, not a daily cost. */
  def migrateBuckets(spark: SparkSession, stateDir: String,
      newBuckets: Int): Long = {
    require(newBuckets > 0, s"newBuckets must be positive: $newBuckets")
    val committed = VersionedIndex.meta(stateDir).getOrElse(
      throw new IllegalStateException(
        "migrateBuckets requires an existing committed state"))
    val next = committed.version + 1
    val st = loadState(spark, stateDir).get
    def dropB(df: DataFrame) = IncrementalDedup.dropBucket(df)
    val all = (0 until newBuckets).toSeq
    val owners = Vector.fill(newBuckets)(next)
    // The streaming replay guard carries FORWARD: migration admits no
    // batch, so the last admitted (checkpoint identity, batch id) must
    // survive into this manifest — dropping it would open the exact
    // at-least-once window the guard exists for (a crash between the
    // migrated commit and the streaming checkpoint would re-admit the
    // last micro-batch against its own stored copies)
    VersionedIndex.rebuild(spark, stateDir, Logs, committed.stream,
        buckets = Some(newBuckets), members = Seq("owners" -> owners,
          "migratedFrom" -> committed.buckets)) { a =>
      graft.Par.inParallel(
        () => writeBuckets(dropB(st.labels), stateDir, "labels", next,
          newBuckets, all),
        () => writeBuckets(dropB(st.sizes), stateDir, "sizes", next,
          newBuckets, all),
        () => a.seg(Bands, dropB(st.bands)),
        () => a.seg(Shingles, dropB(st.shingles)))
    }
    retireOwners(stateDir, owners, Some(ownersOf(committed)))
    next
  }

  /** Admit every not-yet-seen parquet drop under `docsPath` into the
    * persisted state, exactly once per file, through the
    * [[AdmitStream]] driver (file bookmark, replay guard, decon gate,
    * `AvailableNow`). Batch 0 against an empty `stateDir` bootstraps
    * with [[IncrementalDedup.initialState]]; later batches take the
    * touched-bucket [[commitDelta]] path.
    *
    * `docsPath` goes to the file source verbatim — when each day lands
    * as its own directory (`drops/day1/`, `drops/day2/`, the landing-
    * zone shape), pass the glob `drops/&#42;`; the file source does not
    * recurse on its own. `schemaDdl` is declared (streaming sources
    * require it) — defaults to the documents fixture shape.
    *
    * @param deconProbe optional benchmark/eval set (doc_id, text): when
    *   set, every micro-batch passes the STREAMING DECONTAMINATION GATE
    *   before touching persisted state — q78's broadcast cross-set
    *   kernel ([[graft.operators.SubstringDedup.contaminationSpans]]:
    *   batch windows equi-joined against the broadcast probe windows,
    *   the batch never shuffles) flags docs sharing a ≥ k-token run
    *   with the probe; flagged docs are quarantined and EXCLUDED from
    *   the admission, so a contaminated daily drop never enters state
    *   (decon as an admission invariant, not a batch afterthought). An
    *   all-contaminated drop commits nothing.
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
    val gate = deconProbe.map(probe => (batch: DataFrame) =>
      graft.operators.SubstringDedup.contaminationSpans(batch, probe)
        .select(col("train_doc").as("doc_id")))
    AdmitStream.run(spark, docsPath, schemaDdl, stateDir, checkpointDir,
      maxFilesPerBatch, "doc_id", gate, quarantineDir) { (batch, stream) =>
      // the split store's own replay guard (see the param doc): skip its
      // commit when it already recorded this batch
      val splitAlready =
        splitStoreDir.exists(VersionedIndex.admitted(_, stream))
      loadState(spark, stateDir) match {
        case Some(prev) =>
          val delta = IncrementalDedup.admitBatchDelta(prev, batch)
          splitStoreDir.foreach(sd => if (!splitAlready) {
            // a split store enabled on existing dedup state starts from
            // the committed labels. The bootstrap records no batch id,
            // so a crash before the delta commit below redelivers into a
            // plain admitDelta
            if (VersionedIndex.currentVersion(sd).isEmpty)
              SplitPins.bootstrapStore(spark, sd, prev.labels)
            SplitPins.admitDelta(spark, sd, delta.newAssign, delta.remap,
              maxLiveSegments = maxLiveSegments, stream = Some(stream))
          })
          commitDelta(spark, stateDir, delta,
            maxLiveSegments = maxLiveSegments, stream = Some(stream))
          // the commit is durable — release the delta's component
          // checkpoint rather than waiting on the ContextCleaner
          delta.release()
        case None =>
          val st = IncrementalDedup.initialState(batch)
          splitStoreDir.foreach(sd => if (!splitAlready)
            SplitPins.bootstrapStore(spark, sd, st.labels,
              stream = Some(stream)))
          commitState(st, stateDir, buckets = buckets,
            maxLiveSegments = maxLiveSegments, stream = Some(stream))
      }
      // per-batch shingle/band memos are keyed on this batch's plan and
      // never hit again — drop them so a long-running stream doesn't
      // accumulate cached relations
      graft.operators.Dedup.clearShingleCaches()
    }
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
        loadState(s, s"$root/state").get))
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
