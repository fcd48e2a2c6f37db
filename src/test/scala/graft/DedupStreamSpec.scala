package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, IncrementalDedup}
import graft.streaming.DedupStream
import java.nio.file.Files

/** Streaming admission of daily document drops into the persisted dedup
  * state: file-drop bookkeeping (checkpoint bookmark), versioned state
  * commits, and batch≡streaming equivalence. Fixture words mirror
  * IncrementalDedupSpec's searched seed (bridge doc merges two old
  * clusters at the j=0.5 threshold with verified band collisions). */
class DedupStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def w(is: Range): String = is.map(i => s"w23_$i").mkString(" ")

  def day1 = Seq(
    (10L, w(0 until 8)), (11L, w(0 until 8)),
    (20L, w(4 until 12)), (21L, w(4 until 12)),
    (30L, "an unrelated old singleton document about nothing shared"),
  ).toDF("doc_id", "text")
  def day2 = Seq(
    (1L, w(2 until 10)), // bridges clusters {10,11} and {20,21}; new min
    (40L, "a fresh singleton about entirely novel material today"),
  ).toDF("doc_id", "text")

  test("splitStoreDir: pinned splits ride the stream, bridge merge moves zero docs, replay skips") {
    val root = Files.createTempDirectory("dedup_stream_splits").toString
    val (docs, state, ckpt, sp) =
      (s"$root/docs", s"$root/state", s"$root/ckpt", s"$root/splits")
    def splits(): Map[Long, String] =
      graft.operators.SplitPins.loadSplits(spark, sp).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    day1.write.parquet(s"$docs/day1")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt,
      splitStoreDir = Some(sp))
    val before = splits()
    assert(before == Map(10L -> "val", 11L -> "val", 20L -> "train",
      21L -> "train", 30L -> "train"))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(ckpt), new java.io.File(s"$root/ckpt_crash"))
    // day 2: the bridge doc merges the val and train clusters — the
    // pinned store must move ZERO documents and give the bridge the
    // OLDEST pin (both seq 0: min pin_src = cluster 10 → val)
    day2.write.parquet(s"$docs/day2")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt,
      splitStoreDir = Some(sp))
    val after = splits()
    before.foreach { case (id, v) => assert(after(id) == v, s"doc $id moved") }
    assert(after(1L) == "val" && after(40L) == "val")
    // crash replay from the day-1 checkpoint image: the split store's
    // own (lineage, batchId) guard must skip the redelivered batch
    val v = Files.readString(java.nio.file.Paths.get(sp, "CURRENT"))
    DedupStream.admitNewDrops(spark, s"$docs/*", state, s"$root/ckpt_crash",
      splitStoreDir = Some(sp))
    assert(Files.readString(java.nio.file.Paths.get(sp, "CURRENT")) == v,
      "a redelivered batch must not publish a new split-store version")
    assert(splits() == after)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("splitStoreDir enabled on existing dedup state bootstraps from its labels") {
    val root = Files.createTempDirectory("dedup_stream_late_splits").toString
    val (docs, state, ckpt, sp) =
      (s"$root/docs", s"$root/state", s"$root/ckpt", s"$root/splits")
    // two drops admitted without a split store
    day1.write.parquet(s"$docs/day1")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)
    day2.write.parquet(s"$docs/day2")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)
    // the third enables it: doc 50 joins the bridged cluster 1, doc 60
    // is a fresh singleton
    Seq((50L, w(0 until 8)),
      (60L, "one more singleton with nothing in common at all"))
      .toDF("doc_id", "text").write.parquet(s"$docs/day3")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt,
      splitStoreDir = Some(sp))
    val rows = graft.operators.SplitPins.loadSplits(spark, sp).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toSeq
    val ids = Seq(1L, 10L, 11L, 20L, 21L, 30L, 40L, 50L, 60L)
    assert(rows.map(_._1).sorted == ids,
      s"every admitted doc needs exactly one split row: $rows")
    val split = rows.toMap
    // the committed labels seed the store at seq 0; the batch lands at
    // seq 1 and the new member inherits its cluster's pin
    assert(ids.filterNot(Set(50L, 60L)).forall(split(_)._2 == 0L))
    assert(split(50L) == ((split(1L)._1, 1L)) && split(60L)._2 == 1L)
    assert(Seq(10L, 11L, 20L, 21L).forall(i => split(i)._1 == split(1L)._1))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("daily drops stream into versioned state; equals batch recompute") {
    val root = Files.createTempDirectory("dedup_stream").toString
    val (docs, state, ckpt) = (s"$root/docs", s"$root/state", s"$root/ckpt")

    // day 1: bootstrap commit (v0)
    day1.write.parquet(s"$docs/day1")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)
    val v0 = DedupStream.loadState(spark, state).get
    assert(IncrementalDedup.labelsWithSizes(v0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap ==
      Map(10L -> (10L, 2L), 11L -> (10L, 2L), 20L -> (20L, 2L),
        21L -> (20L, 2L), 30L -> (30L, 1L)))

    // snapshot the checkpoint image as of day 1 — the crash picture a
    // restart would see if the process died after the DAY-2 state
    // commit but before the streaming checkpoint's own commit
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(ckpt), new java.io.File(s"$root/ckpt_crash"))

    // day 2 drop: only the NEW file is processed (bookmark), the bridge
    // doc merges both old clusters, and the streamed state equals a
    // from-scratch batch recompute over day1 ∪ day2
    day2.write.parquet(s"$docs/day2")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)
    val v1 = DedupStream.loadState(spark, state).get
    val streamed = IncrementalDedup.labelsWithSizes(v1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = Dedup.duplicateClusters(day1.union(day2)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch)
    assert(streamed(1L) == (1L, 5L) && streamed(21L) == (1L, 5L))

    // crash replay: restart from the day-1 checkpoint image — the
    // stream redelivers day 2 under the SAME batch id and (via the
    // metadata-persisted query id) the SAME lineage identity;
    // foreachBatch is at-least-once, and the manifest's
    // (lineage, batchId) guard must skip the redelivery instead of
    // double-admitting day 2's doc_ids
    val before = Files.readString(java.nio.file.Paths.get(state, "CURRENT"))
    DedupStream.admitNewDrops(spark, s"$docs/*", state, s"$root/ckpt_crash")
    assert(Files.readString(java.nio.file.Paths.get(state, "CURRENT")) == before,
      "a crash-redelivered batch must not publish a new state version")
    val replayed = IncrementalDedup.labelsWithSizes(
        DedupStream.loadState(spark, state).get).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(replayed == batch,
      "state must be unchanged after the redelivered batch")

    // no new drops: AvailableNow drains without a commit
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)
    assert(Files.readString(java.nio.file.Paths.get(state, "CURRENT")) == before,
      "an empty run must not publish a new state version")

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("streaming decon gate: contaminated drop quarantined before state; clean subset admitted; state identical to clean-only run") {
    import org.apache.spark.sql.functions.col
    // benchmark probe: a 10-token passage the crawler must never admit
    val bench = (1 to 10).map(i => f"ev$i%02d").mkString(" ")
    val probe = Seq((9000L, bench)).toDF("doc_id", "text")
    // day-2 drop: one clean doc + one contaminated doc quoting an
    // 8-token run of the benchmark mid-document
    val quote8 = (2 to 9).map(i => f"ev$i%02d").mkString(" ")
    def day2mixed = Seq(
      (40L, "a fresh singleton about entirely novel material today"),
      (41L, s"pre1 pre2 $quote8 post1 post2")).toDF("doc_id", "text")
    def day2clean = day2mixed.filter(col("doc_id") === 40L)

    def stateImage(state: String): Map[String, Set[String]] = {
      // the state's full LOGICAL content, relation by relation (file
      // images can't compare literally: parquet part names embed write
      // UUIDs and the anti join changes part layout) — row-set identity
      // of all four relations IS state identity for every later
      // admission
      val st = DedupStream.loadState(spark, state).get
      Map(
        "labels" -> st.labels.collect().map(_.toString).toSet,
        "sizes" -> st.sizes.collect().map(_.toString).toSet,
        "bands" -> st.bands.collect().map(_.toString).toSet,
        "shingles" -> st.shingles.collect().map(_.toString).toSet)
    }

    // run A: gated stream over day1 then the MIXED day2 drop
    val rootA = Files.createTempDirectory("dedup_decon_a").toString
    day1.write.parquet(s"$rootA/docs/day1")
    DedupStream.admitNewDrops(spark, s"$rootA/docs/*", s"$rootA/state",
      s"$rootA/ckpt", deconProbe = Some(probe),
      quarantineDir = Some(s"$rootA/quar"))
    day2mixed.write.parquet(s"$rootA/docs/day2")
    DedupStream.admitNewDrops(spark, s"$rootA/docs/*", s"$rootA/state",
      s"$rootA/ckpt", deconProbe = Some(probe),
      quarantineDir = Some(s"$rootA/quar"))
    // the contaminated doc landed in quarantine, full row preserved
    val quar = spark.read.parquet(s"$rootA/quar/batch=1").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    assert(quar.map(_._1).toSeq == Seq(41L), s"quarantine held $quar")
    assert(quar.head._2.contains(quote8), "quarantined row lost its text")
    // ...and never entered state: no label row, and the state's data
    // bytes are IDENTICAL to a run that admitted only the clean doc
    val labelsA = IncrementalDedup.labelsWithSizes(
      DedupStream.loadState(spark, s"$rootA/state").get)
      .collect().map(_.getLong(0)).toSet
    assert(!labelsA.contains(41L), "contaminated doc leaked into state")
    assert(labelsA.contains(40L), "clean doc of the mixed drop missing")

    // run B: same stream fed the PRE-CLEANED day2 (gate active but
    // nothing to flag) — byte-identical state proves the gate excised
    // exactly the contaminated rows and nothing else
    val rootB = Files.createTempDirectory("dedup_decon_b").toString
    day1.write.parquet(s"$rootB/docs/day1")
    DedupStream.admitNewDrops(spark, s"$rootB/docs/*", s"$rootB/state",
      s"$rootB/ckpt", deconProbe = Some(probe),
      quarantineDir = Some(s"$rootB/quar"))
    day2clean.write.parquet(s"$rootB/docs/day2")
    DedupStream.admitNewDrops(spark, s"$rootB/docs/*", s"$rootB/state",
      s"$rootB/ckpt", deconProbe = Some(probe),
      quarantineDir = Some(s"$rootB/quar"))
    assert(stateImage(s"$rootA/state") == stateImage(s"$rootB/state"),
      "gated-mixed state diverged from clean-fed state")

    Seq(rootA, rootB).foreach { r =>
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r))
      catch { case _: Exception => }
    }
  }

  test("10 chained daily admissions: bounded lineage, equals batch recompute") {
    // The compounding hazard of incremental state: if day N's state were a
    // DataFrame chained over day N-1's (unions on unions), plan size would
    // grow with the day count and day-10 admission would replay the whole
    // history. The persisted-state path must instead reload committed
    // parquet each day — plan size CONSTANT in the day index — and still
    // equal a from-scratch batch recompute over all 10 days.
    val root = Files.createTempDirectory("dedup_chain").toString
    val (docs, state, ckpt) = (s"$root/docs", s"$root/state", s"$root/ckpt")
    // day d brings one duplicate of the day-0 doc (guaranteed band
    // collision + jaccard 1.0 — every day merges into the same growing
    // cluster through the full LSH+verify path) plus one singleton
    def dayDocs(d: Int) = Seq(
      (d * 10L, w(0 until 8)),
      (d * 10L + 1, s"standalone document for day $d with unshared words")
    ).toDF("doc_id", "text")
    // per-day WRITE deltas: sizes of files that did not exist before the
    // day's admit (retention deletes old files, so a plain directory-size
    // delta would understate)
    def fileSizes(p: String): Map[String, Long] = {
      val d = new java.io.File(p)
      if (!d.isDirectory) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        org.apache.commons.io.FileUtils.listFiles(d, null, true)
          .asScala.map(f => f.getPath -> f.length).toMap
      }
    }
    val dayResults = (0 until 10).map { d =>
      dayDocs(d).write.parquet(s"$docs/day$d")
      val before = fileSizes(state)
      DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)
      val afterFiles = fileSizes(state)
      val newPaths = afterFiles.keySet -- before.keySet
      val written = newPaths.toSeq.map(afterFiles).sum
      val st = DedupStream.loadState(spark, state).get
      (st.labels.queryExecution.optimizedPlan.collect { case p => p }.size,
        written, newPaths)
    }
    val planSizes = dayResults.map(_._1)
    val dayWrites = dayResults.map(_._2)
    assert(planSizes.distinct.size == 1,
      s"labels plan size grew across chained days: $planSizes")
    // the write-amplification hazard: bands/shingles are append-only, so
    // a NON-FOLD day must commit ONE batch-sized log segment — flat in
    // the day index — rather than rewriting the O(corpus) relation (the
    // old scheme's day-9 write would be ~10x day-1's). The bootstrap
    // (day 0) writes its snapshot PRE-FOLDED into cpart=0, so segments
    // start at seg1; once K live segments have accumulated
    // (K = MaxLiveSegments = 4 → commits 5 and 9 here, which fold the
    // PRIOR K segments concurrently with their own writes) the fold
    // lands the K segments in the bucketed base: that day's write is
    // O(K·batch) rows — amortized the log writes every row exactly
    // twice. At toy scale the fold's bytes are dominated by per-file
    // parquet overhead (one file per touched bucket), so the fold days
    // (and day 0, whose bucketed bootstrap write is all per-file
    // overhead) are asserted structurally below, not byte-compared.
    val foldDays = Set(0, 5, 9)
    val flatDays = dayWrites.indices.filterNot(foldDays).map(dayWrites)
    assert(dayWrites.forall(_ > 0), s"a day committed nothing: $dayWrites")
    assert(flatDays.max <= 3 * flatDays.min,
      s"non-fold per-day state write is not batch-sized: $dayWrites")
    // the labels/sizes copy-on-write term: after the bootstrap, a day's
    // labels/sizes write is confined to the frontier's few cluster
    // buckets (the day-0 merge target + the day's two new clusters),
    // never a rewrite across all StateBuckets
    dayResults.drop(1).zipWithIndex.foreach { case ((_, _, paths), d) =>
      val buckets = paths.flatMap(p =>
        """/(?:labels|sizes)/b(\d+)/""".r.findFirstMatchIn(p)
          .map(_.group(1).toInt))
      assert(buckets.nonEmpty && buckets.size <= 8,
        s"day ${d + 1} labels/sizes write hit ${buckets.size} buckets: $buckets")
    }
    // two-tier layout after day 9: base holds compactions cpart=0 (the
    // pre-folded day-0 bootstrap), cpart=1 (days 1-4) and cpart=2
    // (days 5-8), bucket-partitioned; only the unfolded segment 9 is
    // LIVE to the current manifest (segFrom=9 — the commit-9 fold took
    // segs 5-8), while segs 5-8 stay on disk exactly one more commit
    // for in-flight readers of the PREVIOUS version (whose manifest
    // still lists them live) — so the daily probe reads at most
    // MaxLiveSegments segments plus touched base buckets, and NO
    // corpus-sized segment is ever live (the bootstrap snapshot lands
    // bucketed on day 0).
    Seq("bands", "shingles").foreach { t =>
      val segs = new java.io.File(s"$state/$t").listFiles
        .filter(f => f.isDirectory && f.getName.startsWith("seg"))
        .map(_.getName).toSet
      assert(segs == (5 to 9).map(i => s"seg$i").toSet,
        s"$t on-disk segments: $segs")
      (0 to 2).foreach { c =>
        val buckets = new java.io.File(s"$state/$t/base/cpart=$c").listFiles
        assert(buckets != null && buckets.exists(_.getName.startsWith("bucket=")),
          s"$t base compaction cpart=$c missing bucket partitions")
      }
    }
    // the stored bucket partition value must agree with the probe-side
    // bucket expression — the layout contract pruning relies on
    import graft.operators.IncrementalDedup.{bandBucket, docBucket}
    import org.apache.spark.sql.functions.col
    val n = DedupStream.StateBuckets
    assert(spark.read.parquet(s"$state/bands/base/cpart=0")
      .filter(bandBucket(col("band"), col("band_hash"), n) =!= col("bucket"))
      .isEmpty, "stored bands bucket disagrees with bandBucket()")
    assert(spark.read.parquet(s"$state/shingles/base/cpart=1")
      .filter(docBucket(col("doc_id"), n) =!= col("bucket"))
      .isEmpty, "stored shingles bucket disagrees with docBucket()")
    // labels/sizes version retention: only current + previous survive
    val vdirs = new java.io.File(state).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName).toSet
    assert(vdirs == Set("v8", "v9"), s"stale versions not pruned: $vdirs")
    val streamed = IncrementalDedup.labelsWithSizes(
        DedupStream.loadState(spark, state).get).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = Dedup.duplicateClusters(
        (0 until 10).map(dayDocs).reduce(_ union _)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch)
    // the rolling w-window chains day d to day d-1: all chained docs in
    // ONE cluster labeled by day 0's doc, built up over 10 separate admits
    assert(streamed(90L)._1 == 0L, s"chained merge broke: ${streamed(90L)}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("an oversized live segment (backfill day) folds at the next commit") {
    // The fold's MASS trigger: live segments are probed unpruned, so a
    // backfill day's bulk segment must not stay live for the count
    // rule's k days — it folds at the NEXT commit (max one interim
    // probe pays its mass). Equal-sized cohorts must NOT trigger early
    // (the cadence stays the count rule's — pinned by the 10-day chain
    // test's fold days). Chain: bootstrap, one small day, one BACKFILL
    // day (60 docs ≈ 30× the small day), one more small day whose
    // commit must fold.
    val root = Files.createTempDirectory("dedup_mass").toString
    val state = s"$root/state"
    def segsOnDisk(t: String): Set[String] =
      new java.io.File(s"$state/$t").listFiles
        .filter(f => f.isDirectory && f.getName.startsWith("seg"))
        .map(_.getName).toSet
    def admit(df: org.apache.spark.sql.DataFrame): Unit = {
      val prev = DedupStream.loadState(spark, state).get
      val delta = IncrementalDedup.admitBatchDelta(prev, df)
      DedupStream.commitDelta(spark, state, delta)
      delta.release()
      Dedup.clearShingleCaches()
    }
    DedupStream.commitState(IncrementalDedup.initialState(day1), state)
    admit(day2) // seg1, small
    // big enough that the segment's BYTES dominate the parquet footer
    // floor (tiny files are footer-sized regardless of rows)
    val backfill = (0 until 400).map(i =>
      (1000L + i, s"backfill bulk doc number $i with plenty of filler " +
        s"padding words alpha$i beta$i gamma$i delta$i " +
        w(i % 4 until i % 4 + 8))).toDF("doc_id", "text")
    admit(backfill) // seg2, >>4x seg1 — oversized, but folds only NEXT commit
    assert(segsOnDisk("bands").contains("seg2"),
      "backfill segment missing after its own commit")
    val day4 = Seq((2000L, "post backfill small day fresh text"))
      .toDF("doc_id", "text")
    admit(day4) // commit 3: mass trigger folds segs 1-2 (count rule is 4)
    val man = Files.readString(
      java.nio.file.Paths.get(state, "v3", "MANIFEST"))
    assert(man.contains(""""segFrom":3"""),
      s"mass trigger did not fold the oversized segment: $man")
    assert(new java.io.File(s"$state/bands/base/cpart=1").isDirectory,
      "mass-triggered fold wrote no compaction")
    // chain ≡ batch still holds through the early fold
    val streamed = IncrementalDedup.labelsWithSizes(
        DedupStream.loadState(spark, state).get).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = Dedup.duplicateClusters(
        day1.union(day2).union(backfill).union(day4)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch, "early fold diverged from batch recompute")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("major fold caps live base compactions; chain still equals batch") {
    // The LSM major compaction: at maxLiveSegments=1 every commit
    // folds, so without the major trigger the base would accumulate one
    // cpart per commit forever (the 100-day probe measured the probe
    // read tracking exactly that file count). Drive 2x MaxBaseCompactions
    // commits and assert the live cpart count stays capped, superseded
    // cparts are retired (current + previous manifests only), and the
    // final labeling equals the batch recompute across the major.
    val root = Files.createTempDirectory("dedup_major").toString
    val state = s"$root/state"
    def admit(df: org.apache.spark.sql.DataFrame): Unit = {
      val prev = DedupStream.loadState(spark, state).get
      val delta = IncrementalDedup.admitBatchDelta(prev, df)
      DedupStream.commitDelta(spark, state, delta, maxLiveSegments = 1)
      delta.release()
      Dedup.clearShingleCaches()
    }
    val n = 2 * DedupStream.MaxBaseCompactions
    def dayDf(d: Int) = Seq(
      (d * 10L, w(d until d + 8)), // w-window chains day d to d-1
      (d * 10L + 1, s"major filler day $d with unshared tokens"))
      .toDF("doc_id", "text")
    DedupStream.commitState(IncrementalDedup.initialState(dayDf(0)), state,
      maxLiveSegments = 1)
    (1 to n).foreach(d => admit(dayDf(d)))
    val cparts = new java.io.File(s"$state/bands/base").listFiles
      .filter(_.getName.startsWith("cpart=")).map(_.getName).toSet
    // live cparts (current manifest) <= MaxBaseCompactions + 1; on-disk
    // may keep the previous manifest's too
    assert(cparts.size <= 2 * (DedupStream.MaxBaseCompactions + 1),
      s"base compactions unbounded: ${cparts.size} dirs ($cparts)")
    val man = Files.readString(java.nio.file.Paths.get(state, s"v$n", "MANIFEST"))
    val cFrom = """"cFrom":(\d+)""".r.findFirstMatchIn(man).get.group(1).toInt
    val comps = """"compactions":(\d+)""".r.findFirstMatchIn(man).get.group(1).toInt
    assert(comps - cFrom <= DedupStream.MaxBaseCompactions,
      s"manifest lists ${comps - cFrom} live cparts: $man")
    assert(cFrom > 0, "no major fold ever ran in 2x MaxBaseCompactions commits")
    val streamed = IncrementalDedup.labelsWithSizes(
        DedupStream.loadState(spark, state).get).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = Dedup.duplicateClusters(
        (0 to n).map(dayDf).reduce(_ union _)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch, "major fold diverged from batch recompute")
    // and the chain is not vacuously all-singletons: merges did happen
    // across fold generations (which days collide is banding luck on
    // this synthetic seed — the equality above is the semantics claim)
    assert(streamed.values.exists(_._2 > 1),
      "fixture produced no merges — the major-fold equality is vacuous")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("a crashed fold is invisible and the retry overwrites it") {
    // Crash-safety of the compaction tier: a fold that dies mid-write
    // leaves a cpart directory the committed manifests never reference —
    // readers must not list it (its half-written files would poison the
    // scan), and the NEXT fold, which reuses the same compaction index,
    // must overwrite it. Simulate by planting a garbage cpart dir with a
    // corrupt parquet file above the committed compaction count.
    val root = Files.createTempDirectory("dedup_crash").toString
    val (docs, state, ckpt) = (s"$root/docs", s"$root/state", s"$root/ckpt")
    day1.write.parquet(s"$docs/day1")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt) // v0, c=1
    // the bootstrap pre-folds into cpart=0; the next fold writes
    // cpart=1 — plant the crashed-fold garbage THERE (above the
    // committed compaction count)
    val garbage = new java.io.File(s"$state/bands/base/cpart=1/bucket=3")
    assert(garbage.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(garbage.getPath, "part-corrupt.parquet"),
      Array.tabulate[Byte](64)(i => (i * 7).toByte))
    // reader ignores the unreferenced cpart: state loads and is usable
    val st = DedupStream.loadState(spark, state).get
    assert(st.bands.count() == day1.count() * graft.operators.Dedup.NumBands)
    // five more single-day admits accumulate segments 1-4 and force the
    // fold at commit 5 (which folds them) into cpart=1 — the retry
    // semantics: mode-overwrite wipes the garbage
    val day3 = Seq((50L, "third day content entirely fresh"))
      .toDF("doc_id", "text")
    val day4 = Seq((60L, "fourth day content also fresh"))
      .toDF("doc_id", "text")
    val day5 = Seq((70L, "fifth day content brand new"))
      .toDF("doc_id", "text")
    val day6 = Seq((80L, "sixth day content again unseen"))
      .toDF("doc_id", "text")
    Seq("day2" -> day2, "day3" -> day3, "day4" -> day4, "day5" -> day5,
        "day6" -> day6)
      .foreach { case (name, df) =>
        df.write.parquet(s"$docs/$name")
        DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)
      }
    assert(!new java.io.File(garbage, "part-corrupt.parquet").exists(),
      "retried fold did not overwrite the crashed compaction dir")
    // the folded state reads clean and equals the batch recompute
    val streamed = IncrementalDedup.labelsWithSizes(
        DedupStream.loadState(spark, state).get).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = Dedup.duplicateClusters(
        day1.union(day2).union(day3).union(day4).union(day5).union(day6))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("dedup commits inherit the shared guards: double-commit detected, " +
      "corrupt manifest aborts") {
    import graft.operators.VersionedIndex
    val root = Files.createTempDirectory("dedup_guards").toString
    val state = s"$root/state"
    DedupStream.commitState(IncrementalDedup.initialState(day1), state)
    val d2 = IncrementalDedup.admitBatchDelta(
      DedupStream.loadState(spark, state).get, day2)
    DedupStream.commitDelta(spark, state, d2)
    d2.release()
    val m = VersionedIndex.metaOrThrow(state)
    assert(m.version == 1 && m.segs == Vector(1L) && m.num("segFrom") == 1L,
      s"v1 should list its one live segment: ${m.members}")
    // a second writer re-committing the published version fails loudly
    val e = intercept[IllegalStateException] {
      VersionedIndex.commit(state, m.version, Seq("segFrom" -> 1L), m.segs)
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // a corrupt previous manifest aborts the next commit before anything
    // is retired: the pointer stays put and every referenced tier survives
    val day3 = Seq((50L, "third day singleton unshared words")).toDF("doc_id", "text")
    val d3 = IncrementalDedup.admitBatchDelta(
      DedupStream.loadState(spark, state).get, day3)
    Files.writeString(java.nio.file.Paths.get(state, "v1", "MANIFEST"),
      "{garbage")
    val e2 = intercept[IllegalStateException] {
      DedupStream.commitDelta(spark, state, d3)
    }
    d3.release()
    assert(e2.getMessage.contains("unreadable index manifest"), e2.getMessage)
    assert(Files.readString(java.nio.file.Paths.get(state, "CURRENT")).trim == "1")
    val owned = m.nums("owners").zipWithIndex.flatMap { case (v, k) =>
      Seq(s"labels/b$k/v$v", s"sizes/b$k/v$v") }
    (Seq("bands/seg1", "shingles/seg1", "bands/base/cpart=0",
        "shingles/base/cpart=0") ++ owned).foreach { t =>
      assert(new java.io.File(s"$state/$t").isDirectory,
        s"the aborted commit deleted referenced state $t")
    }
    Dedup.clearShingleCaches()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("a vanished committed compaction fails loudly; an empty fold reads clean") {
    // Two faces of the manifest contract. (a) A cpart dir the manifest
    // references but that no longer EXISTS is lost committed state —
    // loading it must throw, not silently serve a state missing dup
    // links. (b) A cpart dir that exists but holds only _SUCCESS is a
    // legitimately-empty fold (empty-corpus commits): the state must
    // read as an empty relation of the log's schema, not throw.
    val root = Files.createTempDirectory("dedup_manifest").toString

    // (a): the bootstrap commit itself pre-folds its snapshot into
    // cpart=0 with data (maxLiveSegments=1 keeps the follow-up commit
    // on the smallest cadence)
    val stateA = s"$root/a"
    DedupStream.commitState(IncrementalDedup.initialState(day1), stateA,
      maxLiveSegments = 1)
    DedupStream.commitState(
      IncrementalDedup.admitBatch(DedupStream.loadState(spark, stateA).get, day2),
      stateA, newBands = Some(Dedup.lshBands(day2)),
      newShingles = Some(Dedup.shingleSets(day2)), maxLiveSegments = 1)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$stateA/bands/base/cpart=0"))
    val ex = intercept[IllegalStateException] {
      DedupStream.loadState(spark, stateA).get.bands.count()
    }
    assert(ex.getMessage.contains("cpart=0"), ex.getMessage)

    // (b): two EMPTY commits → the bootstrap pre-fold writes a
    // _SUCCESS-only cpart=0 (no bucket dirs at all); both tiers
    // legitimately empty
    val stateB = s"$root/b"
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyState = IncrementalDedup.initialState(noDocs)
    DedupStream.commitState(emptyState, stateB, maxLiveSegments = 1)
    DedupStream.commitState(emptyState, stateB,
      newBands = Some(Dedup.lshBands(noDocs)),
      newShingles = Some(Dedup.shingleSets(noDocs)), maxLiveSegments = 1)
    val st = DedupStream.loadState(spark, stateB).get
    assert(st.bands.isEmpty && IncrementalDedup.dropBucket(st.bands)
      .columns.toSeq == Seq("doc_id", "band", "band_hash"))
    assert(st.shingles.isEmpty && IncrementalDedup.dropBucket(st.shingles)
      .columns.toSeq == Seq("doc_id", "sh"))
    // and the empty state still admits a first real batch cleanly
    val grown = IncrementalDedup.labelsWithSizes(
      IncrementalDedup.admitBatch(st, day1)).collect()
    assert(grown.length == day1.count())

    // a conflicting bucket count on a later commit is rejected, not
    // silently ignored (the manifest value wins)
    val ex2 = intercept[IllegalArgumentException] {
      DedupStream.commitState(emptyState, stateB,
        newBands = Some(Dedup.lshBands(noDocs)),
        newShingles = Some(Dedup.shingleSets(noDocs)), buckets = 64)
    }
    assert(ex2.getMessage.contains("fixed"), ex2.getMessage)

    Dedup.clearShingleCaches()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("multi-day catch-up: one run drains several pending drops as " +
      "separate admissions") {
    // The landing-zone reality check: the admission job was down for
    // three days, three day drops are pending. One admitNewDrops run
    // with maxFilesPerBatch=1 must replay them as SEPARATE micro-batch
    // admissions (bookmark semantics per file, commit per batch), and
    // the caught-up state must equal the batch recompute — the
    // incremental ≡ batch argument is order-independent, so the replay
    // needs no day ordering guarantees.
    val root = Files.createTempDirectory("dedup_catchup").toString
    val (docs, state, ckpt) = (s"$root/docs", s"$root/state", s"$root/ckpt")
    val day3 = Seq((50L, w(6 until 14)), // chains onto the day-2 bridge
      (60L, "third day singleton nothing shared")).toDF("doc_id", "text")
    Seq("day1" -> day1, "day2" -> day2, "day3" -> day3).foreach {
      case (name, df) => df.coalesce(1).write.parquet(s"$docs/$name")
    }
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt,
      maxFilesPerBatch = Some(1))
    // three files → three commits: bootstrap v0 + two delta commits
    assert(Files.readString(java.nio.file.Paths.get(state, "CURRENT"))
      .trim == "2", "catch-up did not admit each pending drop separately")
    val streamed = IncrementalDedup.labelsWithSizes(
        DedupStream.loadState(spark, state).get).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = Dedup.duplicateClusters(day1.union(day2).union(day3))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch)
    // a later run picks up only what the bookmark has not seen
    val day4 = Seq((70L, "fourth day fresh singleton")).toDF("doc_id", "text")
    day4.coalesce(1).write.parquet(s"$docs/day4")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt,
      maxFilesPerBatch = Some(1))
    assert(Files.readString(java.nio.file.Paths.get(state, "CURRENT"))
      .trim == "3", "post-catch-up run must admit exactly the new drop")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("labels/sizes commit rewrites only touched cluster-buckets; " +
      "untouched files are bit-identical") {
    // The last O(corpus)/day write term: labels/sizes used to be rewritten
    // whole every commit. The copy-on-write layout must confine a day's
    // labels/sizes write to the buckets the frontier touches (remapped
    // cluster ids ∪ merged labels ∪ batch assignments) and leave every
    // other bucket's files untouched on disk — same path, same bytes.
    import org.apache.spark.sql.functions.{col, lit}
    val root = Files.createTempDirectory("dedup_cow").toString
    val (docs, state, ckpt) = (s"$root/docs", s"$root/state", s"$root/ckpt")
    // day 1: the two 2-doc clusters + singleton, plus filler singletons so
    // most of the 32 buckets hold data a later commit must NOT rewrite
    val filler = (50L to 81L).map(i =>
      (i, s"filler singleton number $i with its own unshared vocabulary"))
    day1.union(filler.toDF("doc_id", "text")).write.parquet(s"$docs/day1")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)

    def fileBytes(): Map[String, Array[Byte]] = {
      import scala.jdk.CollectionConverters._
      Seq("labels", "sizes").flatMap { t =>
        val d = new java.io.File(s"$state/$t")
        if (!d.isDirectory) Nil
        else org.apache.commons.io.FileUtils.listFiles(d, null, true).asScala
          .map(f => f.getPath -> java.nio.file.Files.readAllBytes(f.toPath))
      }.toMap
    }
    val before = fileBytes()
    assert(before.nonEmpty)

    // day 2: the bridge doc merges clusters 10 and 20 under new label 1
    // (rows MIGRATE buckets: b(10)/b(20) drain into b(1)), plus singleton
    // 40 — the frontier touches at most the buckets of {1, 10, 20, 40}
    day2.write.parquet(s"$docs/day2")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)

    def bucketOf(id: Long): Int = spark.range(1)
      .select(IncrementalDedup.docBucket(lit(id), DedupStream.StateBuckets))
      .head.getInt(0)
    val touched = Set(1L, 10L, 20L, 40L).map(bucketOf)
    val after = fileBytes()
    // every pre-existing file survives the commit bit-identical (retention
    // keeps prev-manifest owners; nothing is rewritten in place)
    before.foreach { case (p, bytes) =>
      assert(after.contains(p), s"pre-existing state file vanished: $p")
      assert(java.util.Arrays.equals(after(p), bytes),
        s"pre-existing state file was rewritten in place: $p")
    }
    // every NEW file lives in a touched bucket's v1 dir — the commit wrote
    // O(touched buckets), not O(corpus)
    val newFiles = after.keySet -- before.keySet
    assert(newFiles.nonEmpty)
    newFiles.foreach { p =>
      val m = """/(?:labels|sizes)/b(\d+)/v(\d+)/""".r.findFirstMatchIn(p)
      assert(m.isDefined, s"unexpected state file location: $p")
      assert(m.get.group(2) == "1", s"new file outside commit v1: $p")
      assert(touched.contains(m.get.group(1).toInt),
        s"commit rewrote untouched bucket: $p (touched = $touched)")
    }
    // migrated rows land correctly: merged cluster 1 holds all 5 docs and
    // the drained buckets' old versions are superseded in the owner map
    val streamed = IncrementalDedup.labelsWithSizes(
        DedupStream.loadState(spark, state).get).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = Dedup.duplicateClusters(
        day1.union(filler.toDF("doc_id", "text")).union(day2)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch)
    assert(streamed(10L) == (1L, 5L) && streamed(21L) == (1L, 5L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("a crashed labels commit is invisible and the retry overwrites it") {
    // Copy-on-write crash face: a commit that dies after staging/moving
    // some bucket versions but BEFORE the manifest+pointer leaves
    // garbage b$k/v$N dirs (and possibly a stale .stage dir) that no
    // committed owner map references. Readers must not see them; the
    // retried commit (same version number — CURRENT never moved) must
    // wipe and rewrite them.
    val root = Files.createTempDirectory("dedup_cow_crash").toString
    val (docs, state, ckpt) = (s"$root/docs", s"$root/state", s"$root/ckpt")
    day1.write.parquet(s"$docs/day1")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt) // v0
    // plant a half-committed v1: garbage bucket version + stale staging
    val garbage = new java.io.File(s"$state/labels/b3/v1")
    assert(garbage.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(garbage.getPath, "part-corrupt.parquet"),
      Array.tabulate[Byte](64)(i => (i * 3).toByte))
    val stale = new java.io.File(s"$state/labels/.stage1/lbucket=3")
    assert(stale.mkdirs())
    // reader: owner map references only v0 — the garbage is never listed
    val st = DedupStream.loadState(spark, state).get
    assert(st.labels.count() == day1.count())
    // retry: the next commit IS v1 (pointer never moved) and must
    // succeed, overwriting the crashed attempt's leftovers
    day2.write.parquet(s"$docs/day2")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)
    assert(!new java.io.File(garbage, "part-corrupt.parquet").exists(),
      "retried commit did not overwrite the crashed bucket version")
    assert(!new java.io.File(s"$state/labels/.stage1").exists(),
      "retried commit left the stale staging dir behind")
    val streamed = IncrementalDedup.labelsWithSizes(
        DedupStream.loadState(spark, state).get).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = Dedup.duplicateClusters(day1.union(day2)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("bucket-count migration re-folds the layout; labels identical, " +
      "pruning intact, chain continues") {
    // StateBuckets is pinned by the first commit's manifest — a growing
    // deployment re-sizes via migrateBuckets: one atomic full-rewrite
    // commit under the new count. Labels must be bit-equal across the
    // migration, the re-folded base must carry the NEW bucket fn, the
    // superseded compactions must be retired after one more commit, and
    // daily admission must keep pruning against the new layout.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = Files.createTempDirectory("dedup_migrate").toString
    val (docs, state, ckpt) = (s"$root/docs", s"$root/state", s"$root/ckpt")
    // five admits: commit 4 folds the first four segments into cpart=0,
    // so the migration below supersedes a REAL pre-migration compaction
    (0 until 5).foreach { d =>
      Seq((d * 10L, w(d until d + 8)),
        (d * 10L + 1, s"migration filler for day $d unshared tokens"))
        .toDF("doc_id", "text").write.parquet(s"$docs/day$d")
      DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)
    }
    def labelsNow() = IncrementalDedup.labelsWithSizes(
        DedupStream.loadState(spark, state).get).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val beforeMigration = labelsNow()

    DedupStream.migrateBuckets(spark, state, 64)
    val migrated = DedupStream.loadState(spark, state).get
    assert(migrated.buckets.contains(64), "manifest bucket count not re-sized")
    assert(labelsNow() == beforeMigration,
      "labels changed across a pure re-bucketing migration")
    // the re-folded base stores the NEW bucket fn's values
    import graft.operators.IncrementalDedup.{bandBucket, docBucket}
    val newCpart = new java.io.File(s"$state/bands/base").listFiles
      .filter(_.getName.startsWith("cpart=")).map(_.getName).max
    assert(spark.read.parquet(s"$state/bands/base/$newCpart")
      .filter(bandBucket(col("band"), col("band_hash"), 64) =!= col("bucket"))
      .isEmpty, "migrated bands bucket disagrees with bandBucket(64)")

    // chain continues: another daily drop admits against the new layout,
    // equals the batch recompute, and the superseded compactions retire
    Seq((100L, w(0 until 8)), (101L, "post-migration singleton text"))
      .toDF("doc_id", "text").write.parquet(s"$docs/day5")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)
    val allDocs = (0 until 5).map(d => Seq(
        (d * 10L, w(d until d + 8)),
        (d * 10L + 1, s"migration filler for day $d unshared tokens")))
      .flatten ++ Seq((100L, w(0 until 8)), (101L, "post-migration singleton text"))
    val batch = Dedup.duplicateClusters(allDocs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(labelsNow() == batch, "post-migration admission diverged from batch")
    val cparts = new java.io.File(s"$state/bands/base").listFiles
      .filter(_.getName.startsWith("cpart=")).map(_.getName).toSet
    assert(!cparts.contains("cpart=0"),
      s"superseded pre-migration compaction not retired: $cparts")

    // and the probe still prunes: partition filter on bucket, strict
    // subset of the 64 partition dirs
    val st2 = DedupStream.loadState(spark, state).get
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = IncrementalDedup.prunedBands(st2,
        Dedup.lshBands(Seq((200L, w(0 until 8))).toDF("doc_id", "text")))
      probe.collect()
      val scans = probe.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("bands/base")) => f
      }
      assert(scans.nonEmpty, s"no base scan in:\n${probe.queryExecution}")
      assert(scans.head.partitionFilters.exists(_.toString.contains("bucket")),
        "migrated base probe lost its bucket partition filter")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    Dedup.clearShingleCaches()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("compacted state: the daily admit probe prunes to touched buckets") {
    // The 100 TB contract of the bucketed layout: a batch's band probe
    // and candidate verify must READ only the base buckets their keys
    // hash into — partition-pruned scans — not the whole accumulated
    // index/shingle store. Build a state whose bulk lives in the
    // bucketed base (the day-0 bootstrap pre-folds its 8-doc snapshot
    // into cpart=0; four more small admits leave live segments 1-4),
    // then pin the pruning on the physical plan: the base scan carries
    // a partition filter on `bucket` and selects strictly fewer
    // partition directories than exist.
    import graft.operators.{Dedup, IncrementalDedup}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = Files.createTempDirectory("dedup_prune").toString
    val (docs, state, ckpt) = (s"$root/docs", s"$root/state", s"$root/ckpt")
    (0 until 4).flatMap(d => Seq((d * 10L, w(d until d + 8)),
        (d * 10L + 1, s"filler text for day $d nothing shared here")))
      .toDF("doc_id", "text").write.parquet(s"$docs/day0")
    DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)
    (1 until 5).foreach { d =>
      Seq((40L + d * 10L, w((d + 4) until (d + 12))),
        (40L + d * 10L + 1, s"filler text for later day $d nothing shared"))
        .toDF("doc_id", "text").write.parquet(s"$docs/day$d")
      DedupStream.admitNewDrops(spark, s"$docs/*", state, ckpt)
    }
    val st = DedupStream.loadState(spark, state).get
    assert(st.buckets.contains(DedupStream.StateBuckets))
    assert(st.bands.columns.contains("bucket"))
    def bucketDirs(t: String): Int =
      new java.io.File(s"$state/$t/base/cpart=0").listFiles
        .count(_.getName.startsWith("bucket="))
    def baseScan(df: org.apache.spark.sql.DataFrame, t: String) = {
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains(s"$t/base")) => f
      }
      assert(scans.nonEmpty, s"no $t base scan in:\n${df.queryExecution}")
      scans.head
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // one-doc batch: 4 band keys → at most 4 of the 32 buckets
      val batch = Seq((100L, w(0 until 8))).toDF("doc_id", "text")
      val probe = IncrementalDedup.prunedBands(st, Dedup.lshBands(batch))
      val bs = baseScan(probe, "bands")
      assert(bs.partitionFilters.exists(_.toString.contains("bucket")),
        s"bands base scan has no bucket partition filter: $bs")
      val bandParts = bs.selectedPartitions.partitionCount
      assert(bandParts > 0 && bandParts <= Dedup.NumBands &&
        bandParts < bucketDirs("bands"),
        s"bands probe read $bandParts of ${bucketDirs("bands")} buckets")
      // two-endpoint candidate set → at most 2 shingle buckets
      val cand = Seq((0L, 100L)).toDF("doc_a", "doc_b")
      val verify = IncrementalDedup.prunedShingles(st, cand)
      val ss = baseScan(verify, "shingles")
      assert(ss.partitionFilters.exists(_.toString.contains("bucket")),
        s"shingles base scan has no bucket partition filter: $ss")
      val shParts = ss.selectedPartitions.partitionCount
      assert(shParts > 0 && shParts <= 2 && shParts < bucketDirs("shingles"),
        s"shingles probe read $shParts of ${bucketDirs("shingles")} buckets")
      // pruning loses nothing: the pruned probe holds every state row
      // joinable with the batch (the day-0 twin's bands land in the
      // probed buckets by the shared-key argument)
      assert(probe.filter(col("doc_id") === 0L).count() == Dedup.NumBands)
      assert(verify.filter(col("doc_id") === 0L).count() == 1)
      // and the full admission is semantics-identical: the same batch
      // admitted through the bucketed probe and through the full-state
      // scan (buckets=None on the same loaded state) yields the same
      // labeling
      def labels(s: graft.operators.DedupState) = {
        Dedup.clearShingleCaches()
        IncrementalDedup.labelsWithSizes(IncrementalDedup.admitBatch(s, batch))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      }
      val viaPruned = labels(st)
      val viaFull = labels(st.copy(buckets = None))
      assert(viaPruned == viaFull, "pruned admission diverged from full scan")
      assert(viaPruned.exists { case (d, c, n) => d == 100L && c == 0L && n >= 2 },
        s"batch twin did not join day-0's cluster: $viaPruned")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    Dedup.clearShingleCaches()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("auto bucket migration: mass trigger fires, floor blocks, opt-out pins, chain == batch") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("automig").toString
    def day(d: Int) = (0 until 10).map(i =>
      (d * 100L + i, s"day $d document $i with its own unshared words " +
        s"${d}x$i alpha beta gamma")).toDF("doc_id", "text")
    // chain /a: a 1-byte mass target makes ANY folded base oversized, and
    // floor=0 disarms the tiny-file guard — the MASS trigger must migrate
    // 4 -> 16 at the FIRST delta commit with no manual call. (The
    // batch-saturation trigger that an earlier build used here was
    // measured out — a saturated grid is saturated at 4x the buckets too;
    // see the policy scaladoc and bench/CHAINPROBE_r17_automig.txt.)
    DedupStream.commitState(IncrementalDedup.initialState(day(0)),
      s"$root/a", buckets = 4)
    val migratedAt = (1 to 4).flatMap { d =>
      val prev = DedupStream.loadState(spark, s"$root/a").get
      val delta = IncrementalDedup.admitBatchDelta(prev, day(d))
      DedupStream.commitDelta(spark, s"$root/a", delta,
        bucketBytesTarget = 1L, bucketBytesFloor = 0L)
      delta.release()
      val b = DedupStream.loadState(spark, s"$root/a").get.buckets.get
      if (b != 4) Some(d -> b) else None
    }
    assert(migratedAt.headOption.exists(_._1 == 1),
      s"expected the 4->16 mass migration at the first delta commit, " +
        s"got $migratedAt")
    val st = DedupStream.loadState(spark, s"$root/a").get
    // geometric growth continues while mass stays over target (and the
    // floor is off) — the cap test is AutoMigrateMaxBuckets, not 16
    assert(st.buckets.exists(_ > 4), s"layout never grew: ${st.buckets}")
    val bFinal = st.buckets.get
    // migration recorded in the promoted manifest chain
    val manifests = new java.io.File(s"$root/a").listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .map(f => new java.io.File(f, "MANIFEST")).filter(_.isFile)
      .map(f => Files.readString(f.toPath))
    assert(manifests.exists(_.contains("\"migratedFrom\":")),
      s"migration not recorded: ${manifests.toSeq}")
    // the migrated layout's stored bucket values obey the probe contract —
    // checked on the CURRENT compaction only (retention keeps the
    // superseded pre-migration cpart one more commit, at the OLD count)
    import graft.operators.IncrementalDedup.{bandBucket, docBucket}
    val newestCpart = new java.io.File(s"$root/a/bands/base").listFiles
      .filter(_.getName.startsWith("cpart="))
      .maxBy(_.getName.drop("cpart=".length).toInt)
    assert(spark.read
      .option("basePath", s"$root/a/bands/base")
      .parquet(newestCpart.getPath)
      .filter(bandBucket(col("band"), col("band_hash"), bFinal) =!= col("bucket"))
      .isEmpty, s"migrated bands bucket disagrees with bandBucket() at b=$bFinal")
    // chain == batch across the migration(s)
    val streamed = IncrementalDedup.labelsWithSizes(st).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = Dedup.duplicateClusters((0 to 4).map(day).reduce(_ union _))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch, "auto-migration broke chain == batch")
    // opt-out pins the layout (the fixed-layout A/B the probes rely on)
    DedupStream.commitState(IncrementalDedup.initialState(day(0)),
      s"$root/b", buckets = 4)
    (1 to 4).foreach { d =>
      val prev = DedupStream.loadState(spark, s"$root/b").get
      val delta = IncrementalDedup.admitBatchDelta(prev, day(d))
      DedupStream.commitDelta(spark, s"$root/b", delta,
        autoMigrate = false, bucketBytesTarget = 1L, bucketBytesFloor = 0L)
      delta.release()
    }
    assert(DedupStream.loadState(spark, s"$root/b").get.buckets.contains(4))
    // the tiny-file floor: same oversized-vs-target base, DEFAULT floor —
    // 16 buckets of this toy base would hold < AutoMigrateMinBucketBytes
    // each, so the policy refuses ("buckets must hold real data")
    DedupStream.commitState(IncrementalDedup.initialState(day(0)),
      s"$root/c", buckets = 4)
    (1 to 4).foreach { d =>
      val prev = DedupStream.loadState(spark, s"$root/c").get
      val delta = IncrementalDedup.admitBatchDelta(prev, day(d))
      DedupStream.commitDelta(spark, s"$root/c", delta,
        bucketBytesTarget = 1L)
      delta.release()
    }
    assert(DedupStream.loadState(spark, s"$root/c").get.buckets.contains(4),
      "the tiny-file floor should have blocked this toy-corpus migration")
    Dedup.clearShingleCaches()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
