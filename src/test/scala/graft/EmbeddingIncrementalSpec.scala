package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, EmbeddingIncremental}

class EmbeddingIncrementalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("chained admissions equal the batch clustering (3-way split)") {
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val batchTruth = rows(Dedup.embeddingDupClusters(emb))
    var st = EmbeddingIncremental.initialState(emb.filter(col("vec_id") % 3 === 0))
    st = EmbeddingIncremental.admitBatch(st, emb.filter(col("vec_id") % 3 === 1))
    st = EmbeddingIncremental.admitBatch(st, emb.filter(col("vec_id") % 3 === 2))
    assert(rows(EmbeddingIncremental.labelsWithSizes(st)) == batchTruth,
      "3-day chain must equal the one-shot clustering")
  }

  test("a new vector bridging two old clusters merges them under the min label") {
    def unit(theta: Double): Array[Float] = {
      val v = Array.fill(64)(0f)
      v(0) = math.cos(theta).toFloat; v(1) = math.sin(theta).toFloat; v
    }
    val rad40 = math.toRadians(40) // cos 0.766 < 0.8: a-b NOT near-dups
    val rad20 = math.toRadians(20) // cos 0.94 >= 0.8 to both: c bridges
    val rnd = new scala.util.Random(5L)
    val day1 = (Seq((10L, unit(0)), (20L, unit(rad40))) ++
      (30 until 50).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
    val st0 = EmbeddingIncremental.initialState(day1, threshold = 0.8)
    val before = rows(EmbeddingIncremental.labelsWithSizes(st0))
    assert(before(10L) == ((10L, 1L)) && before(20L) == ((20L, 1L)),
      "the two directions must start as separate singletons")
    val st1 = EmbeddingIncremental.admitBatch(st0,
      Seq((100L, unit(rad20))).toDF("vec_id", "embedding"), threshold = 0.8)
    val after = rows(EmbeddingIncremental.labelsWithSizes(st1))
    assert(after(10L) == ((10L, 3L)) && after(20L) == ((10L, 3L)) &&
      after(100L) == ((10L, 3L)),
      s"bridge must merge both old clusters under the min label: $after")
    // background vectors untouched
    (30L until 50L).foreach(i => assert(after(i) == ((i, 1L))))
  }

  test("persisted store: save/admit/load chain equals one-shot; probe prunes grp= partitions") {
    val spark0 = spark
    import spark0.implicits._
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val batchTruth = rows(Dedup.embeddingDupClusters(emb))
    val dir = java.nio.file.Files.createTempDirectory("embstate").toString
    EmbeddingIncremental.saveState(
      EmbeddingIncremental.initialState(emb.filter(col("vec_id") % 3 === 0)), dir)
    EmbeddingIncremental.admitDrop(spark, dir, emb.filter(col("vec_id") % 3 === 1))
    EmbeddingIncremental.admitDrop(spark, dir, emb.filter(col("vec_id") % 3 === 2))
    val grown = EmbeddingIncremental.loadState(spark, dir).get
    assert(rows(EmbeddingIncremental.labelsWithSizes(grown)) == batchTruth,
      "persisted 3-day chain must equal the one-shot clustering")
    // a fresh save over a committed store must refuse (duplicate segs)
    intercept[IllegalArgumentException] {
      EmbeddingIncremental.saveState(grown, dir)
    }
    // two-level probe pruning over the persisted bucket log in the
    // TRICKLE regime (few touched grps — the only regime where pruning
    // is live; see EmbStateBuckets's note): the coarse grpb IN filter
    // must land INSIDE the scan's PartitionFilters bracket (an empty
    // bracket plus grpb in the output schema must not pass), and the
    // grp IN filter must be pushed to the scan (on grp, not grpb)
    val pruned = grown.buckets
      .filter(col("grpb").isin(0, 1) && col("grp").isin(0L, 64L))
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*grpb".r.findFirstIn(plan).isDefined,
      s"expected grpb inside the scan's PartitionFilters in:\n$plan")
    assert("PushedFilters: \\[[^\\]]*In\\(grp[,)]".r.findFirstIn(plan).isDefined,
      s"expected the grp IN filter pushed to the scan in:\n$plan")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("time-travel read: the previous version stays valid across one promote") {
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val dir = java.nio.file.Files.createTempDirectory("embtt").toString
    EmbeddingIncremental.saveState(
      EmbeddingIncremental.initialState(emb.filter(col("vec_id") % 3 === 0)), dir)
    EmbeddingIncremental.admitDrop(spark, dir, emb.filter(col("vec_id") % 3 === 1))
    EmbeddingIncremental.admitDrop(spark, dir, emb.filter(col("vec_id") % 3 === 2))
    // v1 (the PREVIOUS version) reads as the state after day 2: equal
    // to a one-shot clustering of days 1∪2 by the admission algebra
    val v1Truth = rows(Dedup.embeddingDupClusters(
      emb.filter(col("vec_id") % 3 =!= 2)))
    val v1 = EmbeddingIncremental.loadStateAt(spark, dir, 1)
    assert(rows(EmbeddingIncremental.labelsWithSizes(v1)) == v1Truth,
      "previous version must read as the state before the last admission")
    // the current version reads identically through both entry points
    assert(rows(EmbeddingIncremental.labelsWithSizes(
        EmbeddingIncremental.loadStateAt(spark, dir, 2))) ==
      rows(EmbeddingIncremental.labelsWithSizes(
        EmbeddingIncremental.loadState(spark, dir).get)))
    // v0 is past retention (current + previous only) — loud, named error
    val e = intercept[IllegalStateException] {
      EmbeddingIncremental.loadStateAt(spark, dir, 0)
    }
    assert(e.getMessage.contains("v0"), s"error must name the version: $e")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("retention depth knob: deeper time travel, recorded manifest, fold-safe GC boundary") {
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val dir = java.nio.file.Files.createTempDirectory("embretain").toString
    def admit(d: Int): Unit = EmbeddingIncremental.admitDrop(spark, dir,
      emb.filter(col("vec_id") % 5 === d), retainVersions = 3,
      maxLiveSegments = 2)
    EmbeddingIncremental.saveState(
      EmbeddingIncremental.initialState(emb.filter(col("vec_id") % 5 === 0)),
      dir, retainVersions = 3)
    (1 to 3).foreach(admit)
    // v0 part 0; v1 part 0 + seg 1; v2 FOLDS -> part 1; v3 part 1 +
    // seg 3 — retain 3 keeps v1..v3, and crucially v1's pre-fold part 0
    // and seg 1 must SURVIVE the v2 fold and the v3 commit because v1
    // itself is still retained
    assert(graft.operators.VersionedIndex.metaOrThrow(dir)
      .retainVersions.contains(3), "depth must be recorded in the manifest")
    val m3 = graft.operators.VersionedIndex.metaOrThrow(dir)
    assert(m3.parts == Vector(1L) && m3.segs == Vector(3L), m3.members)
    val v1Truth = rows(Dedup.embeddingDupClusters(
      emb.filter(col("vec_id") % 5 < 2)))
    assert(rows(EmbeddingIncremental.labelsWithSizes(
      EmbeddingIncremental.loadStateAt(spark, dir, 1))) == v1Truth,
      "retain=3 must keep current-2 readable across an intervening fold")
    // v0 is past the boundary: reclaimed on disk, loud, named
    val e = intercept[IllegalStateException] {
      EmbeddingIncremental.loadStateAt(spark, dir, 0)
    }
    assert(e.getMessage.contains("v0"), s"error must name the version: $e")
    assert(!new java.io.File(dir, "v0").isDirectory)
    (1 to 3).foreach(v =>
      assert(new java.io.File(dir, s"v$v").isDirectory, s"v$v must survive"))
    // one more admission moves the boundary: v4 folds -> part 2, v1 (and
    // only then its part 0 and seg 1) become unreferenced and are
    // reclaimed
    admit(4)
    assert(!new java.io.File(dir, "v1").isDirectory, "v1 past new boundary")
    Seq("labels/base/cpart=0", "labels/seg1").foreach(t => assert(
      !new java.io.File(dir, t).isDirectory,
      s"$t unreferenced once v1 fell out of retention"))
    val v2Truth = rows(Dedup.embeddingDupClusters(
      emb.filter(col("vec_id") % 5 < 3)))
    assert(rows(EmbeddingIncremental.labelsWithSizes(
      EmbeddingIncremental.loadStateAt(spark, dir, 2))) == v2Truth)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("log folds past maxLiveSegments and the folded chain equals one-shot") {
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val batchTruth = rows(Dedup.embeddingDupClusters(emb))
    val dir = java.nio.file.Files.createTempDirectory("embfold").toString
    EmbeddingIncremental.saveState(
      EmbeddingIncremental.initialState(emb.filter(col("vec_id") % 4 === 0)), dir)
    (1 until 4).foreach { d =>
      EmbeddingIncremental.admitDrop(spark, dir,
        emb.filter(col("vec_id") % 4 === d), maxLiveSegments = 2)
    }
    // save → part 0; admit1 → part 0 + seg 1; admit2 folds → part 1;
    // admit3 → part 1 + seg 3
    val m = graft.operators.VersionedIndex.metaOrThrow(dir)
    assert(m.parts == Vector(1L) && m.segs == Vector(3L),
      s"expected the day-2 commit to fold the log: ${m.members}")
    val grown = EmbeddingIncremental.loadState(spark, dir).get
    assert(rows(EmbeddingIncremental.labelsWithSizes(grown)) == batchTruth,
      "folded 4-day chain must equal the one-shot clustering")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("persisted remap composes across commits: a root merged again re-points") {
    def unit(thetaDeg: Double): Array[Float] = {
      val t = math.toRadians(thetaDeg)
      val v = Array.fill(64)(0f)
      v(0) = math.cos(t).toFloat; v(1) = math.sin(t).toFloat; v
    }
    val spark0 = spark
    import spark0.implicits._
    // day 1: three pairwise-distant singletons (cos 40° = 0.77 < 0.8)
    val day1 = Seq((10L, unit(0)), (20L, unit(40)), (5L, unit(80)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("embremap").toString
    EmbeddingIncremental.saveState(
      EmbeddingIncremental.initialState(day1, threshold = 0.8), dir)
    // day 2: 100 @ 20° bridges 10 and 20 → C gains 20→10
    EmbeddingIncremental.admitDrop(spark, dir,
      Seq((100L, unit(20))).toDF("vec_id", "embedding"), threshold = 0.8)
    // day 3: 200 @ 60° bridges cluster 10 (via member 20) and 5 →
    // remap 10→5 must RE-POINT the stored 20→10 entry to 20→5
    EmbeddingIncremental.admitDrop(spark, dir,
      Seq((200L, unit(60))).toDF("vec_id", "embedding"), threshold = 0.8)
    val grown = EmbeddingIncremental.loadState(spark, dir).get
    val after = rows(EmbeddingIncremental.labelsWithSizes(grown))
    Seq(5L, 10L, 20L, 100L, 200L).foreach(i =>
      assert(after(i) == ((5L, 5L)),
        s"vec $i must resolve to cluster 5 of size 5 after the chained " +
          s"merges: $after"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("streamed daily vector drops equal one-shot; bookmark is exactly-once") {
    import graft.streaming.EmbedStream
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val batchTruth = rows(Dedup.embeddingDupClusters(emb))
    val root = java.nio.file.Files.createTempDirectory("embstream").toString
    val (vecs, state, ckpt) = (s"$root/vecs", s"$root/state", s"$root/ckpt")
    // day 1 bootstrap, day 2 admission — only the NEW file is processed
    emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$vecs/day1")
    EmbedStream.admitNewDrops(spark, s"$vecs/*", state, ckpt)
    // snapshot the checkpoint image as of day 1 — the crash picture a
    // restart would see if the process died after the DAY-2 state
    // commit but before the streaming checkpoint's own commit
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(ckpt), new java.io.File(s"$root/ckpt_crash"))
    emb.filter(col("vec_id") % 2 === 1).coalesce(1).write.parquet(s"$vecs/day2")
    EmbedStream.admitNewDrops(spark, s"$vecs/*", state, ckpt)
    val grown = EmbeddingIncremental.loadState(spark, state).get
    assert(rows(EmbeddingIncremental.labelsWithSizes(grown)) == batchTruth,
      "streamed 2-day chain must equal the one-shot clustering")
    // crash replay: restart from the day-1 checkpoint image — the
    // stream redelivers day 2 under the SAME batch id and (via the
    // metadata-persisted query id) the SAME lineage identity;
    // foreachBatch is at-least-once, and the manifest's
    // (lineage, batchId) guard must skip the redelivery instead of
    // double-admitting day 2's vec_ids
    val before = java.nio.file.Files.readString(
      java.nio.file.Paths.get(state, "CURRENT"))
    EmbedStream.admitNewDrops(spark, s"$vecs/*", state, s"$root/ckpt_crash")
    assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(state, "CURRENT")) == before,
      "a crash-redelivered batch must not publish a new state version")
    val replayed = EmbeddingIncremental.loadState(spark, state).get
    assert(rows(EmbeddingIncremental.labelsWithSizes(replayed)) == batchTruth,
      "state must be unchanged after the redelivered batch")
    // no new drops: AvailableNow drains without a commit
    EmbedStream.admitNewDrops(spark, s"$vecs/*", state, ckpt)
    assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(state, "CURRENT")) == before,
      "an empty run must not publish a new state version")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("randomized persisted chains equal one-shot (seeded merge-heavy property)") {
    val spark0 = spark
    import spark0.implicits._
    // clustered fixture: vectors are noisy copies of a few base
    // directions, so random day splits constantly bridge and merge
    // clusters across admissions — the composition-heavy regime
    for (seed <- Seq(11L, 12L, 13L)) {
      val rnd = new scala.util.Random(seed)
      val bases = Array.fill(6)(Array.fill(64)(rnd.nextGaussian().toFloat))
      val vecs = (0 until 60).map { i =>
        val b = bases(rnd.nextInt(6))
        (i.toLong, b.zip(Array.fill(64)(rnd.nextGaussian().toFloat * 0.15f))
          .map { case (x, n) => x + n })
      }
      val df = vecs.toDF("vec_id", "embedding")
      val truth = rows(Dedup.embeddingDupClusters(df, threshold = 0.8))
      val days = vecs.map { case (id, _) => id -> rnd.nextInt(5) }.toMap
      val dir = java.nio.file.Files.createTempDirectory(s"embprop$seed").toString
      val dayOf = udf((id: Long) => days(id))
      EmbeddingIncremental.saveState(
        EmbeddingIncremental.initialState(
          df.filter(dayOf(col("vec_id")) === 0), threshold = 0.8), dir)
      (1 until 5).foreach { d =>
        // small maxLiveSegments so folds interleave with compositions
        EmbeddingIncremental.admitDrop(spark, dir,
          df.filter(dayOf(col("vec_id")) === d), threshold = 0.8,
          maxLiveSegments = 2)
      }
      val grown = EmbeddingIncremental.loadState(spark, dir).get
      assert(rows(EmbeddingIncremental.labelsWithSizes(grown)) == truth,
        s"seed $seed: 5-day random chain must equal one-shot")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("a batch colliding with nothing self-assigns as singletons") {
    val rnd = new scala.util.Random(6L)
    val day1 = (0 until 30).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val st0 = EmbeddingIncremental.initialState(day1, threshold = 0.95)
    val batch = (100 until 105).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val st1 = EmbeddingIncremental.admitBatch(st0, batch, threshold = 0.95)
    val after = rows(EmbeddingIncremental.labelsWithSizes(st1))
    assert(after.size == 35)
    (100L until 105L).foreach(i => assert(after(i) == ((i, 1L))))
  }

  test("embed decon gate: contaminated vector quarantined before state; state identical to clean-only run") {
    import graft.streaming.EmbedStream
    def unit(theta: Double): Array[Float] = {
      val v = Array.fill(64)(0f)
      v(0) = math.cos(theta).toFloat; v(1) = math.sin(theta).toFloat; v
    }
    // probe = one benchmark embedding; the contaminated drop vector
    // sits 20° away (cos 0.94 >= θ=0.8), the clean ones ~orthogonal
    val probe = Seq((9000L, unit(0))).toDF("vec_id", "embedding")
    val rnd = new scala.util.Random(7L)
    def day1 = (10 until 20).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    def day2mixed = Seq(
      (40L, unit(math.toRadians(90))), // clean (cos 0 to the probe)
      (41L, unit(math.toRadians(20)))  // contaminated (cos 0.94)
    ).toDF("vec_id", "embedding")
    def day2clean = day2mixed.filter(col("vec_id") === 40L)

    def stateImage(state: String): Map[String, Set[String]] = {
      val st = EmbeddingIncremental.loadState(spark, state).get
      Map("labels" -> st.labels.collect().map(_.toString).toSet,
        "sizes" -> st.sizes.collect().map(_.toString).toSet,
        "buckets" -> st.buckets.collect().map(_.toString).toSet)
    }
    val d1 = day1 // one deterministic materialization for both runs
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toDF("vec_id", "embedding")

    // run A: gated stream over day1 then the MIXED day2 drop
    val rootA = java.nio.file.Files.createTempDirectory("embdecon_a").toString
    d1.write.parquet(s"$rootA/vecs/day1")
    EmbedStream.admitNewDrops(spark, s"$rootA/vecs/*", s"$rootA/state",
      s"$rootA/ckpt", threshold = 0.8, deconProbe = Some(probe),
      quarantineDir = Some(s"$rootA/quar"), deconTheta = 0.8)
    day2mixed.write.parquet(s"$rootA/vecs/day2")
    EmbedStream.admitNewDrops(spark, s"$rootA/vecs/*", s"$rootA/state",
      s"$rootA/ckpt", threshold = 0.8, deconProbe = Some(probe),
      quarantineDir = Some(s"$rootA/quar"), deconTheta = 0.8)
    // the contaminated vector landed in quarantine, full row preserved
    val quar = spark.read.parquet(s"$rootA/quar/batch=1").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Float](1).length))
    assert(quar.map(_._1).toSeq == Seq(41L), s"quarantine held ${quar.toSeq}")
    assert(quar.head._2 == 64, "quarantined row lost its embedding")
    // the clean-batch path wrote no quarantine dir for batch 0
    assert(!new java.io.File(s"$rootA/quar/batch=0").exists(),
      "clean batch must not create a quarantine dir")
    val labelsA = rows(EmbeddingIncremental.labelsWithSizes(
      EmbeddingIncremental.loadState(spark, s"$rootA/state").get))
    assert(!labelsA.contains(41L), "contaminated vector leaked into state")
    assert(labelsA.contains(40L), "clean vector of the mixed drop missing")

    // run B: the same stream fed the PRE-CLEANED day2 — state content
    // identical relation by relation (the DedupStreamSpec gate pattern)
    val rootB = java.nio.file.Files.createTempDirectory("embdecon_b").toString
    d1.write.parquet(s"$rootB/vecs/day1")
    EmbedStream.admitNewDrops(spark, s"$rootB/vecs/*", s"$rootB/state",
      s"$rootB/ckpt", threshold = 0.8, deconProbe = Some(probe),
      quarantineDir = Some(s"$rootB/quar"), deconTheta = 0.8)
    day2clean.write.parquet(s"$rootB/vecs/day2")
    EmbedStream.admitNewDrops(spark, s"$rootB/vecs/*", s"$rootB/state",
      s"$rootB/ckpt", threshold = 0.8, deconProbe = Some(probe),
      quarantineDir = Some(s"$rootB/quar"), deconTheta = 0.8)
    assert(stateImage(s"$rootA/state") == stateImage(s"$rootB/state"),
      "gated mixed-drop state must equal the clean-only run's state")
    Seq(rootA, rootB).foreach(r =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r)))
  }
}
