package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.engine.{CrimeViews, PrestoCompat}
import graft.operators.{Events, Skew}

/** Property-based laws (SURVEY.md §5 item 3): date round-trips over
  * generated 12-hour strings, ratio bounds, count invariants, salted-agg
  * losslessness. (Raw scalacheck Gen with fixed seeds — the
  * scalatest/scalacheck bridge artifact is not in the offline cache.) */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic sample of size n from a Gen. */
  def sample[A](g: Gen[A], n: Int, seed: Long = 42L): List[A] =
    Gen.listOfN(n, g).apply(org.scalacheck.Gen.Parameters.default, Seed(seed)).get

  val tsGen: Gen[java.time.LocalDateTime] = for {
    y <- Gen.choose(2001, 2024)
    m <- Gen.choose(1, 12)
    d <- Gen.choose(1, java.time.YearMonth.of(y, m).lengthOfMonth())
    h <- Gen.choose(0, 23)
    mi <- Gen.choose(0, 59)
    s <- Gen.choose(0, 59)
  } yield java.time.LocalDateTime.of(y, m, d, h, mi, s)

  test("12-hour format/parse round-trip is the identity (F2/F4 hazard)") {
    (1L to 5L).foreach { seed =>
      val dts = sample(tsGen, 200, seed)
      val df = dts.map(java.sql.Timestamp.valueOf).toDF("ts")
        .withColumn("s", date_format($"ts", CrimeViews.CrimeDateFmt))
        .withColumn("back", PrestoCompat.dateParse($"s", "%m/%d/%Y %T %p"))
      assert(df.filter($"back" =!= $"ts").count() == 0, s"seed=$seed")
    }
  }

  test("ISO day-of-week is always 1..7 and weekday(Monday)==1") {
    val dts = sample(tsGen, 500)
    val df = dts.map(java.sql.Timestamp.valueOf).toDF("ts")
      .withColumn("dow", PrestoCompat.dayOfWeekIso($"ts"))
      .withColumn("name", date_format($"ts", "EEEE"))
    assert(df.filter($"dow" < 1 || $"dow" > 7).count() == 0)
    assert(df.filter($"name" === "Monday" && $"dow" =!= 1).count() == 0)
    assert(df.filter($"name" === "Sunday" && $"dow" =!= 7).count() == 0)
  }

  test("arrest_pct in [0,100]; tot_arrests <= tot_reports; counts sum to input") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.engine.StarQueries.arrestPctTopk(spark, sf).collect()
    out.foreach { r =>
      val (reports, arrests, pct) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(arrests <= reports)
      assert(pct >= 0.0 && pct <= 100.0)
    }
    val counts = graft.engine.StarQueries.countByType(spark, sf)
      .agg(sum("count")).as[Long].collect().head
    assert(counts == graft.engine.Tables.orders(spark, sf).count())
  }

  test("salted aggregation is lossless vs direct groupBy") {
    val events = graft.engine.Tables.events(spark, "/root/testdata/sf0.001")
    val direct = events.groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"), sum($"value").as("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100))).toSet
    val salted = Skew.saltedAgg(events, "event_type", Seq("value"),
      saltExpr = col("event_id"), buckets = 16)
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100))).toSet
    assert(direct == salted)
  }

  test("salt-grid self-join is an exact pair decomposition on random relations") {
    // property: for random bucketed relations and any bucket count, the
    // grid sides joined on (key, cell) yield EXACTLY the unordered pairs
    // of the naive within-bucket self-join — every pair once, none lost,
    // none invented (the completeness claim behind q52 == q36's oracle)
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    import org.scalatest.prop.Configuration
    val gen = for {
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, for {
        key <- Gen.choose(0, 3) // few buckets → plenty of intra-bucket pairs
        id <- Gen.choose(0L, 40L)
      } yield (key, id))
      buckets <- Gen.choose(2, 9)
    } yield (rows.distinct, buckets)
    val prop = forAll(gen) { case (rows, buckets) =>
      val rel = rows.toDF("bucket", "id")
      val naive = {
        val l = rel.select($"bucket", $"id".as("a"))
        val r = rel.select($"bucket", $"id".as("b"))
        l.join(r, "bucket").filter($"a" < $"b")
          .select($"a", $"b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      }
      val (gl, gr) = Skew.saltGridSides(rel, "id", buckets)
      val grid = gl.select($"bucket", $"__cell_lo", $"__cell_hi", $"id".as("a"))
        .join(gr.select($"bucket", $"__cell_lo", $"__cell_hi", $"id".as("b")),
          Seq("bucket", "__cell_lo", "__cell_hi"))
        .filter($"a" =!= $"b")
        .select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b"))
        .distinct().collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      grid == naive
    }
    org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(12), prop)
      .status match {
      case org.scalacheck.Test.Passed | org.scalacheck.Test.Proved(_) => ()
      case other => fail(s"property failed: $other")
    }
  }

  test("sessionize: every event in exactly one session; session bounds ordered") {
    val events = graft.engine.Tables.events(spark, "/root/testdata/sf0.001")
    val sessions = Events.sessionize(events).collect()
    assert(sessions.map(_.getLong(2)).sum == events.count())
    sessions.foreach { r =>
      assert(!r.getTimestamp(3).after(r.getTimestamp(4)), "start <= end")
    }
  }

  test("large-star/small-star components == union-find on random graphs") {
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map(n => n -> find(n)).toMap
    }
    val edgeGen = for {
      a <- Gen.choose(0L, 40L); b <- Gen.choose(0L, 40L)
    } yield (a, b)
    (1L to 3L).foreach { seed =>
      val edges = sample(edgeGen, 60, seed).filter(e => e._1 != e._2)
      // driverThreshold = 0 forces the DISTRIBUTED star rounds — the
      // default would short-circuit a 60-edge graph to the driver-side
      // union-find and the test would compare union-find to itself
      val got = graft.operators.Components
        .connectedComponents(edges.toDF("a", "b"), driverThreshold = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(edges), s"seed=$seed")
      // and the driver fast path agrees with the distributed fixpoint
      val fast = graft.operators.Components
        .connectedComponents(edges.toDF("a", "b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == got, s"seed=$seed: driver fast path diverged")
    }
  }

  test("deprecation audit: flagged iff absent from newest K; merged schema keeps union") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val pool = ('a' to 'j').map(_.toString)
    val fileGen: Gen[StructType] = Gen.someOf(pool).suchThat(_.nonEmpty)
      .map(cols => StructType(cols.sorted.map(c => StructField(c, LongType)).toSeq))
    (1L to 5L).foreach { seed =>
      val schemas = sample(fileGen, 8, seed)
      (1 to 3).foreach { k =>
        val audits = graft.sources.Ingest.columnAudits(schemas, lastK = k)
        val everSeen = schemas.flatMap(_.fieldNames).toSet
        assert(audits.map(_._1).toSet == everSeen, s"seed=$seed k=$k: audit covers every column once")
        audits.foreach { case (name, _, first, last, dep) =>
          val present = schemas.zipWithIndex.collect {
            case (s, i) if s.fieldNames.contains(name) => i
          }
          assert(first == present.min && last == present.max, s"seed=$seed k=$k $name")
          val inNewestK = present.exists(_ >= schemas.length - k)
          assert(dep == !inNewestK,
            s"seed=$seed k=$k $name: deprecated=$dep but inNewestK=$inNewestK")
        }
        val merged = graft.sources.Ingest.mergeSchemasWithPolicy(schemas, lastK = k)
        assert(merged.fieldNames.toSet == everSeen,
          s"seed=$seed k=$k: deprecate never drops a column")
        merged.fields.foreach { f =>
          val dep = audits.find(_._1 == f.name).get._5
          assert(f.metadata.contains("deprecated") == dep, s"seed=$seed k=$k ${f.name}")
        }
      }
    }
  }

  test("randomized daily chains: persisted COW commits equal batch recompute") {
    // Property form of the DedupStreamSpec chain tests: random corpora
    // produce random merge topologies (multi-cluster merges, bucket
    // migrations, singleton days) that hand fixtures cannot enumerate.
    // For each seed: 4 daily drops through the persisted copy-on-write
    // commit path must equal a from-scratch batch clustering of the
    // union — the incremental ≡ batch law carried through the storage
    // layer, not just the in-memory operator.
    import graft.operators.{Dedup, IncrementalDedup}
    import graft.streaming.DedupStream
    // docs drawn from 6 token pools; near-dups arise when two docs pick
    // overlapping windows of the same pool (the q37 shape, randomized)
    def docGen(pool: Int): Gen[String] = for {
      start <- Gen.choose(0, 4)
      len <- Gen.choose(6, 8)
    } yield (start until start + len).map(i => s"p${pool}_w$i").mkString(" ")
    val rowGen: Gen[(Int, String)] = for {
      pool <- Gen.choose(0, 5)
      text <- docGen(pool)
    } yield (pool, text)
    (1L to 3L).foreach { seed =>
      val rows = sample(rowGen, 48, seed).zipWithIndex
        .map { case ((_, text), i) => (i.toLong, text) }
      val root = java.nio.file.Files.createTempDirectory(s"prop_chain$seed").toString
      (0 until 4).foreach { day =>
        rows.filter(_._1 % 4 == day).toDF("doc_id", "text")
          .write.parquet(s"$root/docs/day$day")
        DedupStream.admitNewDrops(spark, s"$root/docs/*",
          s"$root/state", s"$root/ckpt", buckets = 8)
      }
      val streamed = IncrementalDedup.labelsWithSizes(
          DedupStream.loadState(spark, s"$root/state").get).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      Dedup.clearShingleCaches()
      val batch = Dedup.duplicateClusters(rows.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(streamed == batch, s"seed=$seed: chained COW state diverged " +
        s"from batch recompute")
      Dedup.clearShingleCaches()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("randomized substring and embed chains: tiered appends and folds equal batch recompute") {
    // The two-tier log law for the other two bucketed stores: seeded
    // random day splits, each admitted under a random fold cap of 1 to 3
    // so that day-segment appends and base-part folds interleave, must
    // load as the one-shot result over the union — the substring store's
    // spans as duplicateSpans, the embedding store's labels with sizes as
    // initialState's.
    import graft.operators.{EmbeddingIncremental, SubstringDedup, VersionedIndex}
    def spanSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    def labelSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // docs from 4 token pools share >= DedupK-token runs when two docs of
    // one pool overlap enough
    val docGen: Gen[String] = for {
      pool <- Gen.choose(0, 3)
      start <- Gen.choose(0, 6)
      len <- Gen.choose(13, 18)
    } yield (start until start + len).map(i => s"s${pool}_w$i").mkString(" ")
    val arms = collection.mutable.Set[String]()
    (1L to 2L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val days = 4
      // every day gets at least one row
      def dayOf(i: Int) = if (i < days) i else rnd.nextInt(days)
      val docs = sample(docGen, 24, seed).zipWithIndex
        .map { case (text, i) => (i.toLong, text, dayOf(i)) }
      val bases = Array.fill(4)(Array.fill(64)(rnd.nextGaussian().toFloat))
      val vecs = (0 until 24).map { i =>
        (i.toLong, bases(rnd.nextInt(4)).map(_ + rnd.nextGaussian().toFloat * 0.15f),
          dayOf(i))
      }
      val docDf = docs.toDF("doc_id", "text", "day")
      val vecDf = vecs.toDF("vec_id", "embedding", "day")
      def docDay(d: Int) = docDf.filter($"day" === d).drop("day")
      def vecDay(d: Int) = vecDf.filter($"day" === d).drop("day")
      val root = java.nio.file.Files.createTempDirectory(s"prop_tiered$seed").toString
      val (sub, emb) = (s"$root/substring", s"$root/embed")
      SubstringDedup.bootstrapStore(spark, sub, docDay(0))
      EmbeddingIncremental.bootstrapDrop(spark, emb, vecDay(0))
      (1 until days).foreach { d =>
        SubstringDedup.admitDrop(spark, sub, docDay(d), maxLiveSegments = 1 + rnd.nextInt(3))
        EmbeddingIncremental.admitDrop(spark, emb, vecDay(d),
          maxLiveSegments = 1 + rnd.nextInt(3))
        Seq(sub, emb).foreach(dir =>
          arms += (if (VersionedIndex.metaOrThrow(dir).segs.isEmpty) "fold" else "append"))
      }
      val oneShotSpans = spanSet(SubstringDedup.duplicateSpans(docDf.drop("day")))
      assert(oneShotSpans.nonEmpty, s"seed=$seed: the fixture shares no span")
      assert(spanSet(SubstringDedup.loadStore(spark, sub).get.spans) == oneShotSpans,
        s"seed=$seed: chained substring store diverged from duplicateSpans")
      val oneShotLabels = labelSet(EmbeddingIncremental.labelsWithSizes(
        EmbeddingIncremental.initialState(vecDf.drop("day"))))
      assert(oneShotLabels.exists(_._3 > 1), s"seed=$seed: the fixture has no cluster")
      assert(labelSet(EmbeddingIncremental.labelsWithSizes(
          EmbeddingIncremental.loadState(spark, emb).get)) == oneShotLabels,
        s"seed=$seed: chained embedding store diverged from initialState")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
    assert(arms == Set("fold", "append"), s"the chains ran only $arms")
  }

  test("large-star/small-star handles a deep chain in few rounds") {
    // a 30-node path graph: diameter 29, the worst case for plain
    // min-label propagation; the star alternation collapses it fast
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val got = graft.operators.Components
      .connectedComponents(chain, maxRounds = 8, driverThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (1L to 30L).toSet)
    assert(got.values.forall(_ == 1L))
  }

  test("randomized ANN index chains: appends + drift re-trains ≡ fresh state") {
    // The VersionedIndex law, exercised over random batch partitions of
    // the corpus: after ANY interleaving of appends and drift-triggered
    // re-trains, the committed store must equal the fresh computation
    // over the grown corpus under the CURRENT version's model —
    //  - IVF: assignments ≡ assignCells(grown, current centroids),
    //    every vector exactly once;
    //  - PQ: codes+rnorm ≡ pqIndexRelation(grown, current codebook).
    // maxDriftFraction 0.35 makes the random batch sizes trip the
    // re-train on some steps and not others, so both branches run.
    import graft.operators.{Similarity, VersionedIndex}
    val emb = graft.engine.Tables
      .embeddings(spark, "/root/testdata/sf0.001").localCheckpoint()
    val ids = emb.select("vec_id").as[Long].collect().sorted.toSeq
    (1L to 2L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val nBatches = 4
      // the base batch must hold the PqK codebook seeds (pqCodebook
      // requires them — spec'd loud failure otherwise); everything else
      // lands in a uniformly random batch
      val batchOf = ids.map(id =>
        id -> (if (id < Similarity.PqK) 0 else rnd.nextInt(nBatches))).toMap
      def ofBatches(bs: Set[Int]) = {
        val keep = ids.filter(id => bs(batchOf(id)))
        emb.filter(col("vec_id").isin(keep: _*))
      }
      val ivfDir = java.nio.file.Files
        .createTempDirectory(s"prop_ivf$seed").toString
      val pqDir = java.nio.file.Files
        .createTempDirectory(s"prop_pq$seed").toString
      Similarity.buildIvfIndex(ofBatches(Set(0)), ivfDir)
      Similarity.buildPqIndex(ofBatches(Set(0)), pqDir)
      (1 until nBatches).foreach { b =>
        val grownSet = (0 to b).toSet
        val grown = ofBatches(grownSet)
        val batch = ofBatches(Set(b))
        Similarity.appendToIvfIndex(grown, batch, ivfDir,
          maxDriftFraction = 0.35)
        Similarity.appendToPqIndex(grown, batch, pqDir,
          maxDriftFraction = 0.35)
        // IVF invariant under the CURRENT centroids
        val iv = VersionedIndex.currentVersion(ivfDir).get
        val cents = spark.read.parquet(s"$ivfDir/v$iv/centroids").collect()
          .map(r => (r.getInt(0).toLong, r.getSeq[Float](1)))
          .sortBy(_._1).toIndexedSeq
        val gotA = Similarity.ivfAssignments(spark, ivfDir).collect()
          .map(r => (r.getLong(0), r.getInt(1).toLong))
        val expA = Similarity.assignCells(grown, cents).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(gotA.length == gotA.map(_._1).distinct.length,
          s"seed=$seed step=$b: a vector is indexed more than once")
        assert(gotA.toSet == expA,
          s"seed=$seed step=$b: IVF store diverges from fresh assignment")
        // PQ invariant under the CURRENT codebook
        val pv = VersionedIndex.currentVersion(pqDir).get
        val cb = spark.read.parquet(s"$pqDir/v$pv/codebook").collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
          .sortBy(_._1).map(_._2).toSeq
        val gotP = VersionedIndex.readLog(spark, pqDir,
            VersionedIndex.Log("codes", "cand_id BIGINT, codes ARRAY<INT>, rnorm DOUBLE"),
            VersionedIndex.metaOrThrow(pqDir))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getDouble(2)))
          .toSet
        val expP = Similarity.pqIndexRelation(grown, cb).collect()
          .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getDouble(2)))
          .toSet
        assert(gotP == expP,
          s"seed=$seed step=$b: PQ store diverges from fresh encode")
      }
      Seq(ivfDir, pqDir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  /** Random text incl. every Java-regex \s char, punctuation, digits,
    * mixed case, and non-ASCII letters — the fused TextProfile pass must
    * equal the split/regexp/HOF formulations on ALL of it (the fixed
    * edge docs in TextAnalysisSpec are the readable cases; this is the
    * adversarial sweep). */
  val textGen: Gen[String] = {
    val piece = Gen.frequency(
      6 -> Gen.alphaNumStr.map(_.take(8)),
      3 -> Gen.oneOf("the", "and", "THE", "el", "los", "der", "une", "wo"),
      2 -> Gen.oneOf(" ", "  ", "\t", "\n", "\r\n", "\u000B", "\f"),
      2 -> Gen.oneOf(",", "!?", "...", "-", "@#", "''"),
      1 -> Gen.oneOf("café", "naïve", "中文", "Ω"))
    Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, piece).map(_.mkString))
  }

  test("fused TextProfile == composable formulations on random text") {
    import graft.operators.TextAnalysis
    (1L to 3L).foreach { seed =>
      val docs = sample(textGen, 300, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(rows(TextAnalysis.tokenStats(docs)) ==
        rows(TextAnalysis.tokenStatsComposable(docs)), s"tokenStats seed=$seed")
      assert(rows(TextAnalysis.langId(docs)) ==
        rows(TextAnalysis.langIdComposable(docs)), s"langId seed=$seed")
      val dq = docs.filter(length($"text") > 0) // ANSI: 0-char text divides by zero
      assert(rows(TextAnalysis.qualityScore(dq)) ==
        rows(TextAnalysis.qualityScoreComposable(dq)), s"qualityScore seed=$seed")
    }
  }
}
