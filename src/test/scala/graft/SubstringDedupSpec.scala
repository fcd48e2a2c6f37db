package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SubstringDedup

/** Exact-substring dedup / n-gram decontamination (q76/q78): planted-
  * fixture completeness (every planted span of >= k tokens found at
  * exactly the right offsets and lengths — and nothing else from the
  * fixture), threshold boundaries (k−1 overlaps and sub-k documents
  * emit nothing), multi-span pairs, and the salt-grid equality that
  * makes the skew guard an EXACT decomposition. */
class SubstringDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixtureDf = SubstringDedup.SpanFixture.toDF("doc_id", "text")

  private def spanSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSet

  test("duplicateSpans finds every planted span — offsets, lengths, triples, multi-span pairs — and nothing else") {
    val got = spanSet(SubstringDedup.duplicateSpans(fixtureDf))
    val expected = Set(
      // the 20-token passage at offsets 6 (A) and 12 (B)
      (4000000L, 4000001L, 6L, 12L, 20L),
      // the 14-token license block shared by C@1, D@4, E@2 — all 3 pairs
      (4000002L, 4000003L, 1L, 4L, 14L),
      (4000002L, 4000004L, 1L, 2L, 14L),
      (4000003L, 4000004L, 4L, 2L, 14L),
      // J holds the passage TWICE (positions 3 and 24): two aligned
      // spans against each single-copy carrier, no self-pair
      (4000000L, 4000009L, 6L, 3L, 20L),
      (4000000L, 4000009L, 6L, 24L, 20L),
      (4000001L, 4000009L, 12L, 3L, 20L),
      (4000001L, 4000009L, 12L, 24L, 20L))
    assert(got == expected,
      s"missing: ${expected -- got}; unexpected: ${got -- expected}")
    // implied boundary cases, stated explicitly: the k-1-token overlap
    // (F/G) and the identical-but-sub-k pair (H/I) emit nothing
    assert(!got.exists(t => Set(t._1, t._2).intersect(
      Set(4000005L, 4000006L, 4000007L, 4000008L)).nonEmpty),
      "below-threshold fixtures leaked into the span output")
  }

  test("a span of exactly k tokens is found; k-1 is not (threshold boundary)") {
    val k = 5
    val exact = Seq(
      (1L, "x1 x2 s1 s2 s3 s4 s5 x3"),
      (2L, "y1 s1 s2 s3 s4 s5 y2 y3 y4")).toDF("doc_id", "text")
    assert(spanSet(SubstringDedup.duplicateSpans(exact, k)) ==
      Set((1L, 2L, 3L, 2L, 5L)))
    val under = Seq(
      (1L, "x1 x2 s1 s2 s3 s4 x3 x4"),
      (2L, "y1 s1 s2 s3 s4 y2 y3 y4")).toDF("doc_id", "text")
    assert(spanSet(SubstringDedup.duplicateSpans(under, k)).isEmpty)
  }

  test("salt-grid decomposition is exact: salted == unsalted on corpus + fixture") {
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .unionByName(fixtureDf)
    val plain = spanSet(SubstringDedup.duplicateSpans(docs))
    val salted = spanSet(SubstringDedup.duplicateSpans(docs, saltBuckets = 4))
    assert(plain.nonEmpty, "fixture corpus produced no spans at all")
    assert(salted == plain,
      s"salt grid changed the span set: missing ${plain -- salted}, " +
        s"extra ${salted -- plain}")
  }

  test("auto-salt: planted hot window flips the salt on, result row-identical; cold corpus suggests nothing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 80 docs share one k-token window (>= HeavyHitters.SaltMinCount
    // occurrences — a quadratic 80² join group) + unique filler per doc
    val hotRun = (1 to SubstringDedup.DedupK).map(i => s"hz$i").mkString(" ")
    val hotDocs = (0 until 80)
      .map(i => (5200000L + i, s"$hotRun hu$i hv$i")).toDF("doc_id", "text")
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).unionByName(hotDocs)
    // the pre-detector flags exactly the planted window hash
    val wins = SubstringDedup.windowRel(docs, SubstringDedup.DedupK)
    val suggested = graft.operators.HeavyHitters.suggestSalt(
      wins.select(col("wh")))
    val hotWh = wins.filter(col("doc_id") === 5200000L && col("pos") === 1L)
      .head().getAs[String]("wh")
    assert(suggested.contains(hotWh),
      s"planted hot window hash not flagged (got ${suggested.length} keys)")
    // the hybrid hot/cold decomposition is row-identical to the plain join
    val plain = spanSet(SubstringDedup.duplicateSpans(docs))
    val auto = spanSet(SubstringDedup.duplicateSpans(docs, autoSalt = true))
    assert(auto == plain,
      s"auto-salt changed the span set: missing ${plain -- auto}, " +
        s"extra ${auto -- plain}")
    // a corpus with no hot keys suggests nothing and stays identical
    val cold = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    assert(graft.operators.HeavyHitters.suggestSalt(
      SubstringDedup.windowRel(cold, SubstringDedup.DedupK)
        .select(col("wh"))).isEmpty,
      "organic sf0.001 windows must stay under the salt threshold")
    assert(spanSet(SubstringDedup.duplicateSpans(cold, autoSalt = true)) ==
      spanSet(SubstringDedup.duplicateSpans(cold)))
  }

  // ---- incremental (q85) -------------------------------------------------

  private def corpusWithFixture = graft.engine.Tables
    .documents(spark, "/root/testdata/sf0.001")
    .select(org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("text"))
    .unionByName(fixtureDf)

  test("incremental chained admissions == one-shot duplicateSpans (in-memory)") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = corpusWithFixture
    val oneShot = spanSet(SubstringDedup.duplicateSpans(docs))
    val st0 = SubstringDedup.initialState(
      docs.filter(pmod(col("doc_id"), lit(3)) === 0))
    val st1 = SubstringDedup.admitBatch(st0,
      docs.filter(pmod(col("doc_id"), lit(3)) === 1))
    val st2 = SubstringDedup.admitBatch(st1,
      docs.filter(pmod(col("doc_id"), lit(3)) === 2))
    assert(oneShot.nonEmpty, "one-shot produced no spans at all")
    val chained = spanSet(st2.spans)
    assert(chained == oneShot,
      s"missing: ${oneShot -- chained}; extra: ${chained -- oneShot}")
  }

  test("persisted store: bootstrap + append + fold == one-shot; window log row-identical; append writes O(batch)") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = corpusWithFixture
    val root = java.nio.file.Files.createTempDirectory("graft-subinc").toString
    try {
      def day(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
      SubstringDedup.bootstrapStore(spark, s"$root/state", day(0))
      SubstringDedup.admitDrop(spark, s"$root/state", day(1),
        maxLiveSegments = 2) // append: parts [0], segs [1]
      // O(batch) evidence: the append segment holds EXACTLY the batch's
      // window rows, not the grown log
      val segRows = spark.read.parquet(s"$root/state/windows/seg1").count()
      val expectWins = graft.operators.SubstringDedupSpecAccess.windowCount(day(1))
      assert(segRows == expectWins,
        s"append segment wrote $segRows rows, batch has $expectWins windows")
      SubstringDedup.admitDrop(spark, s"$root/state", day(2),
        maxLiveSegments = 2) // fold: parts [1], segs []
      val m = graft.operators.VersionedIndex.metaOrThrow(s"$root/state")
      assert(m.parts == Vector(1L) && m.segs.isEmpty,
        s"fold did not collapse the log into one part: ${m.members}")
      val st = SubstringDedup.loadStore(spark, s"$root/state").get
      val oneShot = spanSet(SubstringDedup.duplicateSpans(docs))
      val chained = spanSet(st.spans)
      assert(chained == oneShot,
        s"missing: ${oneShot -- chained}; extra: ${chained -- oneShot}")
      // the folded window log holds exactly the one-shot window relation
      val logWins = st.windows.drop("whb")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val allWins = graft.operators.SubstringDedupSpecAccess.windowSet(docs)
      assert(logWins == allWins, "window log diverged from one-shot windows")
    } finally {
      try org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(root))
      catch { case _: Exception => }
    }
  }

  test("whBucketLocal agrees with the whBucket column expression") {
    import org.apache.spark.sql.functions.col
    val whs = Seq("00112233445566778899aabbccddeeff",
      "deadbeefdeadbeefdeadbeefdeadbeef", "", "zz", "0f").toDF("wh")
    val fromCol = whs.select(col("wh"),
        SubstringDedup.whBucket(col("wh"), SubstringDedup.WinStateBuckets))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    fromCol.foreach { case (wh, b) =>
      assert(SubstringDedup.whBucketLocal(wh,
        SubstringDedup.WinStateBuckets) == b, s"divergence at $wh")
    }
  }

  test("pruned probe == unpruned probe (admission span set identical)") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = corpusWithFixture
    val root = java.nio.file.Files.createTempDirectory("graft-subprune").toString
    try {
      val day0 = docs.filter(pmod(col("doc_id"), lit(3)) =!= 2)
      val day1 = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
      SubstringDedup.bootstrapStore(spark, s"$root/state", day0)
      val stored = SubstringDedup.loadStore(spark, s"$root/state").get
      // pruned: the loaded (bucketed) state; unpruned: same relations,
      // bucket metadata stripped
      val prunedSt = SubstringDedup.admitBatch(stored, day1)
      val unprunedSt = SubstringDedup.admitBatch(
        stored.copy(buckets = None), day1)
      assert(spanSet(prunedSt.spans) == spanSet(unprunedSt.spans),
        "bucket/key pruning changed the admitted span set")
    } finally {
      try org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(root))
      catch { case _: Exception => }
    }
  }

  test("contaminationSpans: quoted passage located, full copy spanned, k-1 near-miss silent") {
    val train = SubstringDedup.ContaminatedTrainFixture.toDF("doc_id", "text")
    val probe = SubstringDedup.BenchmarkFixture.toDF("doc_id", "text")
    val got = spanSet(SubstringDedup.contaminationSpans(train, probe))
    val expected = Set(
      // T1 quotes bm03..bm12 (10 tokens) at train pos 5, probe pos 3
      (4200000L, 4100000L, 5L, 3L, 10L),
      // T3 carries the full 16-token benchmark at train pos 4
      (4200002L, 4100000L, 4L, 1L, 16L))
    assert(got == expected,
      s"missing: ${expected -- got}; unexpected: ${got -- expected}")
  }
}
