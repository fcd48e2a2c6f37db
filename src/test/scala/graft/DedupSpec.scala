package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}
import graft.functions.TextFns

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),       // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),     // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "another unrelated document with its own words here"),
  ).toDF("doc_id", "text")

  test("exact dedup keeps min doc_id per content hash") {
    val out = Dedup.exact(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == 4) // 5 docs, one exact pair
    assert(out.values.count(_._2 == 2L) == 1)
    val dupGroup = out.values.find(_._2 == 2L).get
    assert(dupGroup._1 == 1L) // canonical = min doc_id
  }

  test("minhash signatures: identical docs identical, near-dups mostly agree") {
    val sig = Dedup.minhashSignature(docs).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq).toMap
    assert(sig(1L) == sig(2L))
    val agree13 = sig(1L).zip(sig(3L)).count { case (a, b) => a == b }
    assert(agree13 >= Dedup.NumHashes / 2, s"near-dups agree on $agree13/16")
    val agree14 = sig(1L).zip(sig(4L)).count { case (a, b) => a == b }
    assert(agree14 <= 2, s"unrelated docs agree on $agree14/16")
  }

  test("LSH candidates include exact+near dup pairs, jaccard confirms") {
    val pairs = Dedup.lshCandidatePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    val jac = Dedup.jaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac((1L, 2L)) == 1.0)
    jac.get((1L, 3L)).foreach(j => assert(j > 0.4 && j < 1.0))
  }

  test("simhash: exact dups equal, near-dups close in hamming distance") {
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) <= 6)
  }

  test("simhash banding finds exactly the brute-force hamming<=3 pairs") {
    // banded plan vs driver-side brute force over the same 60-bit simhash:
    // equality IS the pigeonhole-completeness property
    val fixture = spark.read.parquet(s"$sf/documents.parquet")
    val sh = Dedup.simhash60(fixture).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ida, sa) <- sh; (idb, sb) <- sh if ida < idb
      h = java.lang.Long.bitCount(sa ^ sb) if h <= Dedup.SimMaxHamming
    } yield (ida, idb, h.toLong)).toSet
    val banded = Dedup.simhashPairs(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    assert(brute.nonEmpty) // fixture contains real near-dups
  }

  test("duplicate clusters: transitive closure with min-id labels and sizes") {
    val chain = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // = 10
      (12L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // ~ 10/11
      (20L, "totally separate subject matter discussed in this one text"),
      (21L, "totally separate subject matter discussed in this one essay"), // ~ 20
      (30L, "a lone document sharing nothing with the previous entries"),
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateClusters(chain, threshold = 0.5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 10-11 exact, 11-12 near: one component labeled by min id 10
    assert(out(10L) == ((10L, 3L)) && out(11L) == ((10L, 3L)) && out(12L) == ((10L, 3L)))
    assert(out(20L) == ((20L, 2L)) && out(21L) == ((20L, 2L)))
    assert(out(30L) == ((30L, 1L)))
  }

  test("corpus filter: gates enforced, one minimum survivor kept per cluster") {
    val fixture = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.Corpus.corpusFilter(fixture).collect()
    assert(out.nonEmpty)
    val clusters = Dedup.duplicateClusters(fixture).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gatedIds = graft.operators.Corpus.gated(fixture).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    // expected keep per cluster = min GATED member (gate-first: a cluster
    // whose overall canonical fails the gate still keeps a survivor)
    val expectKeep = gatedIds.groupBy(clusters).map { case (c, ids) => c -> ids.min }
    val kept = out.map(_.getAs[Long]("doc_id")).toSet
    assert(kept == expectKeep.values.toSet)
    out.foreach { r =>
      assert(r.getAs[Double]("quality") >= graft.operators.Corpus.MinQuality)
      assert(graft.operators.Corpus.KeepLangs.contains(r.getAs[String]("lang")))
    }
    // at least one kept row absorbed duplicates
    assert(out.exists(_.getAs[Long]("cluster_size") > 1L))
  }

  test("fused MinHashSignature expression == composable HOF formulation") {
    import graft.functions.MinHashFns
    val d = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001").limit(100)
    val p = Dedup.HashPrime
    val hof = d.select($"doc_id", expr(
      s"""transform(sequence(0, 15), k -> array_min(transform(
         |  transform(array_distinct(transform(
         |    sequence(1, greatest(size(split(trim(text), '\\\\s+')) - 2, 1)),
         |    i -> concat_ws(' ', slice(split(trim(text), '\\\\s+'), i, 3)))),
         |    s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % $p),
         |  h -> ((2*cast(k as bigint)+1) * h + cast(k as bigint) * 104729) % $p)))
         |""".stripMargin).as("sig"))
    val fused = d.select($"doc_id", MinHashFns.minhashSignature($"text").as("sig"))
    val a = hof.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = fused.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a == b)
  }

  test("fused SimHash expression == composable HOF formulation") {
    import graft.functions.SimHashFns
    // sf docs plus the edge shapes where tokenization could diverge:
    // empty, whitespace-only, single-token, multi-space runs
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(100).select($"doc_id", $"text")
      .union(Seq((9001L, ""), (9002L, "   "), (9003L, "one"),
        (9004L, "a  b\t c\n d")).toDF("doc_id", "text"))
    for (bits <- Seq(16, Dedup.SimBits)) {
      val hof = docs.select($"doc_id", Dedup.simhashExprHof(bits).as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fused = docs.select($"doc_id", SimHashFns.simhash($"text", bits).as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hof == fused, s"bits=$bits")
    }
  }

  test("hash60 matches the DuckDB formula on a known value") {
    // DuckDB: ('0x'||substr(md5('abc'),1,15))::BIGINT = 648541476951500027
    val got = spark.range(1)
      .select(TextFns.hash60(lit("abc"))).as[Long].collect().head
    assert(got == 648541476951500027L)
  }

  test("embedding near-dups on fixture: symmetric-free pairs above threshold") {
    val out = Dedup.qEmbedNearDups(spark, "/root/testdata/sf0.01")
    val rows = out.collect()
    assert(rows.length == 14) // measured fixture ground truth at sf0.01
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(2) >= 0.45))
  }

  test("salted LSH candidate pairs == unsalted, incl. a hot band bucket") {
    // near-identical boilerplate (survives exact dedup, collides in every
    // band) — the hot-bucket shape the salt grid exists for
    val hot = (0L until 60L).map(i => (i, s"common boilerplate page text body $i"))
      .toDF("doc_id", "text")
    val corpus = graft.engine.Tables.documents(spark, sf).select($"doc_id", $"text")
    for (d <- Seq(hot, corpus)) {
      def pairs(salt: Int) = Dedup.lshCandidatePairs(d, salt)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs(4) == pairs(1), "salt grid must be an exact decomposition")
    }
  }

  test("embedding near-dups: block grid is an exact decomposition at every B") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    def pairs(blocks: Int) =
      Dedup.embeddingNearDups(emb, blocks = blocks).orderBy("vec_a", "vec_b")
        .collect().map(_.toSeq).toSeq
    val auto = pairs(0) // default: sized from the row count
    assert(auto == pairs(3) && auto == pairs(8), "cross-B row identity")
  }

  test("LSH near-dup route: subset of exact, identical scores, auto routing") {
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val exact = Dedup.embeddingNearDups(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.embeddingNearDupsLsh(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty, "route found no pairs on the fixture")
    // every LSH-routed pair is a true pair with the identical 4dp score
    lsh.foreach { case (k, v) =>
      assert(exact.get(k).contains(v), s"pair $k: lsh=$v exact=${exact.get(k)}")
    }
    // auto route: small corpus → the exact kernel, byte-identical, with
    // the evidence column pinned at 1.0 (the exact arm misses nothing)
    val autoRows = Dedup.embeddingNearDupsAuto(emb).collect()
    val auto = autoRows
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(auto == exact, "auto must route small corpora to the exact kernel")
    assert(autoRows.forall(_.getDouble(3) == 1.0),
      "exact arm must carry route_recall = 1.0")
    // forced LSH route (maxExactRows=0) ≡ the LSH operator AT THE
    // ROUTER'S GRID for the default θ=0.45 — since r18 the WEAK-THETA
    // tier (32×10 + 2 probes, Dedup.routerLshGrid), not q58's plainer
    // 16×8 reference grid — and the arm CARRIES its sampled recall
    // evidence: at this corpus size the deterministic stratum is the
    // whole corpus, so the column must equal the directly-computed
    // |lsh_auto| / |exact|
    val (rTables, rPlanes, rProbes) = Dedup.routerLshGrid(0.45)
    assert((rTables, rPlanes, rProbes) ==
      (Dedup.WeakLshTables, Dedup.AutoLshPlanes, Dedup.AutoLshProbes),
      "default θ=0.45 must select the weak-theta tier")
    assert(Dedup.routerLshGrid(0.6) ==
      (Dedup.AutoLshTables, Dedup.AutoLshPlanes, Dedup.AutoLshProbes),
      "strong θ must keep the Pareto grid")
    val lshAuto = Dedup.embeddingNearDupsLsh(emb,
        nTables = rTables, planes = rPlanes,
        probes = rProbes).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // plane weights are indexed by GLOBAL plane number, so the weak
    // tier's first 16 tables ARE the default grid: its pair set must
    // be a superset of the default tier's
    val defaultTier = Dedup.embeddingNearDupsLsh(emb,
        nTables = Dedup.AutoLshTables, planes = Dedup.AutoLshPlanes,
        probes = Dedup.AutoLshProbes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(defaultTier.subsetOf(lshAuto.keySet),
      s"weak tier lost pairs the default tier found: " +
        s"${defaultTier -- lshAuto.keySet}")
    val autoLshRows = Dedup.embeddingNearDupsAuto(emb, maxExactRows = 0L).collect()
    val autoLsh = autoLshRows
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(autoLsh == lshAuto,
      "auto past the bound must be the LSH route at the router's grid")
    // the promoted grid must BEAT the reference grid it replaced on
    // this fixture (the reason it was promoted), while staying a true
    // subset of exact (scores identical where present)
    assert(lshAuto.size >= lsh.size,
      s"router grid found ${lshAuto.size} pairs < reference grid's ${lsh.size}")
    autoLsh.foreach { case (k, v) =>
      assert(exact.get(k).contains(v), s"pair $k: auto=$v exact=${exact.get(k)}")
    }
    val expectedRecall = lshAuto.size.toDouble / exact.size
    val carried = autoLshRows.map(_.getDouble(3)).distinct
    assert(carried.length == 1 &&
      math.abs(carried.head - expectedRecall) < 1e-12,
      s"LSH arm must carry sampled recall $expectedRecall, got ${carried.toSeq}")
    // >= not >: the promotion case was measured on the sweep fixture,
    // and a legitimate tie here (both grids finding the same pair set
    // after a fixture or hashing tweak) is not a regression — the
    // pair-count >= assertion above already pins "never worse"
    assert(carried.head > 0.0 && carried.head <= 1.0 &&
      carried.head >= lsh.size.toDouble / exact.size,
      "router-grid recall must not regress below the reference grid's")
  }

  test("multi-probe LSH: superset of single-probe, subset of exact, identical scores") {
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.01")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairs(Dedup.embeddingNearDups(emb))
    val single = pairs(Dedup.embeddingNearDupsLsh(emb))
    val multi = pairs(Dedup.embeddingNearDupsLsh(emb,
      probes = Dedup.NearDupMultiProbes))
    // the own buckets are bit-identical to the base expression's, so
    // every single-probe pair survives; the probe buckets only ADD
    // candidates, and the verify is exact — multi-probe is sandwiched
    assert(single.keySet.subsetOf(multi.keySet),
      s"multi-probe lost single-probe pairs: ${single.keySet -- multi.keySet}")
    assert(multi.keySet.subsetOf(exact.keySet),
      "multi-probe emitted a non-pair (verify must stay exact)")
    multi.foreach { case (k, v) =>
      assert(exact(k) == v, s"pair $k: multi=$v exact=${exact(k)}")
    }
    // and on this fixture the probes genuinely buy recall at the weak
    // threshold — the lever's existence proof, not a tuned constant
    assert(multi.size > single.size,
      s"expected probes to add pairs: single=${single.size} multi=${multi.size}")
  }

  test("query-time multi-probe ANN: per-query recall >= single-probe, gain exists") {
    // candidate sets grow monotonically (own buckets are unchanged), and
    // exact-cosine top-k over a SUPERSET of candidates can only keep or
    // gain true-top-k members — so per-query recall is monotone in probes
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val truth = graft.operators.Similarity.bruteForceTopK(emb, 8, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter(truth.contains).groupBy(_._1).view.mapValues(_.length).toMap
        .withDefaultValue(0)
    val single = recall(graft.operators.Similarity.annLsh(emb))
    val multi = recall(graft.operators.Similarity.annLshMultiProbe(emb))
    (0L until 8L).foreach { q =>
      assert(multi(q) >= single(q),
        s"query $q: multi-probe recall ${multi(q)} < single ${single(q)}")
    }
    assert((0L until 8L).map(multi).sum > (0L until 8L).map(single).sum,
      "expected the probes to buy recall somewhere on the fixture")
  }

  test("LSH near-dup route: recall 1.0 in the high-cosine near-dup regime") {
    // planted-dup fixture: 400 seeded pseudo-random base vectors (near-
    // orthogonal in 64-dim, no accidental >=0.8 pairs) + 20 planted
    // near-dup twins (small perturbation, cosine ~0.99). This is the
    // regime the route exists for; at cos 0.99 a table of 8 planes agrees
    // w.p. ~0.69, so 16 tables miss a pair w.p. ~1e-8.
    val rnd = new scala.util.Random(4242L)
    val base = (0 until 400).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val planted = (0 until 20).map { j =>
      val (_, v) = base(j * 7)
      (1000L + j, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val thr = 0.8
    val exact = Dedup.embeddingNearDups(emb, thr).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.size == 20, s"fixture must contain exactly the planted pairs, got ${exact.size}")
    val lsh = Dedup.embeddingNearDupsLsh(emb, thr).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh == exact, "recall must be 1.0 on the planted near-dup fixture")
    // and the prefilter genuinely prunes: candidate mass well under all-pairs
    val nCand = Dedup.embeddingNearDupLshCandidates(emb).count()
    val n = 420L
    assert(nCand < n * (n - 1) / 2 / 4,
      s"candidates ($nCand) should be well under all-pairs (${n * (n - 1) / 2})")
  }

  test("LSH near-dup hot-bucket sub-grid is an exact decomposition") {
    // one-direction cluster: 300 vectors around a single direction all
    // land in the SAME bucket of every table — the hot shape the
    // sub-grid exists for — plus 100 background vectors
    val rnd = new scala.util.Random(99L)
    val dir = Array.fill(64)(rnd.nextGaussian())
    val emb = ((0 until 300).map(i =>
      (i.toLong, dir.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat))) ++
      (300 until 400).map(i =>
        (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
    def pairs(maxBucket: Int) =
      Dedup.embeddingNearDupsLsh(emb, threshold = 0.8, maxBucket = maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cold = pairs(Int.MaxValue) // pure per-bucket kernel
    val hotRouted = pairs(64)      // the 300-vector buckets go through the sub-grid
    assert(cold.nonEmpty, "hot fixture produced no near-dup pairs")
    assert(hotRouted == cold, "sub-grid must be row-identical to the plain kernel")
  }

  test("semantic dedup: matches an independent window+join derivation; sub-grid exact") {
    import org.apache.spark.sql.expressions.Window
    // 16 seed vectors (the centroids at n=146 < 16*200) + 120 members
    // spread over 4 of them (intra-cluster cos ~0.8, below eps) + 10
    // high-cos twins of members (the semantic duplicates to prune)
    val rnd = new scala.util.Random(77L)
    val base = (0 until 16).map(i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val members = (0 until 120).map { j =>
      val (_, cv) = base(j % 4)
      (100L + j, cv.map(x => x + 0.5f * rnd.nextGaussian().toFloat))
    }
    val twins = (0 until 10).map { t =>
      val (_, v) = members(t * 7)
      (500L + t, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val emb = (base ++ members ++ twins).toDF("vec_id", "embedding")
    val eps = 0.9
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    val got = rows(Dedup.semanticDedup(emb, eps = eps))

    // independent derivation: the r06-style cross+window argmax and a
    // plain within-cluster join (no kernel, no sub-grid, no broadcast)
    val cent = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val assigned = emb.crossJoin(cent)
      .select(col("vec_id"), col("cid"),
        round(Similarity.cosine(col("embedding"), col("cemb")), 4).as("cs"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cs").desc, col("cid"))))
      .filter(col("rnk") === 1).select("vec_id", "cid")
    val withA = emb.join(assigned, "vec_id")
    val pairs = withA.as("a").join(withA.as("b"),
      col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 4)
          .as("cs"))
      .filter(col("cs") >= eps)
    val dup = pairs.groupBy(col("vb").as("vec_id"))
      .agg(min("va").as("dup_src"))
    val expected = rows(assigned.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        when(col("dup_src").isNull, lit("keep")).otherwise(lit("drop"))
          .as("status"),
        coalesce(col("dup_src"), lit(-1L)).as("dup_of")))
    assert(got == expected,
      s"diff: missing=${expected -- got} extra=${got -- expected}")
    // the planted twins are exactly the kind of row the prune exists
    // for: every one must drop, naming its (smaller-id) member source
    val byId = got.map(r => r._1 -> r).toMap
    (0 until 10).foreach { t =>
      val (status, dupOf) = (byId(500L + t)._3, byId(500L + t)._4)
      // dup_of is the MIN >= eps smaller neighbor: the planted source
      // member, or any smaller same-cluster row (incl. the seed vector
      // the member was spread from) that also clears eps
      assert(status == "drop" && dupOf >= 0L && dupOf <= 100L + t * 7,
        s"twin ${500 + t}: $status dup_of=$dupOf")
    }
    assert(got.count(_._3 == "drop") >= 10)
    // the sub-grid decomposition is exact: forcing every cluster
    // through a 3x3 block grid must be row-identical (q52/q57 pattern)
    assert(rows(Dedup.semanticDedup(emb, eps = eps, forcedBlocks = 3)) == got,
      "forced sub-grid diverged from the plain per-cluster kernel")
  }

  test("semantic dedup: zero-norm rows keep the sentinel cid, never pair, never crash") {
    // the q81 fixture contract, engine side: TWO zero-norm rows share
    // the sentinel "cluster" — the pair kernel must skip their NaN
    // cosine (not emit a bogus pair or throw), both keep status=keep
    val rnd = new scala.util.Random(13L)
    val normal = (0 until 40).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val zeros = Seq((900L, Array.fill(16)(0.0f)), (901L, Array.fill(16)(0.0f)))
    val emb = (normal ++ zeros).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, eps = 0.6).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3)))
      .toMap
    Seq(900L, 901L).foreach { id =>
      val (cid, status, dupOf) = out(id)
      assert(cid == Long.MaxValue, s"zero-norm $id got real cid $cid")
      assert(status == "keep" && dupOf == -1L,
        s"zero-norm $id paired: $status dup_of=$dupOf")
    }
    // normal rows are untouched by the degenerate ones
    assert(out.filter(_._1 < 900L).forall(_._2._1 != Long.MaxValue),
      "a normal row leaked into the sentinel cluster")
  }

  test("embedding dup clusters: planted twins pair up, everything else singleton") {
    // same planted-dup construction as the recall test: 400 seeded base
    // vectors + 20 high-cosine twins of base(j*7)
    val rnd = new scala.util.Random(4242L)
    val base = (0 until 400).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val planted = (0 until 20).map { j =>
      val (_, v) = base(j * 7)
      (1000L + j, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val out = Dedup.embeddingDupClusters(emb, threshold = 0.8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == 420)
    (0 until 20).foreach { j =>
      val src = (j * 7).toLong
      assert(out(src) == ((src, 2L)), s"source $src: ${out(src)}")
      assert(out(1000L + j) == ((src, 2L)), "twin labeled by min member id")
    }
    val paired = (0 until 20).flatMap(j => Seq((j * 7).toLong, 1000L + j)).toSet
    out.foreach { case (id, (cid, size)) =>
      if (!paired(id))
        assert((cid, size) == ((id, 1L)), s"vector $id must be a singleton")
    }
  }

  test("fused LshBuckets expression == composable HOF formulation") {
    import org.apache.spark.sql.functions.{aggregate => agg_, _}
    val emb = graft.engine.Tables.embeddings(spark, sf).limit(100)
    val fused = Similarity.lshBucketed(emb)
      .select($"vec_id", $"t", $"bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // reconstruct one table's bucket the composable way and compare
    (0 until Similarity.NumTables).foreach { t =>
      val bits = (0 until Similarity.PlanesPerTable).map { p =>
        val w = typedLit((0 until 64).map(i =>
          Similarity.planeWeight(t * Similarity.PlanesPerTable + p, i)))
        val proj = agg_(zip_with($"embedding", w, (x, y) => x.cast("double") * y),
          lit(0.0), (acc, x) => acc + x)
        when(proj > 0, lit(1L << p)).otherwise(lit(0L))
      }
      val hof = emb.select($"vec_id", bits.reduce(_ + _).as("bucket"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      hof.foreach { case (id, b) =>
        assert(fused((id, t)) == b, s"vec $id table $t")
      }
    }
  }

  test("ANN LSH recall vs brute force at sf0.001") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val exact = Similarity.bruteForceTopK(emb, nQueries = 8, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annLsh(emb, nQueries = 8, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 8 hyperplanes -> 256 buckets over 500 vecs: recall is partial by design,
    // but must be far better than random (10/500 ≈ 2%).
    assert(recall >= 0.2, s"recall=$recall")
  }

  test("IVF ANN recall vs brute force at sf0.001") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val exact = Similarity.bruteForceTopK(emb, nQueries = 8, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annIvf(emb, nQueries = 8, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 16 seed centroids / 4 probes over 500 near-random vectors: partial by
    // design, but far above the random-baseline 2%
    assert(recall >= 0.2, s"recall=$recall")
  }

  test("k-means IVF recall beats (or ties) seed-centroid IVF at sf0.001") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val exact = Similarity.bruteForceTopK(emb, nQueries = 8, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    // Fair footing: q31's default seed centroids are vectors 0..15, which
    // CONTAIN the 8 query vectors — every query then probes "its own"
    // cell, holding its true neighbors, inflating recall (~0.9) in a way
    // no disjoint centroid set can match. Compare against seed centroids
    // drawn from vec_id >= 16 instead (measured ~0.46-0.49).
    val seedRecall = recallOf(Similarity.annIvf(emb, nQueries = 8, k = 10,
      centroidFrom = 16))
    val kmRecall = recallOf(Similarity.annIvfKmeans(emb, nQueries = 8, k = 10))
    // learned centroids must not lose to arbitrary seed vectors at the
    // same probe budget, and must stay far above the 2% random baseline
    assert(kmRecall >= seedRecall, s"kmeans=$kmRecall seed=$seedRecall")
    assert(kmRecall >= 0.2, s"recall=$kmRecall")
  }

  test("learned IVF-PQ: beats disjoint-seed models, deterministic rebuild") {
    // Fair footing (the q31 rule): seed models drawn from vec_id 16..31,
    // disjoint from the 8 query vectors, vs the trained coarse centroids
    // + per-subspace-trained codebook. Measured on the real fixture the
    // learned index wins at every scale (0.29/0.23/0.24 vs
    // 0.20/0.10/0.11 at sf0.001/0.01/0.1 — bench/IVFPQ_PROBE_r22.txt).
    //
    // Why not a tight-cluster fixture: with 16 clean clusters the
    // trained codebook reconstructs every member of a cluster to ~the
    // same point, so ADC collapses WITHIN-cluster ordering and recall@10
    // of the exact top-10 (all in the query's own ~40-member cluster)
    // degenerates to ~k/cluster_size regardless of model quality — at
    // that granularity the production answer is an exact re-rank of the
    // ADC shortlist, not a better codebook (bench/IVFPQ_PROBE_r22.txt shows
    // the collapse: learned-np16 0.275 on a 16x40 fixture with a
    // PERFECT coarse stage).
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val exact = Similarity.bruteForceTopK(emb, nQueries = 8, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val root = java.nio.file.Files.createTempDirectory("ivfpq_lrn").toString
    val seedCentroids = Similarity.collectCentroids(emb, 16, 16)
    val seedCb = seedCentroids.map(_._2.map(_.toDouble).toSeq).toSeq
    Similarity.buildIvfPqIndexWith(emb, s"$root/seed", seedCentroids, seedCb)
    Similarity.buildIvfPqIndexLearned(emb, s"$root/learned")
    val seedRecall = recallOf(Similarity.annIvfPqIndexed(emb, s"$root/seed"))
    val learnedRecall = recallOf(Similarity.annIvfPqIndexed(emb, s"$root/learned"))
    assert(learnedRecall >= seedRecall,
      s"learned=$learnedRecall seed=$seedRecall")
    assert(learnedRecall >= Similarity.IvfPqLearnedRecallFloor,
      s"learned=$learnedRecall under the q59 floor")
    // seed-pinned fits: a fresh rebuild of the learned index returns the
    // exact same rows (what lets the drift re-train path stay ≡ fresh)
    Similarity.buildIvfPqIndexLearned(emb, s"$root/learned2")
    assert(Similarity.annIvfPqIndexed(emb, s"$root/learned").collect().toSeq ==
      Similarity.annIvfPqIndexed(emb, s"$root/learned2").collect().toSeq,
      "learned index rebuild must be deterministic")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("refined ANN: recall >= unrefined at same probe budget; full budget == brute force") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val dir = Similarity.ensureIvfPqIndex(spark, sf)
    val exact = Similarity.bruteForceTopK(emb, nQueries = 8, k = 10)
    val exactSet = exact.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exactSet intersect approx).size.toDouble / exactSet.size
    }
    // the re-rank theorem: ADC-top-k is a subset of the shortlist, and
    // every true neighbor in the shortlist exact-ranks <= k there
    val unrefined = recallOf(Similarity.annIvfPqIndexed(emb, dir))
    val refined = recallOf(Similarity.annIvfPqRefined(emb, dir))
    assert(refined >= unrefined, s"refined=$refined unrefined=$unrefined")
    // shortlist monotonicity (the q70 lever — same theorem, one step
    // further: shortlist cuts are NESTED, and if a true top-k neighbor
    // is in ANY candidate set, at most k-1 candidates can exact-outrank
    // it, so deepening the cut never loses it): deep >= refined at the
    // SAME probe budget, i.e. zero extra ADC scan
    val deep = recallOf(Similarity.annIvfPqRefinedDeep(emb, dir))
    assert(deep >= refined, s"deep=$deep refined=$refined")
    // limiting case: all cells probed + corpus-sized shortlist makes the
    // refined result THE exact brute-force relation, row for row
    val full = Similarity.annIvfPqRefined(emb, dir,
      nprobe = Similarity.NumCentroids, shortlist = 1000000)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val brute = exact.orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(full == brute, "full-budget refined ANN must equal brute force")
  }

  test("q35 per-query recall clears KmeansRecallFloor for every query") {
    // The q35 oracle (qAnnIvfKmeansSql) pins recall_ok = TRUE per query;
    // this test pins the same per-query floor so the oracle boolean can't
    // flap: any single query dipping below the floor fails here first.
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val rows = Similarity.ivfKmeansRecall(emb).collect()
    assert(rows.length == 8, s"expected 8 query rows, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("recall_ok")),
        s"query ${r.get(r.fieldIndex("query_id"))} recall below " +
          s"${Similarity.KmeansRecallFloor}")
    }
  }

  test("salted simhash band join is row-identical to unsalted on a hot band") {
    import org.apache.spark.sql.functions.col
    // deliberately skewed: 40 near-identical docs (every band collides in
    // ONE hot bucket) + unrelated singletons. Each hot doc perturbs one
    // trailing token so hammings spread around the <= 3 cutoff instead of
    // all being 0.
    val hot = (0 until 40).map(i =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog variant token_$i"))
    val cold = Seq(
      (100L, "completely different material about databases and storage"),
      (101L, "yet another unrelated document concerning weather patterns"))
    val docs = (hot ++ cold).toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val unsalted = pairSet(Dedup.simhashPairs(docs))
    assert(unsalted.nonEmpty, "fixture produced no near-dup pairs — not a skew test")
    for (b <- Seq(2, 4, 7)) {
      val salted = pairSet(Dedup.simhashPairs(docs, saltBuckets = b))
      assert(salted == unsalted, s"saltBuckets=$b diverged: " +
        s"missing=${unsalted -- salted} extra=${salted -- unsalted}")
    }
    // and on the real corpus fixture at sf0.001
    val corpus = graft.engine.Tables.documents(spark, sf)
    assert(pairSet(Dedup.simhashPairs(corpus, saltBuckets = 4)) ==
      pairSet(Dedup.simhashPairs(corpus)))
  }

  test("k-means fit set: pass-through under the cap, unbiased hash gate above") {
    import org.apache.spark.sql.functions._
    // under the cap: the fit set IS the input — no limit, no filter, no
    // exchange added (the q35 toy-scale plan must stay untouched)
    val small = graft.engine.Tables.embeddings(spark, sf)
      .withColumn("features", col("embedding"))
    val passthrough = Similarity.kmeansFitSet(small, None)
    assert(passthrough.queryExecution.optimizedPlan eq
      small.queryExecution.optimizedPlan, "under-cap fit set must be the input as-is")

    // over the cap (spark.range carries an exact rowCount stat): the gate
    // keeps ~cap rows, and the KEPT SET is a function of vec_id values —
    // identical under any partition layout, unlike a limit() prefix
    val big = spark.range(250000).select(col("id").as("vec_id"),
      array(col("id") % 7, col("id") % 13).as("features"))
    val gated = Similarity.kmeansFitSet(big, None)
    // the gate is sized from plan ESTIMATES (sizeInBytes/row-width), which
    // differ from true counts by small per-node constant factors — the
    // contract is "within a small factor of the cap", not exact
    val n = gated.count()
    assert(n < 250000, s"gate did not thin: kept $n of 250000")
    assert(n >= Similarity.MaxKmeansFitRows * 0.3 &&
      n <= Similarity.MaxKmeansFitRows * 3.0,
      s"gate kept $n of 250000 (cap ${Similarity.MaxKmeansFitRows})")
    val ids = gated.select("vec_id").as[Long].collect().toSet
    val idsRepart = Similarity.kmeansFitSet(big.repartition(7), None)
      .select("vec_id").as[Long].collect().toSet
    assert(ids == idsRepart, "hash gate must be layout-invariant")
  }

  test("persisted IVF index: build once, query equals the rebuild path") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    Similarity.buildIvfIndex(emb, dir)
    def rs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet // (query, cand, rnk)
    // seed-pinned fit -> identical centroids -> identical results
    assert(rs(Similarity.annIvfIndexed(emb, dir)) ==
      rs(Similarity.annIvfKmeans(emb)))
    // the indexed query must not refit: its plan reads the persisted
    // assignments instead of carrying a kmeans stage
    val plan = Similarity.annIvfIndexed(emb, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("assignments"), s"no index scan in plan:\n$plan")
    // inverted-file layout proper: assignments live as cid= partitions
    // under the committing version's seg= directory, and the probe join
    // prunes the scan at runtime (dynamic partition pruning) — probing
    // nprobe cells must not read all K
    assert(new java.io.File(dir, "assignments/seg=0/cid=0").isDirectory,
      "assignments not laid out as seg=/cid= partitions")
    assert(new java.io.File(dir, "CURRENT").isFile,
      "index commit did not publish a CURRENT pointer")
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the assignments scan:\n$plan")
    // atomic visibility: a half-written (crashed, never-committed)
    // segment must be invisible to every reader — the manifest, not the
    // directory listing, decides what is committed
    graft.engine.Tables.embeddings(spark, sf)
      .select(col("vec_id"), org.apache.spark.sql.functions.lit(0).as("cid"))
      .write.partitionBy("cid").parquet(s"$dir/assignments/seg=99")
    assert(rs(Similarity.annIvfIndexed(emb, dir)) ==
      rs(Similarity.annIvfKmeans(emb)),
      "an uncommitted segment leaked into the committed read")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("index commit protocol: double-commit detected, corrupt manifest aborts") {
    import graft.operators.VersionedIndex
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("ivf_guard").toString
    Similarity.buildIvfIndex(emb, dir)
    val m = VersionedIndex.metaOrThrow(dir)
    // a second writer re-committing an ALREADY-PUBLISHED version must
    // fail loudly (the store is single-writer), not silently republish
    val e = intercept[IllegalStateException] {
      VersionedIndex.commit(dir, m.version,
        VersionedIndex.rows(m.trainedRows, m.totalRows), m.segs,
        Seq("assignments"))
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // a corrupt PREVIOUS manifest must abort the next commit (strict
    // parse), not silently read as segs=[] and let retention delete
    // the segments that version still references
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, s"v${m.version}/MANIFEST"), "{garbage")
    val e2 = intercept[IllegalStateException] {
      VersionedIndex.commit(dir, m.version + 1,
        VersionedIndex.rows(m.trainedRows, m.totalRows),
        m.segs :+ (m.version + 1), Seq("assignments"))
    }
    assert(e2.getMessage.contains("unreadable index manifest"), e2.getMessage)
    assert(new java.io.File(dir, s"assignments/seg=${m.segs.head}").isDirectory,
      "the corrupt-manifest abort must leave the referenced segments intact")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("model cache: LRU eviction order and buildId identity across rebuilds") {
    import graft.operators.VersionedIndex
    val cap = VersionedIndex.ModelCacheCapacity
    val root = java.nio.file.Files.createTempDirectory("mcache").toString
    def dirOf(i: Int) = s"$root/ix$i"
    def load(i: Int, tag: String): String =
      VersionedIndex.cachedModel(dirOf(i), 0, "m")(s"$tag$i")
    // a cached model belongs to a committed version, whose manifest
    // carries the buildId the key is made of
    (0 until cap + 8).foreach { i =>
      val v0 = new java.io.File(dirOf(i), "v0"); v0.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(v0, "MANIFEST").toPath,
        s"""{"buildId":"ix$i","segs":[0]}""")
    }
    // fill to capacity, then touch entry 0 (access order!) and overflow
    (0 until cap).foreach(i => assert(load(i, "a") == s"a$i"))
    assert(load(0, "IGNORED") == "a0", "warm hit must not re-load")
    (cap until cap + 8).foreach(i => assert(load(i, "a") == s"a$i"))
    val keys = VersionedIndex.modelCacheKeys.map(_._1).toSet
    assert(VersionedIndex.modelCacheKeys.size <= cap, "capacity exceeded")
    assert(keys.contains(new java.io.File(dirOf(0)).getCanonicalPath),
      "recently-touched entry must survive the overflow (LRU, not FIFO)")
    assert(!keys.contains(new java.io.File(dirOf(1)).getCanonicalPath),
      "least-recently-used entry must be the one evicted")
    // buildId identity: a delete+rebuild landing the same version within
    // the same mtime tick must MISS the cache (the r13-advice scenario)
    val d = new java.io.File(s"$root/ident/v0"); d.mkdirs()
    val mf = new java.io.File(d, "MANIFEST").toPath
    java.nio.file.Files.writeString(mf,
      """{"trainedRows":1,"totalRows":1,"buildId":"A","segs":[0]}""")
    val t0 = mf.toFile.lastModified
    assert(VersionedIndex.cachedModel(s"$root/ident", 0, "m")("old") == "old")
    java.nio.file.Files.writeString(mf,
      """{"trainedRows":1,"totalRows":1,"buildId":"B","segs":[0]}""")
    mf.toFile.setLastModified(t0) // same tick — mtime would alias
    assert(VersionedIndex.cachedModel(s"$root/ident", 0, "m")("new") == "new",
      "rebuild with a new buildId must not be served the old model")
    // a manifest without a buildId has no identity to key on: unreadable,
    // never an mtime fallback
    java.nio.file.Files.writeString(mf, """{"trainedRows":1,"totalRows":1,"segs":[0]}""")
    val noId = intercept[IllegalStateException](
      VersionedIndex.cachedModel(s"$root/ident", 0, "m")("mtime"))
    assert(noId.getMessage.contains("unreadable index manifest"), noId.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("persisted IVF index: incremental append, then drift re-train") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    // --- append below the drift threshold: centroids held fixed ---
    val base = emb.filter(col("vec_id") % 20 =!= 19)
    val batch = emb.filter(col("vec_id") % 20 === 19) // 5% — new ids
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    Similarity.buildIvfIndex(base, dir)
    val cents0 = spark.read.parquet(s"$dir/v0/centroids").collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Float](1)))
      .sortBy(_._1).toIndexedSeq
    // the append must run ZERO corpus-sized jobs: drift state rides the
    // manifest, centroids the driver cache (warm from the build) — the
    // only jobs are the O(batch) count and the O(batch) segment write
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(j.stageInfos.map(_.name.takeWhile(_ != '\n'))
          .mkString("[", "; ", "]")); ()
      }
    }
    // drain the build's backlog so its job events don't land on the
    // listener registered after it
    org.apache.spark.sql.graftbridge.Bridge
      .drainListenerBus(spark.sparkContext, 10000)
    spark.sparkContext.addSparkListener(jl)
    assert(!Similarity.appendToIvfIndex(emb, batch, dir),
      "a 5% append must not trip the drift re-train")
    org.apache.spark.sql.graftbridge.Bridge
      .drainListenerBus(spark.sparkContext, 10000)
    spark.sparkContext.removeSparkListener(jl)
    assert(jobs.size <= 3,
      s"append ran ${jobs.size} jobs — a corpus-sized job crept in " +
        "(expected only the batch count + segment write); descriptions: " +
        jobs.toArray.mkString(" | "))
    // every vector indexed exactly once, and the appended assignments
    // equal a full re-assignment of the grown corpus under the ORIGINAL
    // centroids — the incremental ≡ batch claim with centroids fixed
    val assigned = Similarity.ivfAssignments(spark, dir)
      .select(col("vec_id"), col("cid"))
    assert(assigned.count() == emb.count())
    assert(assigned.select("vec_id").distinct().count() == emb.count())
    val expect = Similarity.assignCells(emb, cents0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(assigned.collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong)).toSet == expect,
      "appended assignments diverge from re-assignment under original centroids")
    // centroids untouched by the append (v1 carries a copy of v0's)
    assert(spark.read.parquet(s"$dir/v1/centroids").collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Float](1)))
      .sortBy(_._1).toIndexedSeq == cents0)
    // reader isolation as an API, not a side effect: a time-travel read
    // of the RETAINED previous version sees exactly the pre-append rows
    // — an in-flight reader of v0 is unaffected by the v1 promote
    val m0 = graft.operators.VersionedIndex.metaAt(dir, 0)
    assert(m0.totalRows == base.count() && m0.segs == Vector(0L))
    val v0Rows = graft.operators.VersionedIndex
      .readLog(spark, dir, "assignments", m0.segs, "vec_id BIGINT, cid INT")
      .select("vec_id").as[Long].collect().toSet
    assert(v0Rows == base.select("vec_id").as[Long].collect().toSet,
      "time-travel read of v0 must see exactly the pre-append corpus")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

    // --- majority append: drift trigger re-fits on the grown corpus ---
    val dir2 = java.nio.file.Files.createTempDirectory("ivf_drift").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 100), dir2)
    assert(Similarity.appendToIvfIndex(emb,
      emb.filter(col("vec_id") >= 100), dir2),
      "an 80% append must trip the drift re-train")
    def rs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    // post-re-train the index is a fresh seed-pinned build on the grown
    // corpus: search results identical to the rebuild path
    assert(rs(Similarity.annIvfIndexed(emb, dir2)) ==
      rs(Similarity.annIvfKmeans(emb)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
  }

  test("PQ codes: 32x compression still recalls most true neighbors") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val exact = Similarity.bruteForceTopK(emb, nQueries = 8, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annPq(emb, nQueries = 8, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 8 bytes of codes per 256-byte vector; the seed codebook is the
    // untrained floor — far above the 2% random baseline is the bar
    assert(recall >= 0.2, s"recall=$recall")
  }

  test("IVF-PQ: probed-cell ADC candidates are a subset of PQ's, recall holds") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, 8, 10))
    val ivfpq = Similarity.annIvfPq(emb, 8, 10)
    // the composition can only SHRINK the candidate pool vs plain PQ
    // (same codes, fewer candidates) — scores of surviving pairs are
    // identical, so every returned pair must score the same under annPq
    val pqScores = Similarity.annPq(emb, 8, emb.count().toInt).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    ivfpq.collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(pqScores.get(key).contains(r.getDouble(2)),
        s"IVF-PQ score for $key diverges from the shared ADC math")
    }
    val recall = (exact intersect pairs(ivfpq)).size.toDouble / exact.size
    // nprobe/K = 4/16 of the corpus is scanned; both the cell probe and
    // the codes are seed-trained, so the floor is low but must clear
    // the random baseline by far
    assert(recall >= 0.15, s"recall=$recall")
  }

  test("persisted IVF-PQ index: query/append ≡ fresh, cells prune at probe time") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    def rs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val fresh = rs(Similarity.annIvfPq(emb))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_index").toString
    Similarity.buildIvfPqIndex(emb, dir)
    assert(rs(Similarity.annIvfPqIndexed(emb, dir)) == fresh,
      "persisted IVF-PQ query diverges from the fresh path")
    // inverted-file layout: cid= partitions under the segment, and the
    // probe join prunes the cells scan at runtime
    assert(new java.io.File(dir, "cells/seg=0/cid=0").isDirectory,
      "cells not laid out as seg=/cid= partitions")
    val plan = Similarity.annIvfPqIndexed(emb, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the cells scan:\n$plan")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

    // append below the drift threshold: both models held fixed, result
    // equals a fresh build ONLY when the models coincide — base holds
    // the centroid+codebook seed vectors, so they do
    val seeds = math.max(Similarity.PqK, Similarity.NumCentroids)
    val base = emb.filter(col("vec_id") < seeds || col("vec_id") % 10 =!= 9)
    val batch = emb.filter(col("vec_id") >= seeds && col("vec_id") % 10 === 9)
    val dir2 = java.nio.file.Files.createTempDirectory("ivfpq_append").toString
    Similarity.buildIvfPqIndex(base, dir2)
    assert(!Similarity.appendToIvfPqIndex(emb, batch, dir2),
      "a ~10% append must not trip the drift re-train")
    assert(rs(Similarity.annIvfPqIndexed(emb, dir2)) == fresh,
      "appended IVF-PQ index diverges from a fresh build of the grown corpus")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
  }

  test("persisted PQ index: build, append, drift re-train ≡ fresh fit") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    def rs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val fresh = rs(Similarity.annPq(emb))
    // --- build on the full corpus: indexed ≡ fresh (the q43 claim) ---
    val dir = java.nio.file.Files.createTempDirectory("pq_index").toString
    Similarity.buildPqIndex(emb, dir)
    assert(rs(Similarity.annPqIndexed(emb, dir)) == fresh,
      "persisted-PQ query diverges from the fresh-fit path")
    assert(new java.io.File(dir, "codes/seg=0").isDirectory &&
      new java.io.File(dir, "CURRENT").isFile,
      "PQ store missing the seg layout or the CURRENT pointer")
    // the indexed query must not re-encode: its plan scans the
    // persisted codes instead of carrying the argmin encode expression
    val plan = Similarity.annPqIndexed(emb, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("codes"), s"no codes scan in plan:\n$plan")
    assert(!plan.contains("named_struct"),
      "indexed PQ plan still carries the encode argmin expression")
    // atomic visibility, same contract as the IVF store: a half-written
    // (crashed, never-committed) code segment is invisible to readers
    emb.limit(100).select(col("vec_id").as("cand_id"))
      .write.parquet(s"$dir/codes/seg=99")
    assert(rs(Similarity.annPqIndexed(emb, dir)) == fresh,
      "an uncommitted code segment leaked into the committed read")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

    // --- incremental append under the drift threshold: the base holds
    // the first PqK vectors (so its codebook equals the grown corpus's)
    // and the appended segment re-encodes only the batch — the result
    // must STILL equal a fresh fit of the grown corpus ---
    val base = emb.filter(col("vec_id") < Similarity.PqK ||
      col("vec_id") % 10 =!= 9)
    val batch = emb.filter(col("vec_id") >= Similarity.PqK &&
      col("vec_id") % 10 === 9)
    val dir2 = java.nio.file.Files.createTempDirectory("pq_append").toString
    Similarity.buildPqIndex(base, dir2)
    assert(!Similarity.appendToPqIndex(emb, batch, dir2),
      "a ~10% append must not trip the drift re-train")
    assert(rs(Similarity.annPqIndexed(emb, dir2)) == fresh,
      "appended PQ index diverges from a fresh fit of the grown corpus")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))

    // --- majority append: drift trigger re-fits and resets the chain ---
    val dir3 = java.nio.file.Files.createTempDirectory("pq_drift").toString
    Similarity.buildPqIndex(emb.filter(col("vec_id") < 100), dir3)
    assert(Similarity.appendToPqIndex(emb,
      emb.filter(col("vec_id") >= 100), dir3),
      "a majority append must trip the drift re-train")
    assert(rs(Similarity.annPqIndexed(emb, dir3)) == fresh)
    val m = graft.operators.VersionedIndex.metaOrThrow(dir3)
    assert(m.segs == Vector(1L) && m.trainedRows == m.totalRows,
      s"re-train did not reset the segment chain/baseline: $m")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir3))
  }

  test("fused PqAdcDot expression == composable HOF formulation") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val cb: Seq[Seq[Double]] = emb.filter($"vec_id" < Similarity.PqK)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    // fixed fake codes (deterministic) over the first 50 vectors
    val withCodes = emb.limit(50).select($"vec_id", $"embedding",
      expr(s"transform(sequence(0, ${Similarity.PqM - 1}), m -> int((vec_id + m) % ${Similarity.PqK}))").as("codes"),
      typedLit(cb).as("cbl"))
    val hof = expr(
      s"""aggregate(sequence(0, ${Similarity.PqM - 1}), cast(0.0 as double), (acc, m) ->
         |  acc + aggregate(sequence(0, ${Similarity.PqD - 1}), cast(0.0 as double), (a2, d) ->
         |    a2 + double(element_at(embedding, m * ${Similarity.PqD} + d + 1))
         |       * element_at(element_at(cbl, element_at(codes, m + 1) + 1), m * ${Similarity.PqD} + d + 1)))""".stripMargin)
    val rows = withCodes.select($"vec_id",
      graft.functions.VectorFns.pqAdcDot($"embedding", $"codes", cb, Similarity.PqD).as("fused"),
      hof.as("hofv")).collect()
    rows.foreach(r => assert(r.getDouble(1) == r.getDouble(2), s"vec ${r.getLong(0)}"))
  }

  test("brute-force top-k is exhaustive and correctly ranked") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val out = Similarity.bruteForceTopK(emb, nQueries = 2, k = 5).collect()
    assert(out.length == 10)
    val byQuery = out.groupBy(_.getLong(0))
    byQuery.values.foreach { rs =>
      val sims = rs.sortBy(_.getLong(3)).map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse, "descending by similarity")
    }
  }

  test("q44 recall floors: honest pass column, and a mis-probed family flips red") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val exact = Similarity.bruteForceTopK(emb, 8, 10)
      .select(col("query_id"), col("cand_id"))
    // the shipped surface passes every floor (the oracle pins TRUE, so
    // a false here would be a CORRECTNESS failure, not just a red spec)
    val all = Similarity.annRecallAll(spark, sf).collect()
    assert(all.nonEmpty && all.forall(_.getAs[Boolean]("pass")),
      s"floor breach on the shipped surface: " +
        all.filter(!_.getAs[Boolean]("pass")).map(_.getString(0)).toSet)
    // the q60 regression shape, replayed deliberately: the deep-refined
    // family's results replaced by the plain LSH arm's (a mis-probed /
    // under-shortlisted index would look exactly like this). Its family
    // mean sits under refined_deep's 0.85 floor, so pass flips false —
    // which against the oracle's pinned TRUE is a hash mismatch: the
    // gate catches what q60's green hash hid.
    val masquerade = Similarity.recallWithFloor("refined_deep", exact,
      Similarity.annLsh(emb, 8, 10), 8, 10).collect()
    assert(masquerade.forall(!_.getAs[Boolean]("pass")),
      s"mis-probed family must breach the floor: " +
        masquerade.map(_.getAs[Double]("family_recall")).toSeq.distinct)
    // floor semantics sanity: family_recall is constant per family and
    // equals mean per-query recall on exact integer sums
    val fr = masquerade.map(_.getAs[Double]("family_recall")).distinct
    val meanOfRows = masquerade.map(_.getAs[Double]("recall_at_k")).sum / 8
    assert(fr.length == 1 && math.abs(fr.head - meanOfRows) < 1e-9)
    // r18 contract tightening, case 1: the deep shortlist silently
    // regressing to the SHALLOW one (the literal q60 drift — same
    // family, smaller re-rank budget: 0.825 here vs the 0.85 floor)
    // now also flips red; under the old tripwire floor (0.75) it
    // stayed green.
    val shallow = Similarity.recallWithFloor("refined_deep", exact,
      Similarity.annIvfPqRefined(emb,
        Similarity.ensureIvfPqIndex(spark, sf), 8, 10), 8, 10).collect()
    assert(shallow.forall(!_.getAs[Boolean]("pass")),
      s"deep->shallow shortlist collapse must breach the tightened floor: " +
        shallow.map(_.getAs[Double]("family_recall")).toSeq.distinct)
    // case 2: a multi-probe budget halving (2 probes -> none; a config
    // regression, not an algorithm swap) breaches lsh_mp's floor
    val halved = Similarity.recallWithFloor("lsh_mp", exact,
      Similarity.annLsh(emb, 8, 10), 8, 10).collect()
    assert(halved.forall(!_.getAs[Boolean]("pass")),
      s"probe-budget halving must breach the lsh_mp floor: " +
        halved.map(_.getAs[Double]("family_recall")).toSeq.distinct)
  }

  test("q87 router recall gate: shipped weak-theta grid passes, the r17 16-table grid flips red") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    // the production configuration (what q87 ships): must pass — the
    // oracle pins TRUE, so false here would be a CORRECTNESS failure
    val (t, p, pr) = Dedup.routerLshGrid(0.45)
    assert((t, p, pr) == (Dedup.WeakLshTables, Dedup.AutoLshPlanes,
      Dedup.AutoLshProbes), "router grid drifted from the promoted tier")
    val shipped = Dedup.routerRecallGate(emb, 0.45, t, p, pr).head()
    assert(shipped.getAs[Boolean]("pass"),
      "shipped router grid breached its own recall floor")
    assert(shipped.isNullAt(shipped.fieldIndex("recall_on_fail")),
      "recall_on_fail must be NULL on the green path (the oracle pins it)")
    // the regression the gate exists for: the weak-theta tier silently
    // reverting to the r17 default grid (16 tables at θ=0.45) — its
    // recall here reads 0.857 (6/7 stratum pairs), under the 0.89 floor
    val reverted = Dedup.routerRecallGate(emb, 0.45,
      Dedup.AutoLshTables, Dedup.AutoLshPlanes, Dedup.AutoLshProbes).head()
    assert(!reverted.getAs[Boolean]("pass"),
      "16-table revert must breach the router recall floor")
    // diagnosability on breach (r19 advice): the failing row itself
    // carries the sampled recall, so a floor breach in the correctness
    // gate is attributable from the dumped Verify parquet alone
    val onFail = reverted.getAs[Double]("recall_on_fail")
    assert(!onFail.isNaN && onFail > 0.0 && onFail < Dedup.RouterRecallFloor,
      s"breached gate must stamp its sampled recall (got $onFail)")
  }

  test("dedup memo: a table rewritten in place is read again, not served from the memo") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo").toString
    val all = graft.engine.Tables.documents(spark, sf).orderBy("doc_id")
    all.limit(40).write.parquet(s"$dir/documents.parquet")
    def q37() = Dedup.qDupClusters(spark, dir).collect().map(_.toString).toSeq.sorted
    val first = q37()
    all.filter(col("doc_id") > 100L).limit(60)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val second = q37()
    Dedup.clearShingleCaches()
    assert(second == q37(), "the rewritten table was served the old file's clusters")
    assert(second != first)
  }
}
