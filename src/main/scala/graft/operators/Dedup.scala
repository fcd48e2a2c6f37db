package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Deduplication operators over the `documents` table — the core of a
  * training-data pipeline (builder-prompt scale extensions; the reference
  * itself never dedups, SURVEY.md §2.9 hazard 7, so these go beyond its
  * surface).
  *
  * Scale design (100 TB):
  *  - exact / fingerprint dedup: one hash-partition shuffle on a 32-char
  *    key, partial+final hash-agg — the canonical Spark dedup.
  *  - MinHash signatures: per-row narrow expressions (shingle → 60-bit
  *    seeded hashes → per-seed min), NO shuffle and no explode of the
  *    shingle set across rows; whole-stage codegen end to end.
  *  - LSH banding: the only shuffle is groupBy(band, band_hash) whose
  *    cardinality is ~n_docs×n_bands with near-uniform md5 keys — no skew.
  *    Candidate pairs then get exact-Jaccard verification, so the expensive
  *    O(n²) comparison never materializes; cost is O(candidates).
  *  - embedding near-dup: the exact blocked kernel ([[embeddingNearDups]])
  *    below [[MaxExactNearDupRows]] vectors; the LSH-prefiltered
  *    per-bucket kernel ([[embeddingNearDupsLsh]]) above it —
  *    [[embeddingNearDupsAuto]] routes.
  */
object Dedup {

  val NumHashes = 16
  val NumBands = 4 // 4 rows per band

  /** MinHash family: one portable md5 per shingle gives h0 = hash60(s)
    * mod P; family member k is the cheap affine map
    * h_k = ((2k+1)·h0 + k·104729) mod P over the Mersenne prime P = 2^31-1.
    * (2k+1)·h0 + k·104729 < 2^36 — no 64-bit overflow in either engine.
    * The whole signature is computed by the fused
    * [[graft.functions.MinHashSignature]] expression (one pass per row,
    * no boxed lambdas — the interpreted HOF formulation was 5× slower;
    * DedupSpec asserts both agree). */
  val HashPrime = 2147483647L

  /** Per-(session, input) memo for the persisted intermediates below.
    * Round-1 persisted a fresh structurally-identical DF per call and never
    * unpersisted — CacheManager logged "already cached" per call and the
    * entries outlived the whole 33-query run. The memo persists each
    * distinct input exactly once; [[clearShingleCaches]] releases them.
    *
    * The key canonicalizes FILE inputs by their root paths' file sets
    * ([[graft.FileSet]]): two separate `spark.read.parquet(same path)`
    * calls build `LogicalRelation`s whose canonical plans compare by
    * file-index REFERENCE, so a plan-keyed memo silently missed across
    * queries and every consumer re-ran the whole intermediate (measured:
    * the q38 cluster fixpoint re-ran 16 s of work q37 had just done). The
    * file set, not the path alone, so a table rewritten in place misses
    * instead of serving the old files' result. Local (in-memory test)
    * relations key on their row data; anything else keys on identity —
    * never a false hit. */
  private val shingleCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  /** The value-digest component of [[memoKey]] for an AUXILIARY input —
    * callers whose memoized relation depends on a second DataFrame
    * (q82's probe side) fold this into the stage string instead of an
    * identity hashCode, which can collide across distinct inputs and
    * silently serve one input's cache for another (the memoKey
    * LocalRelation argument). */
  private[operators] def memoTagOf(df: DataFrame): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(memoKey(df, "")._3.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def memoKey(docs: DataFrame, stage: String): (SparkSession, String, String) = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val analyzed = docs.queryExecution.analyzed
    val leaves = analyzed.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => "files:" + fs.location.rootPaths
          .map(p => graft.FileSet.list(docs.sparkSession, p.toString)).mkString(",")
        case other => "rel:" + System.identityHashCode(other)
      }
      // md5 over the full rendered rows, not Seq.hashCode: a 32-bit
      // collision between two same-schema test inputs would silently
      // serve one input's cached dedup state for the other
      case lr: LocalRelation =>
        val md = java.security.MessageDigest.getInstance("MD5")
        lr.data.foreach(r => md.update(r.toString.getBytes("UTF-8")))
        "local:" + lr.data.length + ":" +
          md.digest().map("%02x".format(_)).mkString
      case other => "leaf:" + System.identityHashCode(other)
    }
    // schema.json rides along because plan toString truncates field
    // lists beyond spark.sql.debug.maxToStringFields — without it two
    // wide projections differing only in late columns could collide
    (docs.sparkSession, stage,
      analyzed.canonicalized.toString + "|" + docs.schema.json +
        "|" + leaves.mkString(";"))
  }

  /** NOT computeIfAbsent: the cluster memo's build function itself
    * memoizes its shingle inputs, and a nested computeIfAbsent on the
    * same ConcurrentHashMap throws IllegalStateException("Recursive
    * update") whenever the inner key lands in the outer key's bin
    * (observed as a hash-dependent test flake). A reentrant lock +
    * double-checked get keeps builds single-flight and nest-safe. */
  private[operators] def memoPersist(docs: DataFrame, stage: String)
                         (build: DataFrame => DataFrame): DataFrame = {
    val key = memoKey(docs, stage)
    val hit = shingleCache.get(key)
    if (hit != null) hit
    else shingleCache.synchronized {
      val again = shingleCache.get(key)
      if (again != null) again
      else {
        val built = build(docs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        shingleCache.put(key, built)
        built
      }
    }
  }

  /** Unpersist and forget every memoized signature/shingle cache — call
    * once at the end of a pipeline/bench run. */
  def clearShingleCaches(): Unit = {
    shingleCache.values().forEach(df => { df.unpersist(); () })
    shingleCache.clear()
  }

  /** (doc_id, sig): MinHash signatures — the shared input of the
    * minhash/LSH stages. Cached: q12/q13/q14 and both sides of the LSH
    * self-join reuse the exact same plan, and Spark would otherwise
    * re-run the pass per reference (CollapseProject inlines it into each
    * consumer). The shingle-string arrays live in [[shingleSets]] —
    * only the Jaccard stage pays for them. */
  private[operators] def shingleBase(docs: DataFrame): DataFrame =
    memoPersist(docs, "sig")(d => d.select(col("doc_id"),
      graft.functions.MinHashFns.minhashSignature(col("text"), NumHashes).as("sig")))

  /** (doc_id, sh): distinct shingle sets (fused expression), cached for
    * the two-sided Jaccard join. `private[graft]`: also the shingle
    * append-log delta in [[graft.streaming.DedupStream]]'s state commit. */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    memoPersist(docs, "shingles")(d =>
      d.select(col("doc_id"), graft.functions.MinHashFns.shingleSet(col("text")).as("sh")))

  /** Exact dedup rollup: group by content hash, keep the canonical
    * (minimum) doc_id. `md5(text)` rather than raw text as the shuffle key
    * keeps reducer keys fixed-width. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_dups"))

  /** MinHash signature in long format: (doc_id, k, minhash) for
    * k = 0..NumHashes-1 over word 3-gram shingles. */
  def minhashSignature(docs: DataFrame): DataFrame =
    shingleBase(docs)
      .select(col("doc_id"), posexplode(col("sig")))
      .withColumnRenamed("pos", "k")
      .withColumnRenamed("col", "minhash")
      .withColumn("k", col("k").cast("long"))

  /** LSH band keys: NumBands bands of NumHashes/NumBands rows each;
    * band_hash = md5 of the comma-joined signature slice. */
  def lshBands(docs: DataFrame): DataFrame = {
    val rows = NumHashes / NumBands
    shingleBase(docs)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, ${NumBands - 1}), b ->
           |  md5(concat_ws(',', transform(slice(sig, b * $rows + 1, $rows), x -> cast(x as string)))))""".stripMargin)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
      .withColumn("band", col("band").cast("long"))
  }

  /** LSH candidate pairs: documents sharing any band hash. The join is on
    * (band, band_hash) — both sides are the same banded relation, so at
    * scale this is a shuffle-on-band-hash self-join with uniform keys. */
  /** @param saltBuckets > 1 engages [[Skew.saltGridSides]] on the band
    *   self-join — the hot-bucket path for duplicate-heavy corpora,
    *   where one (band, band_hash) value (a boilerplate page crawled a
    *   million times survives exact dedup with one-character variants)
    *   carries a large share of the docs and the plain self-join's
    *   hottest reducer does |bucket|² work. Same exact-decomposition
    *   contract as [[simhashPairs]]'s q52 path: row-set-identical to
    *   the unsalted join (spec-pinned incl. a hot fixture; q57 shares
    *   q13's oracle), ~(B/2+1)× band-row replication for a B²-fold
    *   hottest-cell shrink.
    *
    *   When it pays, MEASURED (HotLshProbe, 50k docs, 15k-doc hot
    *   near-dup mass, local[32]; its 20k-doc default run is
    *   bench/HOTLSH_PROBE_r22.txt): never locally — 0.77–0.86× at
    *   B∈{2,3,8} — because a hot doc set is hot in all [[NumBands]]
    *   bands at once, which already spreads its pair work 16 ways, and
    *   32 cores can't exploit more than 2× further while the
    *   replication cost is immediate. The grid is a FLEET-WIDTH lever:
    *   it wins when executor cores ≫ bands × distinct hot buckets (a
    *   1000-executor cluster idling 31,984 cores behind 16 straggler
    *   reducers), which no local measurement can exhibit. Default 1;
    *   engage at deployment scale, sized so bands × B² ≈ fleet cores. */
  def lshCandidatePairs(docs: DataFrame, saltBuckets: Int = 1): DataFrame =
    // memoized: q13 reads it directly, and jaccardPairs references it
    // TWICE (verify + the endpoint-id restriction below) — without the
    // memo each reference would re-run the band self-join
    memoPersist(docs, s"cand:$saltBuckets") { d =>
      val b = lshBands(d)
      val salted = saltBuckets > 1
      val (lSide, rSide) =
        if (salted) Skew.saltGridSides(b, "doc_id", saltBuckets)
        else (b, b)
      val cellKeys = if (salted) Seq("__cell_lo", "__cell_hi") else Nil
      val l = lSide.select((Seq("band", "band_hash") ++ cellKeys).map(col) :+
        col("doc_id").as("doc_a"): _*)
      val r = rSide.select((Seq("band", "band_hash") ++ cellKeys).map(col) :+
        col("doc_id").as("doc_b"): _*)
      val joined = l.join(r, Seq("band", "band_hash") ++ cellKeys)
      // grid cells orient cross-block pairs by salt, not id (see
      // simhashPairs): canonicalize with least/greatest there
      val pairs =
        if (salted) joined.filter(col("doc_a") =!= col("doc_b"))
          .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
            greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        else joined.filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
      pairs.distinct()
    }

  /** Exact word-3-gram Jaccard for the LSH candidates (verification stage
    * of MinHash dedup). Only candidate pairs pay the set-intersection
    * cost — and only candidate ENDPOINT docs pay the shingle-set
    * materialization: the sets side is semi-joined down to the pairs'
    * doc ids before the shingle arrays are built (the same narrowing
    * [[IncrementalDedup]]'s admission verify uses), instead of
    * materializing corpus-sized string arrays to verify a duplicate
    * subgraph that is a few percent of the corpus. [[Corpus
    * .decontaminate]] genuinely needs every doc's shingles and keeps its
    * own [[shingleSets]] path. */
  def jaccardPairs(docs: DataFrame): DataFrame = {
    val cand = lshCandidatePairs(docs)
    val ids = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // memoized: verifyJaccard references the sets relation TWICE (the
    // doc_a and doc_b joins) — uncached, the semi-join + shingle pass
    // would plan (and likely execute) under both join sides
    val sets = memoPersist(docs, "candSets")(d =>
      d.join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          graft.functions.MinHashFns.shingleSet(col("text")).as("sh")))
    verifyJaccard(cand, sets)
  }

  /** Jaccard-verify an arbitrary candidate relation (doc_a, doc_b) against
    * a shingle-set relation (doc_id, sh) — shared by the full-corpus path
    * above and [[IncrementalDedup.admitBatch]], so the two paths are
    * numerics-identical by construction (same round-6dp expression). */
  private[operators] def verifyJaccard(cand: DataFrame, sets: DataFrame): DataFrame =
    cand
      .join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6).as("jaccard"))

  /** SimHash over whitespace tokens: each token's 60-bit hash votes
    * ±1 per bit position; the sign vector packs into an integer. Near-dup
    * docs differ in few bits (compare via Hamming distance downstream).
    *
    * Production path is the fused native expression
    * ([[graft.functions.SimHash]]): one hand-written per-row loop, zero
    * boxed lambdas. This composable HOF formulation is kept as the
    * readable reference — DedupSpec asserts the two agree row-for-row
    * (they share the q15/q36/q52 oracles). The HOF costs ~2·bits boxed
    * ops per token (zip_with reallocates the vote array per token): 2.5×
    * q15 wall at 16 bits, worse at 60. */
  private[graft] def simhashExprHof(bits: Int): Column =
    expr(
      s"""aggregate(
         |  zip_with(
         |    aggregate(
         |      transform(split(trim(text), '\\\\s+'), w ->
         |        cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)),
         |      array_repeat(cast(0 as bigint), $bits),
         |      (acc, h) -> zip_with(acc, sequence(0, ${bits - 1}), (a, b) ->
         |        a + if((shiftright(h, b) & 1) = 1, 1, -1))),
         |    sequence(0, ${bits - 1}),
         |    (v, b) -> if(v > 0, shiftleft(cast(1 as bigint), b), cast(0 as bigint))),
         |  cast(0 as bigint), (acc, x) -> acc + x)""".stripMargin)

  /** 16-bit SimHash (q15's compact fingerprint surface). */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SimHashFns.simhash(col("text"), 16).as("simhash"))

  /** SimHash near-dup banding (q36). 60-bit SimHash (all the entropy the
    * portable 60-bit word hash offers), banded into [[SimBands]] chunks of
    * 15 bits. By pigeonhole, two docs within Hamming distance
    * [[SimMaxHamming]] (< SimBands) share at least one untouched band, so
    * the band-bucket self-join finds EVERY such pair — the banding is a
    * complete index, not an approximation (the driver oracle brute-forces
    * all pairs, which verifies exactly that).
    *
    * Scale: the only shuffle is the groupBy-shaped self-join on
    * (band, band_key) — 15-bit near-uniform keys. Language/domain bias can
    * skew one band value hot; AQE skew-join or key salting (Skew.scala)
    * is the standard counter at 100 TB. The simhash pass itself is cached
    * once ([[memoPersist]]) and shared by both join sides. */
  val SimBits = 60
  val SimBands = 4
  val SimMaxHamming = 3

  def simhash60(docs: DataFrame): DataFrame =
    memoPersist(docs, "simhash60")(d =>
      d.select(col("doc_id"),
        graft.functions.SimHashFns.simhash(col("text"), SimBits).as("simhash")))

  /** @param saltBuckets > 1 engages [[Skew.saltGridSides]] on the band
    *   join — the hot-band path for corpora whose language/boilerplate
    *   bias makes one (band, band_key) value carry a large share of the
    *   docs. Row-set-identical to the unsalted join (asserted in
    *   DedupSpec, and q52 shares q36's brute-force oracle); default 1
    *   keeps the toy-scale plan free of the ~(B/2+1)× replication. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = SimMaxHamming,
      saltBuckets: Int = 1): DataFrame = {
    // pigeonhole completeness holds only below the band count: at
    // maxHamming == SimBands every band can absorb one flipped bit and
    // the banding would silently miss pairs
    require(maxHamming < SimBands,
      s"maxHamming=$maxHamming not < SimBands=$SimBands: banding would be incomplete")
    val bitsPerBand = SimBits / SimBands
    val mask = (1L << bitsPerBand) - 1
    val banded = simhash60(docs)
      .select(col("doc_id"), col("simhash"),
        posexplode(expr(s"transform(sequence(0, ${SimBands - 1}), b -> " +
          s"shiftright(simhash, b * $bitsPerBand) & ${mask}L)")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    val salted = saltBuckets > 1
    val (lSide, rSide) =
      if (salted) Skew.saltGridSides(banded, "doc_id", saltBuckets)
      else (banded, banded)
    val cellKeys = if (salted) Seq("__cell_lo", "__cell_hi") else Nil
    val l = lSide.select((Seq("band", "band_key") ++ cellKeys).map(col) :+
      col("doc_id").as("doc_a") :+ col("simhash").as("sim_a"): _*)
    val r = rSide.select((Seq("band", "band_key") ++ cellKeys).map(col) :+
      col("doc_id").as("doc_b") :+ col("simhash").as("sim_b"): _*)
    val joined = l.join(r, Seq("band", "band_key") ++ cellKeys)
      .withColumn("hamming", expr("cast(bit_count(sim_a ^ sim_b) as bigint)"))
    // grid cells orient cross-block pairs by salt, not id — canonicalize
    // with least/greatest there (hamming is symmetric); the unsalted join
    // keeps the cheaper one-sided inequality
    val pairs =
      if (salted) joined.filter(col("doc_a") =!= col("doc_b"))
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("hamming"))
      else joined.filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    pairs.filter(col("hamming") <= maxHamming).distinct()
  }

  /** Duplicate-cluster assignment (q37): connected components over the
    * near-dup graph (LSH candidates verified at `jaccard >= threshold`),
    * labeling every document with the minimum doc_id reachable from it —
    * the canonical representative a dedup pass keeps. Pairs only say "A
    * duplicates B"; training-data dedup needs the transitive closure (A~B,
    * B~C ⟹ one cluster), which no single join expresses.
    *
    * Algorithm: [[Components.connectedComponents]] over the (sparse)
    * verified-pair edge set — large-star/small-star rounds, O(log n) in
    * the component diameter, with the size-guarded driver union-find
    * short-circuit for tiny edge sets — then a left join back to `docs`
    * so unpaired documents label themselves as singletons. Only docs
    * that appear in a duplicate pair enter the fixpoint: the iteration
    * runs on the duplicate subgraph, not the corpus. Deterministic
    * (min doc_id per component), so it is oracle-checkable against a
    * recursive-CTE closure. */
  def duplicateClusters(docs: DataFrame, threshold: Double = 0.5,
      maxIter: Int = 20): DataFrame =
    // memoized like the shingle caches: the fixpoint is an ACTION-driven
    // loop, so without the memo every consumer (q37, the q38 keep-list)
    // would re-run the whole iteration; production materializes cluster
    // labels once per corpus snapshot for exactly this reason
    memoPersist(docs, s"clusters:$threshold:$maxIter")(d =>
      computeClusters(d, threshold, maxIter))

  private def computeClusters(docs: DataFrame, threshold: Double,
      maxIter: Int): DataFrame =
    componentLabels(docs.select(col("doc_id")), "doc_id",
      jaccardPairs(docs)
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a").as("a"), col("doc_b").as("b")),
      maxIter)

  /** Shared clustering tail of [[duplicateClusters]] (text) and
    * [[embeddingDupClusters]] (vectors): pin the verified edge set
    * (bounded take → local relation; checkpoint over the cap — the
    * fixpoint probes it repeatedly), run the component fixpoint on the
    * DUPLICATE SUBGRAPH only, then label the full id universe
    * (singletons label themselves) with per-cluster sizes. The final
    * pin truncates the candidate/verify/fixpoint lineage — every
    * consumer (and the memo's cached plan) sees a flat label relation,
    * not a re-runnable clustering pipeline; deployments set
    * CheckpointPolicy.Reliable to put the pins on shared storage. */
  private def componentLabels(universe: DataFrame, idCol: String,
      edgesLazy: DataFrame, maxIter: Int): DataFrame = {
    val labels = componentLabelsOnly(universe, idCol, edgesLazy, maxIter)
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("cluster_size"))
  }

  /** [[componentLabels]] without the per-cluster size join — for
    * consumers that only persist (id, cluster_id), e.g. the embedding
    * chain's bootstrap label log, where the size relation is derived at
    * load and the inner join here would run a dead groupBy+join. */
  private def componentLabelsOnly(universe: DataFrame, idCol: String,
      edgesLazy: DataFrame, maxIter: Int): DataFrame = {
    // pin FIRST, then take: every edge relation here ends in a
    // distinct() (a full shuffle), so a bare take(cap) computes the
    // whole upstream anyway and the old take-then-pin order ran the
    // verify pipeline TWICE whenever the edge set was over the cap
    // (measured: ~2x the cold wall of the q61 edge relation at the 40k-
    // vector scale point). Under the cap the pin is freed immediately.
    val pinnedEdges = graft.Checkpoints.pin(edgesLazy)
    val tk = pinnedEdges.take(IncrementalDedup.KeyPushMax + 1)
    val edges =
      if (tk.length <= IncrementalDedup.KeyPushMax) {
        graft.Checkpoints.free(pinnedEdges)
        universe.sparkSession.createDataFrame(
          java.util.Arrays.asList(tk: _*), edgesLazy.schema)
      } else pinnedEdges
    val comp = Components.connectedComponents(edges, maxRounds = maxIter)
    // comp arrives eagerly pinned (connectedComponents frees its own
    // round pins against it) — the over-cap edge pin is dead now
    if (tk.length > IncrementalDedup.KeyPushMax)
      graft.Checkpoints.free(pinnedEdges)
    val labels = graft.Checkpoints.pin(universe
      .join(comp.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster_id")))
    // the labels pin is eager — comp's pin is no longer referenced
    graft.Checkpoints.free(comp)
    labels
  }

  /** Labels-only twin of [[embeddingDupClusters]]: (vec_id, cluster_id)
    * with no size join — the embedding chain's bootstrap persists
    * exactly this and derives sizes at load. Memoized separately (the
    * two relations have different shapes). */
  private[graft] def embeddingDupLabels(emb: DataFrame,
      threshold: Double = 0.45, maxIter: Int = 20): DataFrame =
    memoPersist(emb, s"embLabels:$threshold:$maxIter")(e =>
      componentLabelsOnly(e.select(col("vec_id")), "vec_id",
        embeddingNearDupsLsh(e, threshold)
          .select(col("vec_a").as("a"), col("vec_b").as("b")),
        maxIter))

  /** Semantic-dedup clustering: connected components over the
    * embedding near-dup graph — the vector-side analog of
    * [[duplicateClusters]], with [[embeddingNearDupsLsh]] as the edge
    * relation so the WHOLE chain (hyperplanes → buckets → kernel
    * verify → closure) stays oracle-replayable (q61). Every vector is
    * labeled (singletons as their own cluster) with cluster sizes;
    * downstream keeps one canonical member per cluster exactly like
    * the text side's [[Corpus.corpusFilter]]. Scale shape = the edge
    * relation's (per-bucket kernels, one shuffle) + the subgraph
    * fixpoint (duplicate pairs only, never the corpus). */
  def embeddingDupClusters(emb: DataFrame, threshold: Double = 0.45,
      maxIter: Int = 20): DataFrame =
    memoPersist(emb, s"embClusters:$threshold:$maxIter")(e =>
      componentLabels(e.select(col("vec_id")), "vec_id",
        embeddingNearDupsLsh(e, threshold)
          .select(col("vec_a").as("a"), col("vec_b").as("b")),
        maxIter))

  /** Output row of the blocked near-dup kernel. */
  final case class NearDupPair(vec_a: Long, vec_b: Long, cos_sim: Double)

  /** Embedding near-duplicates: all pairs with cosine >= threshold, via a
    * block-matrix kernel (the exact-join complement of the approximate
    * [[Similarity.annLsh]] path).
    *
    * Round 1 expressed this as a `vec_a < vec_b` theta-join —
    * BroadcastNestedLoopJoin materializing every pair row (2 × 64-float
    * arrays each) through codegen: 90s for 2M pairs at sf0.1 and O(n²)
    * join-row materialization at scale. Instead: assign each vector to one
    * of `blocks` blocks, replicate it once per block *pair* it meets
    * (factor `blocks` — the inherent cost of an exact all-pairs product),
    * and run a tight primitive-array loop per pair group. ONE shuffle on a
    * dense int key, no join operator at all; only above-threshold pairs
    * are ever materialized as rows. At 100 TB, `blocks` is sized so a
    * block pair fits one task (replication grows as sqrt of the pair
    * count, the standard block-matrix trade).
    *
    * `blocks <= 0` (the default) sizes the grid from the input: `B =
    * clamp(8, 64, ceil(N / 4096))`, i.e. ~4k vectors per block, so the
    * per-task pair product stays bounded as the corpus grows instead of
    * growing quadratically inside a FIXED 8×8 grid (the task count grows
    * as B², the shuffle volume only as N×B — at the 64-block cap the
    * replication is 64× a relation that is tiny next to the O(N²)
    * compute this exact kernel inherently pays; past that scale the
    * answer is the ANN family, not a bigger grid). The result is
    * identical for every B — the grid is an exact decomposition —
    * spec-pinned by DedupSpec's cross-B equality.
    *
    * Numerics are bit-identical to round 1's oracle-verified formulation:
    * dot and norm accumulate in double in index order, cosine =
    * dot/(sqrt(ssq_a)·sqrt(ssq_b)), rounded HALF_UP at 4dp exactly like
    * Spark's `round` (scala BigDecimal over `Double.toString`). */
  def embeddingNearDups(emb: DataFrame, threshold: Double = 0.45,
                        blocks: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val b =
      if (blocks > 0) blocks
      else {
        // one count job (columnless scan) to size the grid; the kernel
        // itself then reads the embeddings exactly once more
        gridBlocks(emb.count())
      }
    // one row per (vector, unordered block pair): pair_id = min*b + max
    val exploded = emb
      .select(col("vec_id").cast("long"), col("embedding"),
        pmod(col("vec_id"), lit(b)).cast("int").as("blk"))
      .select(col("vec_id"), col("embedding"), col("blk"),
        explode(expr(
          s"transform(sequence(0, ${b - 1}), p -> int(if(p < blk, p * $b + blk, blk * $b + p)))"))
          .as("pair_id"))
      .as[(Long, Seq[Float], Int, Int)]
    exploded.groupByKey(_._4).flatMapGroups { (pid: Int, rows: Iterator[(Long, Seq[Float], Int, Int)]) =>
      blockPairKernel(pid / b, pid % b,
        rows.map { case (id, v, blk, _) => (id, v, blk) }, threshold)
    }.toDF()
  }

  /** One grid cell (i, j) of a block-decomposed pair product: rows are
    * (id, vec, blk) with blk ∈ {i, j}; diagonal cells (i == j) run the
    * within-block upper triangle, off-diagonal cells the full A×B
    * cross. Shared by [[embeddingNearDups]] and the hot-bucket sub-grid
    * of [[embeddingNearDupsLsh]]. */
  private def blockPairKernel(i: Int, j: Int,
      rows: Iterator[(Long, Seq[Float], Int)],
      threshold: Double): Iterator[NearDupPair] = {
    val aIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val aVec = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val bIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bVec = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    rows.foreach { case (id, v, blk) =>
      if (blk == i) { aIds += id; aVec += v.toArray }
      else { bIds += id; bVec += v.toArray }
    }
    val aN = aVec.map(nrm)
    val bN = bVec.map(nrm)
    val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
    if (i == j) {
      var x = 0
      while (x < aIds.length) {
        var y = x + 1
        while (y < aIds.length) {
          emitNearDup(out, threshold, aIds(x), aVec(x), aN(x), aIds(y), aVec(y), aN(y))
          y += 1
        }
        x += 1
      }
    } else {
      var x = 0
      while (x < aIds.length) {
        var y = 0
        while (y < bIds.length) {
          emitNearDup(out, threshold, aIds(x), aVec(x), aN(x), bIds(y), bVec(y), bN(y))
          y += 1
        }
        x += 1
      }
    }
    out.iterator
  }

  private def nrm(v: Array[Float]): Double = {
    var s = 0.0; var k = 0
    while (k < v.length) { val x = v(k).toDouble; s += x * x; k += 1 }
    math.sqrt(s)
  }

  /** Within-bucket pair kernel for the INCREMENTAL probe
    * ([[EmbeddingIncremental.admitBatch]]): all pairs with at least one
    * NEW endpoint — old-old pairs were verified when the old vectors
    * were admitted, so the kernel never recomputes them. Same fused
    * numerics ([[emitNearDup]]) as the batch route. */
  private[operators] def newPairKernel(rows: Iterator[(Long, Seq[Float], Boolean)],
      threshold: Double): Iterator[NearDupPair] = {
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val isNew = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    rows.foreach { case (id, v, n) => ids += id; vecs += v.toArray; isNew += n }
    val ns = vecs.map(nrm)
    val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
    var x = 0
    while (x < ids.length) {
      var y = x + 1
      while (y < ids.length) {
        if (isNew(x) || isNew(y))
          emitNearDup(out, threshold, ids(x), vecs(x), ns(x), ids(y), vecs(y), ns(y))
        y += 1
      }
      x += 1
    }
    out.iterator
  }

  /** The default near-dup plane-weight grid, shared with the
    * incremental probe so its candidates match the batch route. */
  private[operators] def nearDupLshWeights: Seq[Seq[Double]] =
    nearDupPlaneWeights(NearDupLshTables, NearDupLshPlanes)

  /** The shared exact-verify kernel of [[embeddingNearDups]] and
    * [[embeddingNearDupsLsh]]: fused double-accumulated dot in index
    * order, cosine = dot/(||a||·||b||), HALF_UP 4dp round like Spark's
    * `round`, canonical `vec_a < vec_b`. The 1e-4 guard skips the
    * BigDecimal for the overwhelming below-threshold majority (rounding
    * to 4dp moves a value by < 5e-5, so anything below threshold−1e-4
    * cannot round up past the threshold). */
  private def emitNearDup(out: scala.collection.mutable.ArrayBuffer[NearDupPair],
      threshold: Double, ida: Long, va: Array[Float], na: Double,
      idb: Long, vb: Array[Float], nb: Double): Unit = {
    var s = 0.0; var k = 0
    while (k < va.length) { s += va(k).toDouble * vb(k).toDouble; k += 1 }
    val raw = s / (na * nb)
    if (raw >= threshold - 1e-4) {
      val r = BigDecimal(raw)
        .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
      if (r >= threshold)
        out += (if (ida < idb) NearDupPair(ida, idb, r)
                else NearDupPair(idb, ida, r))
    }
  }

  // ---- LSH-prefiltered embedding near-dup route (q58) --------------------

  /** LSH grid for the PAIRS problem (all near-dup pairs, not 8 queries):
    * more planes per table than [[Similarity.annLsh]]'s ANN grid (8 vs 4),
    * because here BOTH relation sides are corpus-sized and the bucket
    * population is what the verify stage pays for — 2^8 = 256 buckets per
    * table cuts the candidate pair mass ~14× vs all-pairs on the test
    * corpus (measured; all-pairs fraction ≈ T/2^P for near-orthogonal
    * vectors). Plane weights come from the same md5-derived family as
    * [[Similarity.planeWeight]] (portable to the DuckDB oracle), offset by
    * [[NearDupLshPlaneBase]] so the two grids stay independent. */
  val NearDupLshTables = 16
  val NearDupLshPlanes = 8
  val NearDupLshPlaneBase = 1000

  private val nearDupWeightsCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int), Seq[Seq[Double]]]()
  private[graft] def nearDupPlaneWeights(nTables: Int, planes: Int): Seq[Seq[Double]] =
    nearDupWeightsCache.computeIfAbsent((nTables, planes), { case (t, p) =>
      (0 until t * p).map(plane =>
        (0 until 64).map(i => Similarity.planeWeight(NearDupLshPlaneBase + plane, i)))
    })

  /** Candidate pairs for the LSH near-dup route: vectors sharing any
    * table's bucket, canonicalized `vec_a < vec_b`, distinct across
    * tables. One narrow fused-expression pass computes all T buckets per
    * vector ([[graft.functions.LshBuckets]]); the only shuffle is the
    * self-join on the small dense (t, bucket) key — the direct analog of
    * the text side's [[lshCandidatePairs]] band join, and the same skew
    * counter applies there if a bucket runs hot (AQE skew join /
    * [[Skew.saltGridSides]]). */
  def embeddingNearDupLshCandidates(emb: DataFrame,
      nTables: Int = NearDupLshTables,
      planes: Int = NearDupLshPlanes): DataFrame = {
    val bucketed = memoPersist(emb, s"ndLshBuckets:$nTables:$planes")(e =>
      e.select(col("vec_id"), posexplode(
        graft.functions.LshFns.lshBuckets(col("embedding"),
          nearDupPlaneWeights(nTables, planes), planes)))
        .withColumnRenamed("pos", "t")
        .withColumnRenamed("col", "bucket"))
    val l = bucketed.select(col("t"), col("bucket"), col("vec_id").as("vec_a"))
    val r = bucketed.select(col("t"), col("bucket"), col("vec_id").as("vec_b"))
    l.join(r, Seq("t", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
  }

  /** Embedding near-dups via LSH prefilter: bucket-collision candidates
    * verified by EXACT cosine ≥ threshold — the two-stage production shape
    * of the text side's q13→q14 ([[lshCandidatePairs]] →
    * [[jaccardPairs]]), applied to the q16 question.
    *
    * Execution shape: per-(table, bucket) blocked kernel, NOT a
    * candidate join. The first cut of this operator materialized the
    * candidate pairs and joined both endpoints' embeddings back —
    * which ships two 256-byte arrays per CANDIDATE (≈N²·T/2^P rows):
    * measured 48 s with GC thrash at the 40k-vector scale point, 5×
    * the exact kernel it was meant to beat. This shape instead
    * shuffles each vector once per table (N·T array rows — 40× less
    * array traffic at that point), runs the same fused primitive loop
    * as [[embeddingNearDups]] WITHIN each bucket, and `distinct`s the
    * emitted above-threshold pairs across tables (pair scores are
    * deterministic, so the cross-table distinct is exact). Numerics are
    * bit-identical to the exact kernel (shared [[emitNearDup]]).
    *
    * Skew: a bucket's kernel does occ² work, and unlike the text
    * bands' md5 keys, embedding buckets CAN run hot (a dup-heavy
    * corpus concentrates a cluster in one bucket per table). Buckets
    * over [[HotBucketKernelRows]] are detected by a cheap occupancy
    * agg and automatically decomposed through a [[HotSubGridBlocks]]²
    * block grid WITHIN the bucket — an exact, lossless spread of the
    * same pair product across tasks (spec-pinned row identity on a
    * one-hot-bucket fixture), the group-kernel analog of
    * [[Skew.saltGridSides]]. The hot branch costs nothing when no
    * bucket is hot (empty broadcast marker).
    *
    * Semantics: a SUBSET of [[embeddingNearDups]] (spec-pinned) — every
    * emitted pair is a true ≥-threshold pair (the verify is exact), but a
    * true pair whose endpoints collide in no table is missed. Recall is a
    * property of (threshold, T, P): measured on the test corpus at the
    * default grid, 1.0 for pairs with cosine ≥ 0.8 (the near-dup regime
    * this route exists for — planted-dup fixture in DedupSpec), ~0.45 for
    * the weak-similarity 0.45-threshold tail (P(plane agrees) =
    * 1 − θ/π ≈ 0.65 at cos 0.45, so a table of 8 planes keeps only 3%
    * of such pairs; no banding is both selective and complete down
    * there — that regime belongs to the exact kernel, which
    * [[embeddingNearDupsAuto]] picks while the corpus is small enough
    * to afford it; its routing is size-only, see its doc). Verify mass ≈ (T/2^P)·N²/2
    * dot products — a ~14× cut locally, and on real near-dup corpora
    * (clustered mass, not near-orthogonal noise) buckets separate dup
    * groups from the bulk, which is where the route's asymptotic win
    * lives. */
  /** Bucket occupancy above which [[embeddingNearDupsLsh]] decomposes
    * the bucket's pair kernel across a block grid — aligned with the
    * exact kernel's ~4k-vectors-per-block task sizing. */
  val HotBucketKernelRows = 4096

  /** Side length of the within-bucket sub-grid for hot buckets:
    * 16² = 256 cells per hot bucket, each ≤ (occ/16)² pair work. */
  val HotSubGridBlocks = 16

  def embeddingNearDupsLsh(emb: DataFrame, threshold: Double = 0.45,
      nTables: Int = NearDupLshTables,
      planes: Int = NearDupLshPlanes,
      maxBucket: Int = HotBucketKernelRows,
      probes: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // memoized: the occupancy agg, the cold kernel, and the hot branch
    // all consume this relation — unmemoized, each would re-run the
    // bucketing pass over the corpus (measured 2x the route's wall).
    // probes > 0 = MULTI-PROBE: each vector also lands in the `probes`
    // neighbor buckets across its smallest-margin hyperplanes
    // ([[graft.functions.LshBucketsMultiProbe]]) — candidate mass per
    // table grows ~(1+probes)² in dense buckets but recall at weak
    // thresholds rises without more tables (the q68 lever; the sweep
    // artifact carries the measured frontier). probes = 0 keeps the
    // original expression and plan byte-identical (q58's oracle).
    val bucketed = memoPersist(emb, s"ndBuckets:$nTables:$planes:$probes")(e =>
      if (probes == 0)
        e.select(col("vec_id").cast("long"), col("embedding"), posexplode(
            graft.functions.LshFns.lshBuckets(col("embedding"),
              nearDupPlaneWeights(nTables, planes), planes)))
          .select(col("vec_id"), col("embedding"),
            (col("pos").cast("long") * (1L << planes) + col("col")).as("grp"))
      else
        e.select(col("vec_id").cast("long"), col("embedding"), posexplode(
            graft.functions.LshFns.lshBucketsMultiProbe(col("embedding"),
              nearDupPlaneWeights(nTables, planes), planes, probes)))
          .select(col("vec_id"), col("embedding"),
            (expr(s"pos div ${1 + probes}").cast("long") * (1L << planes)
              + col("col")).as("grp")))
    // hot-bucket detection: a narrow-key count; the hot id set is
    // broadcast as a marker (usually empty)
    val hot = bucketed.groupBy("grp").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)
      .select(col("grp"), lit(true).as("hot"))
    val marked = bucketed.join(broadcast(hot), Seq("grp"), "left")
    val coldPairs = marked.filter(col("hot").isNull)
      .select(col("vec_id"), col("embedding"), col("grp"))
      .as[(Long, Seq[Float], Long)]
      .groupByKey(_._3).flatMapGroups { (_, rows) =>
        // whole bucket in one cell: diagonal kernel over a single block
        blockPairKernel(0, 0,
          rows.map { case (id, v, _) => (id, v, 0) }, threshold)
      }.toDF()
    val hb = HotSubGridBlocks
    val hotPairs = marked.filter(col("hot").isNotNull)
      .select(col("vec_id"), col("embedding"), col("grp"),
        pmod(col("vec_id"), lit(hb)).cast("int").as("blk"))
      .select(col("vec_id"), col("embedding"), col("grp"), col("blk"),
        explode(expr(
          s"transform(sequence(0, ${hb - 1}), p -> int(if(p < blk, p * $hb + blk, blk * $hb + p)))"))
          .as("pid"))
      .as[(Long, Seq[Float], Long, Int, Int)]
      .groupByKey(r => (r._3, r._5))
      .flatMapGroups { (key: (Long, Int), rows: Iterator[(Long, Seq[Float], Long, Int, Int)]) =>
        blockPairKernel(key._2 / hb, key._2 % hb,
          rows.map { case (id, v, _, blk, _) => (id, v, blk) }, threshold)
      }.toDF()
    coldPairs.unionByName(hotPairs).distinct()
  }

  /** Default exact-kernel bound for [[embeddingNearDupsAuto]]: up to this
    * many vectors the blocked all-pairs kernel is the right tool (complete
    * answer, ~N²/2 fused-loop dot products — 10^10 at the bound, minutes
    * of fleet compute); past it the LSH route's constant-factor candidate
    * cut (and its clustered-corpus asymptotics) pays for its recall
    * trade. Callers who need completeness above the bound call
    * [[embeddingNearDups]] explicitly and pay knowingly. */
  val MaxExactNearDupRows: Long = 150000L

  /** `blocks` for [[embeddingNearDups]]'s grid at `n` vectors: ~4k
    * vectors per block, clamped to [8, 64] (see the kernel's doc). */
  private def gridBlocks(n: Long): Int =
    math.max(8L, math.min(64L, (n + 4095L) / 4096L)).toInt

  /** The router's LSH-arm grid: 16 tables × 10 planes with 2-probe
    * multi-probe expansion — the measured Pareto point of the
    * recall-vs-verify-mass sweep (`bench/NEARDUP_SWEEP_r16_sf001.txt`):
    * at cos 0.45 it reads 0.93 recall at 0.67× the verify mass of the
    * best single-probe grid (16×6 at 0.916), and ≥0.99 recall in the
    * ≥0.6 regime; vs the 16×8 single-probe grid the first-class q58
    * relation pins (recall 0.73 there), the extra 2 planes per table
    * cut the own-bucket candidate mass 4× and the probes buy the recall
    * back. Oracle-gated as q71 (the full relation hash-replays through
    * [[LshSql.multiProbeRowsSql]] at exactly this grid).
    *
    * RECALL IS THRESHOLD-CONDITIONED, not one number
    * (`bench/ROUTE_RECALL_r17_attrib.txt`): any single recall average
    * is a property of the corpus's pair-similarity MIX as much as of
    * the grid. On sf0.1's organic pairs — 90% of which sit in
    * [0.45, 0.50) — this grid reads 0.76 in that weakest bucket and
    * 1.0 at cos ≥ 0.55, which per-band AGREES with the sweep (0.81
    * sub-0.6, 1.0 above); the sweep's planted twins just carried most
    * mass where the grid is near-complete. Near cos 0.45 no practical
    * hyperplane grid is both selective and complete (collision
    * probability per plane → 1 − θ/π); a caller needing completeness
    * in that tail needs the exact kernel — which the router runs below
    * [[MaxExactNearDupRows]] and [[embeddingNearDups]] offers above
    * it. The stamped evidence therefore carries the per-bucket curve
    * and recall@θ≥0.6 next to the overall ratio (BENCH_DETAIL's
    * `route_recall_curve` / `route_recall_t060`). */
  val AutoLshTables = 16
  val AutoLshPlanes = 10
  val AutoLshProbes = 2

  /** WEAK-THRESHOLD TIER (r18): below [[WeakThetaCutoff]] the router's
    * LSH arm doubles its table count. The r17 attribution showed the
    * default grid reading 0.757 on sf0.1's organic pairs — 90% of which
    * sit in cos [0.45, 0.50), exactly where hyperplane collision
    * probability is weakest — and attribution is not remedy: θ=0.45 IS
    * the router's default, so the production path carried a silent
    * ~24% miss rate at its default setting. The organic-corpus re-sweep
    * (`bench/WEAKTHETA_r18_sf01.txt`) measured the candidate tiers:
    *
    *   16×10+2 (default): 0.757 overall, verify mass 358k
    *   16×10+3: 0.896 @ 1.75× mass      16×10+4: 0.931 @ 2.68× mass
    *   32×10+2: 0.944 @ 2.00× mass      24×10+3: 0.965 @ 2.60× mass
    *   16×8+2:  0.972 @ 3.58× mass
    *
    * 32 tables × same planes/probes DOMINATES the probe-raising options
    * (more recall than 16×10+4 at less mass — more tables add
    * independent chances without densifying buckets, so mass grows
    * exactly linearly while probe mass grows ~quadratically in dense
    * buckets), and plane weights are indexed by GLOBAL plane number, so
    * the 32-table grid's first 16 tables ARE the default grid — the
    * weak tier's pair set is a strict superset (spec-pinned). Recall
    * ≥ 0.9 at bounded verify mass (0.36× of exact at this corpus; the
    * asymptotic cut still scales as T/2^P), θ≥0.6 recall stays 1.0.
    *
    * Memory at scale (measured r18): the doubled candidate stream also
    * doubles the per-bucket kernel's buffered mass — at 500k vectors
    * the tier OOMs an 8 GB single-JVM local-mode heap and runs clean at
    * the 16 GB clamp (`bench/BENCH_DETAIL_r18_sf10_quiet.json`, zero
    * errors); on a cluster this is per-executor working memory. */
  val WeakThetaCutoff = 0.55
  val WeakLshTables = 32

  /** The LSH grid [[embeddingNearDupsAuto]] runs at `threshold`:
    * (tables, planes, probes). One tier knob — tables — because the
    * sweep showed it dominating; planes/probes stay at the Pareto
    * point. */
  def routerLshGrid(threshold: Double): (Int, Int, Int) =
    (if (threshold < WeakThetaCutoff) WeakLshTables else AutoLshTables,
      AutoLshPlanes, AutoLshProbes)

  /** Size-routed near-dup front door: the exact blocked kernel below
    * [[MaxExactNearDupRows]] vectors, the LSH-prefiltered route above
    * it — at the multi-probe Pareto grid ([[AutoLshTables]] ×
    * [[AutoLshPlanes]] + [[AutoLshProbes]] probes), not q58's plainer
    * 16×8 single-probe relation. ONE columnless count decides the route
    * AND sizes the exact kernel's grid (the kernel would otherwise
    * immediately re-count).
    *
    * The routing is SIZE-ONLY, deliberately ignoring the threshold:
    * above the bound the exact kernel's O(N²) is unaffordable at ANY
    * threshold, so auto returns the LSH subset there even in the
    * weak-similarity regime where its recall is partial (~0.93 at
    * θ=0.45 on the planted sweep — see [[embeddingNearDupsLsh]] and the
    * grid doc above). A caller that needs the COMPLETE weak-threshold
    * answer above the bound must call [[embeddingNearDups]] explicitly
    * and knowingly pay the quadratic kernel. */
  def embeddingNearDupsAuto(emb: DataFrame, threshold: Double = 0.45,
      maxExactRows: Long = MaxExactNearDupRows): DataFrame = {
    val n = emb.count()
    if (n <= maxExactRows)
      embeddingNearDups(emb, threshold, gridBlocks(n))
        .withColumn("route_recall", lit(1.0))
    else {
      val (tables, planes, probes) = routerLshGrid(threshold)
      System.err.println(s"[dedup] near-dup auto route: $n vectors > " +
        s"$maxExactRows, using LSH-prefiltered route (subset semantics) " +
        s"at grid ${tables}x$planes+$probes" +
        (if (threshold < WeakThetaCutoff) " (weak-theta tier)" else ""))
      val recall = lshRouteRecallSample(emb, threshold, n,
        nTables = tables, planes = planes, probes = probes)
      System.err.println(
        f"[dedup] near-dup LSH arm sampled recall: $recall%.3f " +
          s"(stratum cap $RecallStratumCap of $n vectors)")
      embeddingNearDupsLsh(emb, threshold,
        nTables = tables, planes = planes, probes = probes)
        .withColumn("route_recall", lit(recall))
    }
  }

  /** SemDeDup default prune threshold: within-cluster pairs at or above
    * this cosine are semantic duplicates (the public method prunes at a
    * high-confidence bar, well above the q16/q71 near-dup θ=0.45). */
  val SemanticEps = 0.6

  /** Target mean cluster size for [[semanticDedup]]'s centroid count —
    * within-cluster verify work is O(N · target), linear in the corpus
    * for a fixed target. */
  val SemanticClusterTarget = 200

  /** Centroid cap for [[semanticDedup]]: centroids travel to executors
    * as ONE task broadcast (an array, not a Catalyst literal fold like
    * [[Similarity.nearestCentroid]]'s K=16, whose expression tree would
    * not survive hundreds of entries), so the cap is a memory budget,
    * not an expression-size one. Past the cap, mean cluster size grows
    * with N again — at real 100-TB scale the assignment instead comes
    * from a persisted k-means index ([[Similarity.buildIvfIndex]] /
    * `ivfAssignments`), which this relation deliberately doesn't use so
    * the ORACLE can replay the seed-centroid assignment exactly. */
  val SemanticMaxCentroids = 256

  /** Cluster-then-prune semantic dedup (the SemDeDup family, Abbas et
    * al. 2023, public): assign every vector to its nearest of K seed
    * centroids, compute exact pairwise cosine ONLY within clusters, and
    * drop any vector with a same-cluster neighbor at cos ≥ eps and a
    * smaller vec_id (the public implementation's rank rule, rank =
    * vec_id) — `dup_of` names the smallest such neighbor. Differs from
    * the pairwise near-dup routes (q16/q58/q71): those ENUMERATE pairs;
    * this PARTITIONS the corpus into keep/drop in one relation, and its
    * candidate structure comes from clustering, not hashing.
    *
    * Scale shape: K = clamp(16, [[SemanticMaxCentroids]],
    * ⌈N/[[SemanticClusterTarget]]⌉) derives from one count job so the
    * oracle replays it from COUNT(*); assignment is one narrow
    * mapPartitions argmax over broadcast centroids (numerics identical
    * to the [[Similarity.nearestCentroid]] fold: 4dp HALF_UP rounded
    * cosine, strict-improvement scan in ascending cid = smallest cid on
    * ties); within-cluster pairs run [[blockPairKernel]] keyed by
    * (cid, block-pair), where clusters above ~4k rows get the same
    * exact grid decomposition as [[embeddingNearDups]] — a hot cluster
    * (the skewed-key hazard of every self-join) shatters into bounded
    * cells instead of serializing one task. Verify work is
    * O(N·target), never all-pairs. `forcedBlocks` pins the sub-grid for
    * the spec's salted≡unsalted equality (0 = size-derived). */
  def semanticDedup(emb: DataFrame, eps: Double = SemanticEps,
      clusterTarget: Int = SemanticClusterTarget,
      maxCentroids: Int = SemanticMaxCentroids,
      forcedBlocks: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val n = emb.count()
    val k = math.max(16L, math.min(maxCentroids.toLong,
      (n + clusterTarget - 1) / clusterTarget)).toInt
    val cents = Similarity.collectCentroids(emb, 0, k)
      .map { case (cid, v) => (cid, v.toArray) }.toArray
    val centB = spark.sparkContext.broadcast(
      cents.map { case (cid, v) => (cid, v, nrm(v)) })
    // (vec_id, cid, embedding): one narrow full-corpus pass, no shuffle.
    // MEMOIZED — three consumers below (cluster sizing, the pair
    // explode, the final keep/drop projection) would otherwise each
    // re-run the K-cosine argmax over the corpus (3 full passes).
    // keyed on k only: the assignment is a pure function of (emb, k) —
    // an eps sweep reuses it for free
    val assignedDf = memoPersist(emb, s"semAssign:$k") { e =>
      e.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { rows =>
        val cs = centB.value
        rows.map { case (id, vs) =>
          val v = vs.toArray
          val nv = nrm(v)
          var bestS = Double.NegativeInfinity
          var bestC = Long.MaxValue
          var ci = 0
          while (ci < cs.length) {
            val (cid, cv, nc) = cs(ci)
            var s = 0.0; var i = 0
            while (i < v.length) { s += v(i).toDouble * cv(i).toDouble; i += 1 }
            val raw = s / (nv * nc)
            // NaN guard (zero-norm row or seed): skip rather than let
            // BigDecimal(NaN) throw and kill the scan — the emitNearDup
            // robustness rule; an all-NaN row keeps the Long.MaxValue
            // sentinel cid instead of crashing the query
            if (!raw.isNaN) {
              val r = BigDecimal(raw)
                .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP)
                .toDouble
              if (r > bestS) { bestS = r; bestC = cid }
            }
            ci += 1
          }
          (id, bestC, vs)
        }
      }.toDF("vec_id", "cid", "embedding")
    }
    val assigned = assignedDf.as[(Long, Long, Seq[Float])]
    // per-cluster sub-grid sizing: ≤ K rows to the driver, never corpus
    val bByCid: Map[Long, Int] = assigned.groupByKey(_._2).count().collect()
      .map { case (cid, c) =>
        cid -> (if (forcedBlocks > 0) forcedBlocks
                else if (c <= 4096L) 1
                else math.min(64L, (c + 4095L) / 4096L).toInt)
      }.toMap
    val bB = spark.sparkContext.broadcast(bByCid)
    val pairs = assigned
      .flatMap { case (id, cid, v) =>
        val b = bB.value(cid)
        val blk = (id % b).toInt
        (0 until b).map { p =>
          val pid = if (p < blk) p * b + blk else blk * b + p
          (cid, pid, id, v, blk)
        }
      }
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Long, Int), rows: Iterator[(Long, Int, Long, Seq[Float], Int)]) =>
        val b = bB.value(key._1)
        blockPairKernel(key._2 / b, key._2 % b,
          rows.map { case (_, _, id, v, blk) => (id, v, blk) }, eps)
      }.toDF()
    val dupOf = pairs.groupBy(col("vec_b").as("vec_id"))
      .agg(min("vec_a").as("dup_src"))
    assignedDf.select("vec_id", "cid")
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        when(col("dup_src").isNull, lit("keep")).otherwise(lit("drop"))
          .as("status"),
        coalesce(col("dup_src"), lit(-1L)).as("dup_of"))
  }

  /** Expected size of the sampled ground-truth stratum the LSH arm
    * scores itself on — exact-kernel work bounded at cap²/2 ≈ 8M dot
    * products regardless of corpus size. */
  val RecallStratumCap: Long = 4096L

  /** Sampled recall evidence for the LSH route — the router's answer to
    * "how much did the approximate arm miss THIS run, on THIS corpus, at
    * THIS threshold?". Above the exact bound the full ground truth is by
    * definition unaffordable, but a deterministic hash-gated stratum of
    * ~`cap` vectors is not: run the EXACT kernel and the LSH route on
    * the stratum and report |lsh| / |exact|. Bucket membership is a
    * per-vector function of the embedding alone, so a pair collides on
    * the stratum iff it collides on the full corpus — the restricted
    * ratio estimates full-corpus pair recall (uniform gate, pair
    * membership independent of the hash). LSH pairs are exact-verified,
    * hence a subset of the exact pairs: the ratio is a true recall in
    * [0, 1]. Returns NaN when the stratum holds no true pairs (no
    * evidence either way — raise the cap rather than report a vacuous
    * 1.0). Scores the SAME grid the router's LSH arm runs
    * ([[AutoLshTables]] × [[AutoLshPlanes]] + [[AutoLshProbes]]) — the
    * evidence must describe the route actually taken. */
  private[graft] def lshRouteRecallSample(emb: DataFrame, threshold: Double,
      n: Long, cap: Long = RecallStratumCap, nTables: Int = AutoLshTables,
      planes: Int = AutoLshPlanes, probes: Int = AutoLshProbes): Double =
    recallFromBuckets(lshRouteRecallDecomposed(emb, threshold, n, cap,
      nTables = nTables, planes = planes, probes = probes))

  /** The sampled recall evidence DECOMPOSED by true cosine similarity —
    * the attribution behind the single stamped number: per 0.05-wide
    * cos_sim bucket, (bucket lower edge, exact pairs in the stratum,
    * of those found by the LSH arm). LSH pairs are exact-verified (a
    * subset with identical scores), so per-bucket hit counting is a
    * left join on the pair key, and the overall ratio equals
    * |lsh| / |exact| exactly. `gateOffset` rotates the deterministic
    * hash gate to a DIFFERENT stratum of the same expected size —
    * resampling for a variance estimate without touching the stamped
    * default (offset 0 IS the stamped stratum).
    *
    * Why this exists (r17): the stamped route_recall at sf0.1 read
    * 0.757 against the planted-twin sweep's 0.930, and the gap needed
    * attribution before trusting either number — see
    * `bench/ROUTE_RECALL_r17_attrib.txt` and the router-grid doc. */
  private[graft] def lshRouteRecallDecomposed(emb: DataFrame,
      threshold: Double, n: Long, cap: Long = RecallStratumCap,
      gateOffset: Long = 0L, nTables: Int = AutoLshTables,
      planes: Int = AutoLshPlanes,
      probes: Int = AutoLshProbes): Seq[(Double, Long, Long)] = {
    val denom = 1L << 20
    val keep = math.max(1L, math.min(denom, cap * denom / math.max(1L, n)))
    val stratum = graft.Checkpoints.pin(emb.filter(
      pmod(hash(col("vec_id")) + lit(gateOffset), lit(denom)) < keep))
    try {
      val exactP = embeddingNearDups(stratum, threshold, 8)
      val lshP = embeddingNearDupsLsh(stratum, threshold,
        nTables = nTables, planes = planes, probes = probes)
        .select(col("vec_a"), col("vec_b"), lit(1).as("hit"))
      // stratum pair sets are cap-bounded by construction (≈cap²/2 dot
      // products upstream); the collect is the K-bounded evidence row set.
      // Bucket in INTEGER space: cos_sim is HALF_UP-rounded to 4dp
      // upstream, so a true 0.6000 arrives as 0.5999999999999999778 and
      // a double floor(x/0.05) would drop it one bucket — misclassifying
      // exactly the threshold-edge pairs this decomposition attributes
      exactP.join(lshP, Seq("vec_a", "vec_b"), "left")
        .groupBy(expr("CAST(ROUND(cos_sim * 10000) AS BIGINT) div 500")
          .as("bk"))
        .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
        .collect()
        .map(r => (r.getLong(0) * 0.05, r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    } finally graft.Checkpoints.free(stratum)
  }

  /** Recall over the buckets at or above `minCos` (bucket edges align
    * with 0.05 multiples); NaN when no exact pairs qualify — no
    * evidence is not perfect evidence. */
  private[graft] def recallFromBuckets(buckets: Seq[(Double, Long, Long)],
      minCos: Double = 0.0): Double = {
    val sel = buckets.filter(_._1 >= minCos - 1e-9)
    val ex = sel.map(_._2).sum
    if (ex == 0L) Double.NaN else sel.map(_._3).sum.toDouble / ex
  }

  // ---- SparkEntry wiring -------------------------------------------------

  def qExact(s: SparkSession, d: String): DataFrame =
    exact(Tables.documents(s, d))

  val qExactSql: String =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
      |       COUNT(*) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  /** Shared DuckDB fragment: word-3-gram shingle set of `text`. */
  private[operators] val shinglesSqlExpr: String =
    """list_distinct(list_transform(
      |      range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 1) + 1),
      |      i -> array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), i, i + 2), ' ')))""".stripMargin

  /** DuckDB mirror of the base-hash + affine-family scheme. */
  private val h0SqlExpr: String =
    s"(('0x' || substr(md5(s), 1, 15))::BIGINT) % $HashPrime"

  private val familySqlDuck: String =
    s"((2*k + 1) * h + k * 104729) % $HashPrime"

  def qMinhash(s: SparkSession, d: String): DataFrame =
    minhashSignature(Tables.documents(s, d))

  val qMinhashSql: String =
    s"""WITH sh AS (SELECT doc_id, list_transform($shinglesSqlExpr, s -> $h0SqlExpr) AS h0s
       |            FROM documents)
       |SELECT doc_id, k,
       |       list_min(list_transform(h0s, h -> $familySqlDuck)) AS minhash
       |FROM sh, range(0, ${NumHashes}) t(k)
       |ORDER BY doc_id, k""".stripMargin

  def qLshPairs(s: SparkSession, d: String): DataFrame =
    lshCandidatePairs(Tables.documents(s, d))

  /** q57: the hot-bucket salted variant of q13, against the SAME oracle
    * — the correctness proof that the salt grid is an exact
    * decomposition of the LSH band self-join (the q52↔q36 pattern). */
  def qLshPairsSalted(s: SparkSession, d: String): DataFrame =
    lshCandidatePairs(Tables.documents(s, d), saltBuckets = 4)

  val qLshPairsSql: String = {
    val rows = NumHashes / NumBands
    s"""WITH sh AS (SELECT doc_id, list_transform($shinglesSqlExpr, s -> $h0SqlExpr) AS h0s
       |            FROM documents),
       |sig AS (
       |  SELECT doc_id, k,
       |         list_min(list_transform(h0s, h -> $familySqlDuck)) AS minhash
       |  FROM sh, range(0, ${NumHashes}) t(k)),
       |bands AS (
       |  SELECT doc_id, k // $rows AS band,
       |         md5(string_agg(minhash::VARCHAR, ',' ORDER BY k)) AS band_hash
       |  FROM sig GROUP BY doc_id, k // $rows)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  def qJaccardPairs(s: SparkSession, d: String): DataFrame =
    jaccardPairs(Tables.documents(s, d))

  /** Oracle fragment: `sh` (shingle sets + h0 hashes) → `sig` (minhash
    * signatures) → `bands` (banded signature hashes) over source CTE
    * `src` — the replay of shingleBase → minhashSignatures → lshBands.
    * Shared by the self-join chain below and q82's cross-set variant. */
  private[graft] def bandsCtesSqlFrom(src: String): String = {
    val rows = NumHashes / NumBands
    s"""sh AS (SELECT doc_id, $shinglesSqlExpr AS shg,
       |                   list_transform($shinglesSqlExpr, s -> $h0SqlExpr) AS h0s
       |            FROM $src),
       |sig AS (
       |  SELECT doc_id, k,
       |         list_min(list_transform(h0s, h -> $familySqlDuck)) AS minhash
       |  FROM sh, range(0, ${NumHashes}) t(k)),
       |bands AS (
       |  SELECT doc_id, k // $rows AS band,
       |         md5(string_agg(minhash::VARCHAR, ',' ORDER BY k)) AS band_hash
       |  FROM sig GROUP BY doc_id, k // $rows)""".stripMargin
  }

  /** Oracle fragment: exact-Jaccard verify of an existing `cand`
    * (doc_a, doc_b) against `sh` — the [[verifyJaccard]] replay (same
    * 6dp rounding). */
  private[graft] val jacCteSql: String =
    """jac AS (
      |  SELECT doc_a, doc_b,
      |         ROUND(CAST(len(list_intersect(x.shg, y.shg)) AS DOUBLE)
      |               / len(list_distinct(list_concat(x.shg, y.shg))), 6) AS jaccard
      |  FROM cand JOIN sh x ON cand.doc_a = x.doc_id
      |            JOIN sh y ON cand.doc_b = y.doc_id)""".stripMargin

  /** Shared DuckDB CTE chain mirroring shingleBase → lshCandidatePairs →
    * jaccardPairs: `jac` holds the verified (doc_a, doc_b, jaccard)
    * candidates. Reused by q14 and the q37 component closure. */
  private[graft] def jaccardCtesSqlFrom(src: String): String =
    s"""${bandsCtesSqlFrom(src)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |$jacCteSql""".stripMargin

  private[operators] val jaccardCtesSql: String = jaccardCtesSqlFrom("documents")

  val qJaccardPairsSql: String =
    s"""WITH $jaccardCtesSql
       |SELECT doc_a, doc_b, jaccard FROM jac ORDER BY doc_a, doc_b""".stripMargin

  def qSimhash(s: SparkSession, d: String): DataFrame =
    simhash(Tables.documents(s, d))

  val qSimhashSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |           FROM documents)
      |SELECT doc_id,
      |       list_sum(list_transform(range(0, 16), b ->
      |         CASE WHEN list_sum(list_transform(toks, w ->
      |                CASE WHEN ((('0x' || substr(md5(w), 1, 15))::BIGINT >> b) & 1) = 1
      |                     THEN 1 ELSE -1 END)) > 0
      |              THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS simhash
      |FROM t ORDER BY doc_id""".stripMargin

  def qSimhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairs(Tables.documents(s, d))

  /** q52: the hot-band salted variant of q36, against the SAME
    * brute-force oracle — the correctness proof that the salt grid is an
    * exact decomposition of the band self-join. */
  def qSimhashPairsSalted(s: SparkSession, d: String): DataFrame =
    simhashPairs(Tables.documents(s, d), saltBuckets = 4)

  /** The oracle brute-forces ALL pairs on the 60-bit simhash — comparing
    * it against the banded Spark plan is exactly the pigeonhole-
    * completeness proof (banding may only ever find a superset of
    * nothing / subset of all-pairs; equality means zero missed pairs). */
  val qSimhashPairsSql: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |           FROM documents),
       |sim AS (
       |  SELECT doc_id,
       |         list_sum(list_transform(range(0, $SimBits), b ->
       |           CASE WHEN list_sum(list_transform(toks, w ->
       |                  CASE WHEN ((('0x' || substr(md5(w), 1, 15))::BIGINT >> b) & 1) = 1
       |                       THEN 1 ELSE -1 END)) > 0
       |                THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS simhash
       |  FROM t)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  def qDupClusters(s: SparkSession, d: String): DataFrame =
    duplicateClusters(Tables.documents(s, d))

  /** Component-closure CTEs over `jac` (requires [[jaccardCtesSql]] in
    * scope under WITH RECURSIVE): `lab` = (doc_id, cluster_id), `sz` =
    * per-cluster sizes. Reused by q37 and the q38 corpus keep-list. */
  private[graft] def clusterCtesSqlFrom(src: String): String =
    s"""edges AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
      |sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
      |        UNION SELECT doc_b, doc_a FROM edges),
      |reach(node, root) AS (
      |  SELECT doc_id, doc_id FROM $src
      |  UNION
      |  SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node),
      |lab AS (SELECT node AS doc_id, MIN(root) AS cluster_id
      |        FROM reach GROUP BY node),
      |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)""".stripMargin

  private[operators] val clusterCtesSql: String = clusterCtesSqlFrom("documents")

  /** Transitive closure as a recursive CTE over the SAME candidate+verify
    * edge set the Spark side uses — the fixpoint of min-label propagation
    * is the exact component labeling, so the two agree bit for bit. */
  val qDupClustersSql: String =
    s"""WITH RECURSIVE $jaccardCtesSql,
       |$clusterCtesSql
       |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
       |FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin

  def qEmbedNearDups(s: SparkSession, d: String): DataFrame =
    embeddingNearDups(Tables.embeddings(s, d))

  /** The ::DOUBLE[] casts make DuckDB accumulate in float64 like Spark's
    * double-typed zip_with/aggregate (float32 output would diverge at the
    * 4th decimal). */
  val qEmbedNearDupsSql: String =
    """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.45
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Planted zero-norm row id for q81 — pins the degenerate-row
    * contract END TO END (r19, closing the r18 advice finding): the
    * engine's assignment computes raw cosine = s/(‖v‖·‖c‖), which is
    * NaN for a zero-norm row; the NaN guard skips it, the row keeps the
    * Long.MaxValue sentinel cid, and the pair kernel's `NaN >= θ` is
    * false so it never pairs. DuckDB's `list_cosine_similarity`
    * does NOT produce NaN there — it internally guards to **-1.0**
    * (measured; the r18 advice hypothesized NaN-sorts-first, but the
    * observed divergence is -1.0 tying across every centroid and
    * assigning the row to cid 0) — so the oracle mirrors the engine
    * with an explicit zero-norm guard (`list_dot_product(x,x) > 0` on
    * both sides, plus `NOT isnan` for vectors CONTAINING NaN floats)
    * and coalesces unassignable rows to the same sentinel. The fixture
    * row keeps the divergence OBSERVED rather than latent. (A zero-norm
    * SEED centroid is the symmetric case: both engines' guards skip it
    * for every row.) */
  val ZeroNormFixtureId = 5000000L

  /** q81 — cluster-then-prune semantic dedup as a first-class relation:
    * every vector's (cluster, keep/drop, dup_of), over embeddings ∪ a
    * planted zero-norm row ([[ZeroNormFixtureId]]). The oracle replays
    * the WHOLE route — COUNT(*)-derived K, seed centroids, 4dp-rounded
    * argmax assignment with smallest-cid ties and the NaN-sentinel
    * rule, within-cluster exact cosine ≥ eps, smallest-smaller-neighbor
    * prune — so a hash match pins clustering AND prune policy; the
    * sub-grid decomposition is invisible to it (exact, spec-pinned
    * row-identical). */
  def qSemanticDedup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // dim is constant across the table, so any single row shapes the
    // zero vector; limit(1) without a sort is fine — every value maps
    // to 0.0f
    val zero = emb.limit(1).select(lit(ZeroNormFixtureId).as("vec_id"),
      transform(col("embedding"), _ => lit(0.0f)).as("embedding"))
    semanticDedup(emb.unionByName(zero))
  }

  val qSemanticDedupSql: String =
    s"""WITH src AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT CAST($ZeroNormFixtureId AS BIGINT),
      |         list_transform(embedding, x -> 0.0::FLOAT)
      |  FROM embeddings WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
      |params AS (
      |  SELECT GREATEST(16, LEAST($SemanticMaxCentroids,
      |           CEIL(COUNT(*) / $SemanticClusterTarget.0)))::BIGINT AS k
      |  FROM src),
      |cent AS (
      |  SELECT vec_id AS cid, embedding AS cemb
      |  FROM src, params WHERE vec_id < k),
      |best AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, cid,
      |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |             ROUND(list_cosine_similarity(e.embedding::DOUBLE[], cemb::DOUBLE[]), 4) DESC,
      |             cid) AS rnk
      |    FROM src e CROSS JOIN cent
      |    WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
      |      AND list_dot_product(cemb::DOUBLE[], cemb::DOUBLE[]) > 0
      |      AND NOT isnan(list_cosine_similarity(e.embedding::DOUBLE[], cemb::DOUBLE[])))
      |  WHERE rnk = 1),
      |assigned AS (
      |  SELECT s.vec_id, COALESCE(b.cid, 9223372036854775807) AS cid
      |  FROM src s LEFT JOIN best b USING (vec_id)),
      |pairs AS (
      |  SELECT la.vec_id AS va, lb.vec_id AS vb
      |  FROM assigned la JOIN assigned lb
      |    ON la.cid = lb.cid AND la.vec_id < lb.vec_id
      |  JOIN src ea ON la.vec_id = ea.vec_id
      |  JOIN src eb ON lb.vec_id = eb.vec_id
      |  WHERE list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]) > 0
      |    AND list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]) > 0
      |    AND NOT isnan(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]))
      |    AND ROUND(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) >= $SemanticEps),
      |dup AS (SELECT vb AS vec_id, MIN(va) AS dup_src FROM pairs GROUP BY vb)
      |SELECT a.vec_id, a.cid,
      |       CASE WHEN d.dup_src IS NULL THEN 'keep' ELSE 'drop' END AS status,
      |       COALESCE(d.dup_src, -1)::BIGINT AS dup_of
      |FROM assigned a LEFT JOIN dup d USING (vec_id)
      |ORDER BY vec_id""".stripMargin

  /** Floor on the near-dup ROUTER's sampled route_recall at its default
    * θ = 0.45 (the weak-theta tier, [[routerLshGrid]]) — the r18 0.944
    * evidence promoted from bench stamp to CORRECTNESS contract (the
    * [[Similarity.AnnRecallFloors]] recipe): measured on the
    * deterministic stratum at the gated scales r19 —
    * sf0.001 / 0.01 / 0.1 read 1.0 / 1.0 / 0.9444 — so
    * floor = min − 0.05 = 0.89 (the runs are deterministic per corpus:
    * seeded grids, exact integer hit counts; the margin absorbs corpus
    * regeneration). A tier regression (the grid silently reverting to
    * the r17 16-table configuration, which reads 0.857 at sf0.001 and
    * 0.757 at sf0.1 organic) now flips q87's row hash red instead of
    * denting a JSON field — spec-pinned. */
  val RouterRecallFloor = 0.89

  /** The router-recall gate relation (q87): ONE row carrying the
    * corpus size (ties the oracle to the data), the grid the router
    * actually takes at θ, the floor, and the honest
    * `pass = route_recall >= floor` on the deterministic stratum
    * ([[lshRouteRecallSample]], gateOffset 0 — the stamped stratum).
    * The recall VALUE itself stays out of the relation (the q35/q59
    * recipe: it is deterministic per corpus but not oracle-computable;
    * it goes to stderr and the bench stamp). A NaN stratum (no true
    * pairs — no evidence) fails the gate honestly rather than passing
    * vacuously. */
  private[graft] def routerRecallGate(emb: DataFrame, theta: Double,
      tables: Int, planes: Int, probes: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val n = emb.count()
    val recall = lshRouteRecallSample(emb, theta, n,
      nTables = tables, planes = planes, probes = probes)
    System.err.println(f"[dedup] router recall gate: theta=$theta " +
      f"grid=${tables}x$planes+$probes recall=$recall%.4f " +
      f"floor=$RouterRecallFloor")
    val pass = !recall.isNaN && recall >= RouterRecallFloor
    // diagnosability on breach (r19 advice): a floor failure surfaces as
    // a correctness hash mismatch, so the gate relation itself carries
    // the sampled recall WHEN IT FAILS — the dumped Verify parquet then
    // names the number (NaN included, as null). On pass the column is
    // NULL, which is what the oracle pins, so the green path stays
    // oracle-exact.
    val recallOnFail: Option[Double] =
      if (pass || recall.isNaN) None else Some(recall)
    Seq((n, theta, tables.toLong, planes.toLong, probes.toLong,
      RouterRecallFloor, pass, recallOnFail))
      .toDF("n_vectors", "theta", "tables", "planes", "probes",
        "recall_floor", "pass", "recall_on_fail")
  }

  /** q87: the production router configuration at its default θ. */
  def qRouterRecallGate(s: SparkSession, d: String): DataFrame = {
    val theta = 0.45
    val (tables, planes, probes) = routerLshGrid(theta)
    routerRecallGate(Tables.embeddings(s, d), theta, tables, planes, probes)
  }

  /** Oracle: the config literals + COUNT(*), `pass` pinned TRUE. */
  def qRouterRecallGateSql: String = {
    val (tables, planes, probes) = routerLshGrid(0.45)
    s"""SELECT COUNT(*)::BIGINT AS n_vectors,
       |       CAST(0.45 AS DOUBLE) AS theta,
       |       CAST($tables AS BIGINT) AS tables,
       |       CAST($planes AS BIGINT) AS planes,
       |       CAST($probes AS BIGINT) AS probes,
       |       CAST($RouterRecallFloor AS DOUBLE) AS recall_floor,
       |       TRUE AS pass,
       |       CAST(NULL AS DOUBLE) AS recall_on_fail
       |FROM embeddings""".stripMargin
  }

  /** q58 — the LSH-prefiltered near-dup route as a first-class relation:
    * candidates from the (T, P) bucket grid, exact-cosine-verified ≥ 0.45.
    * Like q13/q18, the RELATION is what the oracle replays — DuckDB
    * recomputes the identical md5-derived hyperplanes, buckets, candidate
    * pairs, and verify, so a hash match pins the whole route (stronger
    * than a recall floor; the recall trade itself is spec-measured in
    * DedupSpec and documented on [[embeddingNearDupsLsh]]). */
  def qEmbedNearDupsLsh(s: SparkSession, d: String): DataFrame =
    embeddingNearDupsLsh(Tables.embeddings(s, d))

  /** CTE fragment replaying the whole LSH near-dup route in DuckDB —
    * `esrc` (the source relation, parameterizable so chained queries
    * can cap a subset), `b` (per-table buckets from the identical
    * md5-derived hyperplanes), `cand` (bucket collisions), `epairs`
    * (the exact cosine verify ≥ 0.45). Shared by q58 and the q61/q63
    * closures. */
  private[graft] def embedLshCtesSqlFrom(src: String): String = {
    val tableRows = LshSql.bucketRowsSql("SELECT * FROM esrc",
      NearDupLshPlaneBase, NearDupLshTables, NearDupLshPlanes)
    s"""esrc AS ($src),
       |b AS (
       |$tableRows),
       |cand AS (
       |  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
       |  FROM b l JOIN b r ON l.t = r.t AND l.bucket = r.bucket AND l.vec_id < r.vec_id),
       |epairs AS (
       |  SELECT vec_a, vec_b,
       |         ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
       |  FROM cand JOIN esrc a ON cand.vec_a = a.vec_id
       |            JOIN esrc b ON cand.vec_b = b.vec_id
       |  WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.45)""".stripMargin
  }

  private[operators] val embedLshCtesSql: String =
    embedLshCtesSqlFrom("SELECT * FROM embeddings")

  val qEmbedNearDupsLshSql: String =
    s"""WITH $embedLshCtesSql
       |SELECT vec_a, vec_b, cos_sim FROM epairs ORDER BY vec_a, vec_b""".stripMargin

  /** Probes for the q68 multi-probe route: 2 neighbor buckets per table
    * lift weak-threshold recall 0.73 → 0.99 at the default 16×8 grid
    * (planted-regime sweep, `bench/NEARDUP_SWEEP_r15_sf001.txt`) for
    * ~8.5× the verify mass — and at 16×10 the same 2 probes beat the
    * 16×6 single-probe point on BOTH axes (0.93 recall at 0.67× its
    * mass). The recall lever that does not multiply table count. */
  val NearDupMultiProbes = 2

  def qEmbedNearDupsMultiProbe(s: SparkSession, d: String): DataFrame =
    embeddingNearDupsLsh(Tables.embeddings(s, d),
      probes = NearDupMultiProbes)

  /** The q58 oracle with the multi-probe expansion: per (vector, table),
    * the own bucket plus the `probes` smallest-|projection| plane flips
    * (ties to the lower plane index — DuckDB's struct sort on
    * (abs, plane) replays the expression's selection exactly). */
  private def embedLshMultiProbeCtesSql(probes: Int,
      tables: Int = NearDupLshTables, planes: Int = NearDupLshPlanes): String = {
    val tableRows = LshSql.multiProbeRowsSql("SELECT * FROM esrc",
      NearDupLshPlaneBase, tables, planes, probes)
    s"""esrc AS (SELECT * FROM embeddings),
       |b AS (
       |$tableRows),
       |cand AS (
       |  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
       |  FROM b l JOIN b r ON l.t = r.t AND l.bucket = r.bucket AND l.vec_id < r.vec_id),
       |epairs AS (
       |  SELECT vec_a, vec_b,
       |         ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
       |  FROM cand JOIN esrc a ON cand.vec_a = a.vec_id
       |            JOIN esrc b ON cand.vec_b = b.vec_id
       |  WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.45)""".stripMargin
  }

  val qEmbedNearDupsMultiProbeSql: String =
    s"""WITH ${embedLshMultiProbeCtesSql(NearDupMultiProbes)}
       |SELECT vec_a, vec_b, cos_sim FROM epairs ORDER BY vec_a, vec_b""".stripMargin

  /** q71 — the ROUTER's LSH arm as a first-class relation: exactly the
    * grid [[embeddingNearDupsAuto]] runs past the exact bound AT ITS
    * DEFAULT θ = 0.45 — since r18 that is the WEAK-THETA tier
    * ([[WeakLshTables]] × [[AutoLshPlanes]] + [[AutoLshProbes]] probes,
    * see [[routerLshGrid]]; the organic re-sweep that promoted it lives
    * in the tier scaladoc) — hash-replayed in DuckDB through the same
    * shared renderer as q68, so the promoted default is itself
    * oracle-gated, not just spec-measured. q58/q68 keep pinning the
    * 16×8 reference grid (their single ⊆ multi ⊆ exact sandwich needs
    * identical own buckets); this pins the grid production traffic
    * actually takes. */
  def qEmbedNearDupsAutoGrid(s: SparkSession, d: String): DataFrame = {
    val (tables, planes, probes) = routerLshGrid(0.45)
    embeddingNearDupsLsh(Tables.embeddings(s, d),
      nTables = tables, planes = planes,
      probes = probes)
  }

  val qEmbedNearDupsAutoGridSql: String = {
    val (tables, planes, probes) = routerLshGrid(0.45)
    s"""WITH ${embedLshMultiProbeCtesSql(probes, tables, planes)}
       |SELECT vec_a, vec_b, cos_sim FROM epairs ORDER BY vec_a, vec_b""".stripMargin
  }

  /** q61 — semantic-dedup clustering over the LSH near-dup graph. */
  def qEmbedClusters(s: SparkSession, d: String): DataFrame =
    embeddingDupClusters(Tables.embeddings(s, d))

  /** Transitive closure as a recursive CTE over the SAME LSH-routed
    * edge relation the Spark side clusters — the q37 pattern on the
    * vector side, so the whole chain hash-matches.
    * Source-parameterized for the chained q63 subset. */
  private[graft] def qEmbedClustersSqlFrom(src: String): String =
    s"""WITH RECURSIVE ${embedLshCtesSqlFrom(src)},
       |sym AS (SELECT vec_a AS a, vec_b AS b FROM epairs
       |        UNION SELECT vec_b, vec_a FROM epairs),
       |reach(node, root) AS (
       |  SELECT vec_id, vec_id FROM esrc
       |  UNION
       |  SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node),
       |lab AS (SELECT node AS vec_id, MIN(root) AS cluster_id
       |        FROM reach GROUP BY node),
       |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
       |SELECT lab.vec_id, lab.cluster_id, sz.cluster_size
       |FROM lab JOIN sz USING (cluster_id) ORDER BY vec_id""".stripMargin

  val qEmbedClustersSql: String =
    qEmbedClustersSqlFrom("SELECT * FROM embeddings")
}
