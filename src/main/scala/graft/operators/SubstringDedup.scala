package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import VersionedIndex.{OneFile, writeSeg}
import graft.functions.TextFns

/** Exact-substring (shared-passage) dedup and n-gram-overlap
  * decontamination — the substring-granularity family the document-level
  * dedups (exact hash q11, MinHash/LSH q13, SimHash q36, embeddings q58)
  * cannot see (builder-prompt scale extension; the reference has no text
  * surface). A 100-TB corpus's worst duplication is substring-level:
  * license headers, boilerplate, and quoted passages shared across
  * otherwise-distinct documents. The public approach (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better") finds
  * duplicate token runs of at least k tokens (k=50 there; scaled down
  * here to the fixture's ~55-token documents); eval-set contamination is
  * likewise caught by 8–13-token n-gram overlap against the benchmark,
  * not whole-document equality.
  *
  * Execution shape — bucketed shuffle, NEVER all-pairs documents:
  *
  *   1. WINDOWS: one narrow pass emits every overlapping k-token window
  *      per document as (doc_id, pos, md5(window)) — O(tokens) rows,
  *      inside whole-stage codegen, no shuffle. Documents shorter than
  *      k tokens emit nothing (they cannot contain a k-token span).
  *   2. MATCH: an equi self-join on the window hash — only window VALUES
  *      that actually collide pay join work, the substring analog of the
  *      LSH band join. The key is the full 128-bit md5, not [[TextFns
  *      .hash60]]: at 100 TB the corpus holds ~10^10 windows, where a
  *      60-bit key expects birthday collisions (≈2^30 keys) and every
  *      collision would fabricate a false span; 2^64-birthday headroom
  *      is the correctness margin, for 2× key width. A hot window value
  *      (boilerplate shared by millions of docs) is the same hot-key
  *      hazard as a hot LSH band: `saltBuckets > 1` engages
  *      [[Skew.saltGridSides]] for an EXACT blocked decomposition
  *      (row-set-identical, spec-pinned), and AQE skew-join splitting
  *      covers the moderate cases by default.
  *   3. SPANS: matched windows merge into MAXIMAL aligned runs with the
  *      islands trick — within a (doc_a, doc_b, pos_a − pos_b) group,
  *      consecutive pos_a values share one island id (pos_a −
  *      row_number), and each island is one span of k + windows − 1
  *      tokens. The window partition key is per-document-pair — high
  *      cardinality, bounded by document length, no tiny-key funnel.
  *
  * Every stage is deterministic and engine-portable (md5 + integer
  * arithmetic), so the DuckDB oracle replays windows, matches, and
  * island merges bit-for-bit — q76/q78 hash-pin the whole kernel.
  */
object SubstringDedup {

  /** Default minimum duplicate-span length in tokens for the dedup
    * surface — the fixture-scaled analog of the public k≈50 (documents
    * here average ~55 tokens where real corpora run thousands; q76's
    * organic output at k=12 is the planted near-dup structure's shared
    * prefixes, 24 spans at sf0.01). */
  val DedupK = 12

  /** Default n-gram length for decontamination — the public 8–13-gram
    * range's low end: contamination flags on the SHORTEST run worth
    * flagging, and the oracle pins the exact-span semantics either
    * way. */
  val ContaminationK = 8

  /** Overlapping k-token windows of every document: (doc_id, pos, wh)
    * with pos 1-based and wh = md5 of the space-joined window. One
    * narrow projection + explode — no shuffle. The expansion is the
    * fused [[graft.functions.TokenWindows]] expression (one tokenize +
    * byte-range md5 per window) — the composable
    * transform/slice/concat_ws/md5 form evaluated INTERPRETED per
    * window and was the dominant CPU of every substring pass (r21
    * measurement; byte-equality with the composable form is pinned in
    * WindowExpressionsSpec, and the q76/q78/q85 oracles replay the
    * same windows in DuckDB). */
  private[graft] def windowRel(docs: DataFrame, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 2, s"window length must be >= 2 tokens, got $k")
    docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.TokenWindowFns.tokenWindows(col("text"), k))
          .as("win"))
      .select(col("doc_id"), col("win.pos").as("pos"), col("win.wh").as("wh"))
  }

  /** The composable windowRel formulation (interpreted HOFs) — kept as
    * the equality reference for WindowExpressionsSpec, exactly like
    * [[Dedup.simhashExprHof]]. */
  private[graft] def windowRelComposable(docs: DataFrame, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 2, s"window length must be >= 2 tokens, got $k")
    val w = TextFns.wsTokens(col("text"))
    docs.select(col(idCol).as("doc_id"), w.as("w"))
      .where(size(col("w")) >= k)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - lit(k - 1)),
        i => struct(i.cast("long").as("pos"),
          md5(concat_ws(" ", slice(col("w"), i, lit(k)))).as("wh"))))
        .as("win"))
      .select(col("doc_id"), col("win.pos").as("pos"), col("win.wh").as("wh"))
  }

  /** Merge matched windows (doc_a, doc_b, pos_a, pos_b) into maximal
    * aligned spans: (doc_a, doc_b, a_start, b_start, span_tokens). */
  private def islandsToSpans(matched: DataFrame, k: Int,
      aCol: String, bCol: String, aStart: String,
      bStart: String): DataFrame = {
    val byDiff = Window.partitionBy(col(aCol), col(bCol), col("diff"))
      .orderBy(col("pos_a"))
    matched
      .withColumn("diff", col("pos_a") - col("pos_b"))
      .withColumn("island",
        col("pos_a") - row_number().over(byDiff).cast("long"))
      .groupBy(col(aCol), col(bCol), col("diff"), col("island"))
      .agg(min(col("pos_a")).as(aStart), min(col("pos_b")).as(bStart),
        count(lit(1)).as("nwin"))
      .select(col(aCol), col(bCol), col(aStart), col(bStart),
        (col("nwin") + lit(k - 1)).cast("long").as("span_tokens"))
  }

  /** Salt fan-out the auto-salt hot branch uses. */
  val AutoSaltBuckets = 8

  /** All maximal cross-document duplicate spans of >= k tokens within
    * `docs` (unordered pairs, doc_a < doc_b). `saltBuckets > 1` engages
    * the exact salt-grid decomposition of the window-hash self-join for
    * hot boilerplate windows (row-set-identical — spec-pinned).
    *
    * `autoSalt = true` makes that decision FROM THE DATA instead of by
    * hand (closing q88's stated purpose): [[HeavyHitters.suggestSalt]]
    * sketches the window-hash mass in one narrow pass, and only the
    * flagged-hot hashes take the salt grid — the cold bulk pays neither
    * the replication nor the canonicalize-distinct. Each window PAIR
    * shares one `wh` and therefore lands in exactly one branch, so the
    * union of branch matches is the unsalted match set row for row
    * (spec-pinned). More than [[HeavyHitters.MaxSaltKeys]] flagged keys
    * means pervasive heat: everything takes the grid (still exact). */
  def duplicateSpans(docs: DataFrame, k: Int = DedupK,
      saltBuckets: Int = 1, autoSalt: Boolean = false): DataFrame =
    spansFromWindows(windowRel(docs, k), k, saltBuckets, autoSalt)

  /** The matched window pairs of one window relation — plain self-join
    * or ([[Skew.saltGridSides]]) the exact blocked decomposition. */
  private def matchedPairs(wins: DataFrame, saltBuckets: Int): DataFrame = {
    val salted = saltBuckets > 1
    val (lSide, rSide) =
      if (salted) Skew.saltGridSides(wins, "doc_id", saltBuckets)
      else (wins, wins)
    val cellKeys = if (salted) Seq("__cell_lo", "__cell_hi") else Nil
    val l = lSide.select((Seq("wh") ++ cellKeys).map(col) ++
      Seq(col("doc_id").as("da"), col("pos").as("pa")): _*)
    val r = rSide.select((Seq("wh") ++ cellKeys).map(col) ++
      Seq(col("doc_id").as("db"), col("pos").as("pb")): _*)
    val joined = l.join(r, Seq("wh") ++ cellKeys)
    // Grid cells orient cross-block pairs by salt, not id (see
    // lshCandidatePairs), so canonicalize id AND position together. No
    // distinct is needed (r20 — it used to shuffle the full quadratic
    // pair set a second time): a cross cell (i, j), i < j, holds each
    // unordered pair exactly once (the left side replicates a block-i
    // row only to cells (i, ≥i), the right a block-j row only to
    // (≤j, j) — (i, j) is the unique meet), and a diagonal cell holds
    // all ordered pairs of its block exactly once, so the unsalted
    // path's a<b predicate dedups it. The unsalted path needs neither.
    if (salted) joined.filter(
        (col("__cell_lo") === col("__cell_hi") && col("da") < col("db")) ||
          (col("__cell_lo") =!= col("__cell_hi") && col("da") =!= col("db")))
      .select(
        when(col("da") < col("db"), col("da")).otherwise(col("db")).as("doc_a"),
        when(col("da") < col("db"), col("db")).otherwise(col("da")).as("doc_b"),
        when(col("da") < col("db"), col("pa")).otherwise(col("pb")).as("pos_a"),
        when(col("da") < col("db"), col("pb")).otherwise(col("pa")).as("pos_b"))
    else joined.filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("pa").as("pos_a"), col("pb").as("pos_b"))
  }

  /** [[duplicateSpans]] from an already-built window relation — shared
    * with the incremental bootstrap ([[bootstrapStore]]), whose
    * background window-segment write consumes the same relation. */
  private def spansFromWindows(wins: DataFrame, k: Int,
      saltBuckets: Int, autoSalt: Boolean = false): DataFrame = {
    val matched =
      if (!autoSalt) matchedPairs(wins, saltBuckets)
      else {
        // the window relation feeds the sketch AND both branch filters
        // — pin once (its upstream is the tokenize/hash scan)
        val pinned = graft.Checkpoints.pin(wins)
        val hot = HeavyHitters.suggestSalt(pinned.select(col("wh")))
        if (hot.isEmpty) matchedPairs(pinned, 1)
        else if (hot.length > HeavyHitters.MaxSaltKeys) {
          System.err.println(s"[substring] auto-salt: > " +
            s"${HeavyHitters.MaxSaltKeys} hot window hashes — salting all")
          matchedPairs(pinned, AutoSaltBuckets)
        } else {
          System.err.println(s"[substring] auto-salt: ${hot.length} hot " +
            s"window hash(es) take the ${AutoSaltBuckets}-bucket grid")
          val hotSeq = hot.toSeq
          matchedPairs(pinned.filter(!col("wh").isin(hotSeq: _*)), 1)
            .unionByName(matchedPairs(
              pinned.filter(col("wh").isin(hotSeq: _*)), AutoSaltBuckets))
        }
      }
    islandsToSpans(matched, k, "doc_a", "doc_b", "a_start", "b_start")
  }

  /** All maximal shared runs of >= k tokens between a TRAIN corpus and a
    * benchmark PROBE set — n-gram-overlap decontamination, the
    * substring-granularity generalization of [[Corpus.decontaminate]]
    * (which counts shared shingles per train doc): this names WHERE the
    * contamination sits and HOW LONG it runs, the evidence an eval-set
    * audit wants. The probe side is benchmark-sized (tiny next to the
    * corpus), so its window relation broadcasts and the train corpus is
    * never shuffled — one scan, one broadcast hash join. */
  def contaminationSpans(train: DataFrame, probe: DataFrame,
      k: Int = ContaminationK): DataFrame = {
    val tw = windowRel(train, k)
    val pw = windowRel(probe, k)
    val matched = tw
      .join(broadcast(pw.select(col("doc_id").as("probe_doc"),
        col("pos").as("pos_b"), col("wh"))), Seq("wh"))
      .select(col("doc_id").as("train_doc"), col("probe_doc"),
        col("pos").as("pos_a"), col("pos_b"))
    islandsToSpans(matched, k, "train_doc", "probe_doc",
      "train_start", "probe_start")
  }

  // ---- incremental (persisted window log) --------------------------------

  /** Coarse partition count of the persisted window log: `whb =
    * xxhash64(wh) mod WinStateBuckets` is the partition column, `wh` a
    * sorted data column inside each file — the
    * [[EmbeddingIncremental.EmbStateBuckets]] layout rule applied to
    * window hashes. A daily drop's windows touch a SUBSET of coarse
    * buckets only in the trickle regime (a few docs); a bulk batch's
    * ~10³ distinct window hashes saturate 64 buckets, where the probe
    * reads most of the log — which is within a constant of the rows the
    * match join needs anyway. The 100-TB lever is the wh IN row-group
    * pruning on the SORTED wh column (exact keys, not directories),
    * which holds at every batch size under [[IncrementalDedup
    * .KeyPushMax]]. */
  val WinStateBuckets = 64

  /** Bucket of a window row — the persisted layout key. Any stored row
    * joinable with a batch row shares `wh`, so it shares this bucket:
    * pruning the log to the batch's buckets loses no match. */
  def whBucket(wh: Column, n: Int): Column =
    pmod(xxhash64(wh), lit(n.toLong)).cast("int")

  /** Driver-side twin of [[whBucket]] — evaluates the identical Catalyst
    * XxHash64 over a string literal (the [[IncrementalDedup
    * .bandBucketLocal]] pattern), so a batch whose window hashes are in
    * hand computes its touched buckets with zero Spark jobs. Agreement
    * is spec-pinned (SubstringDedupSpec). */
  private[graft] def whBucketLocal(wh: String, n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = new XxHash64(Seq(Literal(wh)))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Long]
    val m = h % n
    (if (m < 0) m + n else m).toInt
  }

  /** Incremental substring-dedup state: the accumulated maximal spans
    * and the window relation they were derived from. `buckets` carries
    * the persisted layout's coarse bucket count when loaded from a
    * store ([[loadStore]]) — the probe then prunes to touched `whb`
    * partitions; an in-memory state probes unpruned.
    *
    * Why spans are PURE APPEND (unlike [[DedupState]]'s labels, which
    * merge): a span is a property of one document PAIR, documents are
    * immutable, and every pair's matched windows all surface in the
    * admission that admits the LATER of its two docs — so no admission
    * can extend or relabel a previously-emitted span. Chained
    * admissions ≡ one-shot [[duplicateSpans]] follows directly (the
    * match relation decomposes over admissions; the island merge is
    * per-pair-local), which is exactly what q85's oracle — q76's batch
    * SQL replayed over the union — pins by hash. */
  final case class SubstringState(spans: DataFrame, windows: DataFrame,
      buckets: Option[Int] = None)

  /** Day-0 in-memory bootstrap: one-shot spans + the window relation. */
  def initialState(docs: DataFrame, k: Int = DedupK): SubstringState =
    SubstringState(duplicateSpans(docs, k), windowRel(docs, k))

  /** The window-log probe side for one batch: stored windows restricted
    * to the batch's touched `whb` partitions (directory pruning) and,
    * under [[IncrementalDedup.KeyPushMax]] distinct hashes, to the exact
    * `wh` key set (row-group pruning on the sorted wh column) — the
    * [[IncrementalDedup.prunedBands]] shape on window hashes. One
    * bounded take computes both; an over-cap batch falls back to a
    * bucket-only distinct collect (≤ [[WinStateBuckets]] rows). */
  private[graft] def prunedStoredWindows(state: SubstringState,
      newWins: DataFrame): DataFrame = state.buckets match {
    case Some(n) if state.windows.columns.contains("whb") =>
      val cap = IncrementalDedup.KeyPushMax
      val tk = newWins.select(col("wh")).distinct().take(cap + 1)
      val (touched, keys) =
        if (tk.length <= cap) {
          val ks = tk.map(_.getString(0)).toSeq
          (ks.map(whBucketLocal(_, n)).distinct, Some(ks))
        } else
          (newWins.select(whBucket(col("wh"), n).as("whb")).distinct()
            .collect().map(_.getInt(0)).toSeq, None)
      val bucketed =
        if (touched.isEmpty) state.windows.filter(lit(false))
        else if (touched.size < n)
          state.windows.filter(col("whb").isin(touched: _*))
        else state.windows
      (keys match {
        case Some(ks) if touched.nonEmpty =>
          bucketed.filter(col("wh").isin(ks: _*))
        case _ => bucketed
      }).drop("whb")
    case _ =>
      if (state.windows.columns.contains("whb")) state.windows.drop("whb")
      else state.windows
  }

  /** New maximal spans from admitting one batch: batch windows matched
    * against (pruned stored ∪ batch) on the window hash, canonicalized
    * to (min-id doc_a, its position), then island-merged. A (new, old)
    * pair surfaces once from the probe side; a (new, new) pair surfaces
    * symmetrically from both — `distinct()` collapses the duplicate
    * orientation exactly as [[duplicateSpans]]'s salted path does. Hot
    * boilerplate window values are the same skew hazard as the one-shot
    * join's; the probe side is batch-sized, so AQE's skew split covers
    * it (the one-shot salt grid targets the corpus×corpus case).
    *
    * PRECONDITION (as [[IncrementalDedup.admitBatch]]): batch doc_ids
    * are NEW — disjoint from the state's. */
  private def admitSpans(state: SubstringState, newWins: DataFrame,
      k: Int): DataFrame = {
    val stored = prunedStoredWindows(state, newWins)
    val build = stored.unionByName(newWins)
    val matched = newWins
      .select(col("wh"), col("doc_id").as("qd"), col("pos").as("qp"))
      .join(build.select(col("wh"), col("doc_id").as("cd"),
        col("pos").as("cp")), Seq("wh"))
      .filter(col("qd") =!= col("cd"))
      .select(
        least(col("qd"), col("cd")).as("doc_a"),
        greatest(col("qd"), col("cd")).as("doc_b"),
        when(col("qd") < col("cd"), col("qp")).otherwise(col("cp")).as("pos_a"),
        when(col("qd") < col("cd"), col("cp")).otherwise(col("qp")).as("pos_b"))
      .distinct()
    islandsToSpans(matched, k, "doc_a", "doc_b", "a_start", "b_start")
  }

  /** Admit one batch against an in-memory state (the q51/q62 twin):
    * returns the grown state; old document TEXT is never an input. */
  def admitBatch(state: SubstringState, newDocs: DataFrame,
      k: Int = DedupK): SubstringState = {
    val nw = windowRel(newDocs, k)
    SubstringState(
      spans = state.spans.unionByName(admitSpans(state, nw, k)),
      windows = (if (state.windows.columns.contains("whb"))
        state.windows.drop("whb") else state.windows).unionByName(nw),
      buckets = None)
  }

  // ---- persisted store (the VersionedIndex protocol) ---------------------

  private val WindowDdl = "doc_id BIGINT, pos BIGINT, wh STRING"
  private val SpanDdl = "doc_a BIGINT, doc_b BIGINT, a_start BIGINT, " +
    "b_start BIGINT, span_tokens BIGINT"

  /** The window log's layout: `whb` dirs, `wh`-sorted files. */
  private val WindowLayout = VersionedIndex.Bucketed("whb",
    whBucket(col("wh"), WinStateBuckets), "wh")

  /** On-disk layout (the [[VersionedIndex]] protocol — atomic CURRENT
    * pointer, manifest-listed segments, crashed commits invisible):
    *
    * {{{
    * dir/
    *   CURRENT  v$N/MANIFEST
    *   windows/seg=$M/whb=.../   # append-only window log (wh-sorted)
    *   spans/seg=$M/             # append-only span log
    * }}}
    *
    * Both logs append ONE O(batch) segment per admission (spans never
    * rewrite — see [[SubstringState]]'s pure-append argument, so there
    * is no remap relation at all); past `maxLiveSegments` the commit
    * folds each log into a single segment, bounding listing fan-in
    * exactly like [[EmbeddingIncremental]]'s. The manifest's row counts
    * carry the WINDOW log size — the O(batch)-writes evidence the bench
    * stamps. */
  def bootstrapStore(spark: SparkSession, dir: String, docs: DataFrame,
      k: Int = DedupK): Unit =
    // the window segment depends only on docs, not on the span join —
    // its write runs concurrently with the one-shot span computation
    // (the bootstrapDrop overlap shape); both sides re-run the narrow
    // windowRel scan rather than pinning a corpus-sized relation
    VersionedIndex.bootstrap(dir, Seq("windows", "spans")) {
      graft.Par.overlap(
        writeSeg(windowRel(docs, k), dir, "windows", 0, WindowLayout))(
        writeSeg(duplicateSpans(docs, k), dir, "spans", 0, OneFile))._1
    }

  def loadStore(spark: SparkSession, dir: String): Option[SubstringState] =
    VersionedIndex.meta(dir).map(stateAt(spark, dir, _))

  private def stateAt(spark: SparkSession, dir: String,
      m: VersionedIndex.Meta): SubstringState =
    SubstringState(
      spans = VersionedIndex.readLog(spark, dir, "spans", m.segs, SpanDdl),
      windows = VersionedIndex.readLog(spark, dir, "windows", m.segs,
        WindowDdl, partitionDdl = "whb INT"),
      buckets = Some(WinStateBuckets))

  /** Admit a batch against the PERSISTED state at `dir` and commit the
    * next version: the batch's windows and its new spans land as their
    * own `seg=$N` of each log — per-admission writes are O(batch),
    * never the corpus (a fold day rewrites once per `maxLiveSegments`
    * admissions, amortized O(corpus/K)); the probe reads only touched
    * `whb` partitions (+ wh row groups) of the committed window log. */
  def admitDrop(spark: SparkSession, dir: String, newDocs: DataFrame,
      k: Int = DedupK, maxLiveSegments: Int = 16): Unit =
    VersionedIndex.appendOrFold(spark, dir,
      s"$dir holds no committed substring-dedup state — bootstrapStore first",
      maxLiveSegments, Seq("windows", "spans"), sizeBy = Seq(newDocs)) {
      (m, next, fold) => admitSegs(spark, dir, m, newDocs, k, next, fold)
    }

  /** Writes this admission's window and span segments (or the folded
    * logs) and returns the committed window-log size. */
  private def admitSegs(spark: SparkSession, dir: String,
      m: VersionedIndex.Meta, newDocs: DataFrame, k: Int, next: Long,
      fold: Boolean): Long = {
    val st = stateAt(spark, dir, m)
    // the batch's window relation feeds the seg write, the bucket probe,
    // AND the match join — pin once (batch-sized), free once written
    val nw = graft.Checkpoints.pin(windowRel(newDocs, k))
    try {
      // the window write overlaps the span probe; its row count is the
      // batch's windows (append) or the whole folded log (fold), and
      // m.totalRows already carries the live log's size
      val (winRows, _) = graft.Par.overlap(
        writeSeg(if (fold) st.windows.drop("whb").unionByName(nw) else nw,
          dir, "windows", next, WindowLayout)) {
        val newSpans = admitSpans(st, nw, k)
        writeSeg(if (fold) st.spans.unionByName(newSpans) else newSpans,
          dir, "spans", next, OneFile)
      }
      if (fold) winRows else m.totalRows + winRows
    } finally graft.Checkpoints.free(nw)
  }

  // ---- SparkEntry wiring -------------------------------------------------

  /** Planted shared-passage fixture under ids disjoint from the corpus
    * (vocabulary disjoint too, so fixture windows can only match each
    * other): an aligned 20-token passage at DIFFERENT offsets in two
    * docs; a 14-token license block shared by three docs (all three
    * pairs must emerge); a k−1-token overlap that must NOT emit; a pair
    * of identical sub-k documents (no windows at all); and a doc holding
    * the passage TWICE (two distinct aligned spans against each carrier,
    * and no self-pair). */
  val SpanFixture: Seq[(Long, String)] = {
    val p20 = (1 to 20).map(i => f"zz$i%02d").mkString(" ")
    val l14 = (1 to 14).map(i => f"ll$i%02d").mkString(" ")
    val n11 = (1 to 11).map(i => f"nn$i%02d").mkString(" ")
    Seq(
      (4000000L, s"la1 la2 la3 la4 la5 $p20 ta1 ta2 ta3"),
      (4000001L, s"lb01 lb02 lb03 lb04 lb05 lb06 lb07 lb08 lb09 lb10 lb11 " +
        s"$p20 tb1 tb2"),
      (4000002L, s"$l14 tc1 tc2 tc3 tc4 tc5 tc6 tc7 tc8"),
      (4000003L, s"ld1 ld2 ld3 $l14 td1 td2 td3"),
      (4000004L, s"le1 $l14 te1 te2 te3 te4"),
      // exactly k-1 = 11 shared tokens: below the span threshold
      (4000005L, s"$n11 fa1 fa2 fa3 fa4"),
      (4000006L, s"ga1 ga2 ga3 ga4 ga5 $n11"),
      // identical but shorter than k: no windows, no span
      (4000007L, "hh1 hh2 hh3 hh4 hh5 hh6 hh7 hh8"),
      (4000008L, "hh1 hh2 hh3 hh4 hh5 hh6 hh7 hh8"),
      // the passage twice: two aligned spans vs each carrier
      (4000009L, s"j1 j2 $p20 jm $p20 j3"))
  }

  /** Benchmark + contaminated-train fixture for q78 (ids disjoint from
    * corpus and from [[SpanFixture]]): one train doc quoting a 10-token
    * benchmark passage mid-document, one full-copy carrier, and a
    * k−1-token near-miss that must NOT flag. */
  val BenchmarkFixture: Seq[(Long, String)] = {
    val bm16 = (1 to 16).map(i => f"bm$i%02d").mkString(" ")
    val bq12 = (1 to 12).map(i => f"bq$i%02d").mkString(" ")
    Seq((4100000L, bm16), (4100001L, bq12))
  }

  val ContaminatedTrainFixture: Seq[(Long, String)] = {
    val quote10 = (3 to 12).map(i => f"bm$i%02d").mkString(" ")
    val bm16 = (1 to 16).map(i => f"bm$i%02d").mkString(" ")
    val near7 = (1 to 7).map(i => f"bq$i%02d").mkString(" ")
    Seq(
      (4200000L, s"wa1 wa2 wa3 wa4 $quote10 wb1 wb2 wb3"),
      (4200001L, s"wc1 wc2 $near7 wd1 wd2 wd3 wd4 wd5"),
      (4200002L, s"we1 we2 we3 $bm16 wf1"))
  }

  private def fixtureValues(fx: Seq[(Long, String)]): String =
    fx.map { case (id, t) => s"($id, '${t.replace("'", "''")}')" }
      .mkString(", ")

  private def fixtureDf(s: SparkSession, fx: Seq[(Long, String)]): DataFrame = {
    import s.implicits._
    fx.toDF("doc_id", "text")
  }

  /** q76: maximal duplicate spans (>= [[DedupK]] tokens) over corpus ∪
    * planted fixture. The organic rows are the planted near-dup
    * structure's shared prefixes; the fixture pins offsets, triples,
    * the k−1 near-miss, and multi-span pairs. */
  def qSubstringDedup(s: SparkSession, d: String): DataFrame =
    duplicateSpans(
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(fixtureDf(s, SpanFixture)), DedupK)

  /** Oracle fragment: the window relation `<p>wins(doc_id, pos, wh)` of
    * source CTE `src` — the [[windowRel]] replay. DuckDB's `range()`
    * table function cannot take lateral column bounds, so positions come
    * from `unnest(range(...))` in a projection. */
  private[operators] def windowCtesSql(srcCte: String, k: Int, p: String): String =
    s"""${p}toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |          FROM $srcCte),
       |${p}posn AS (SELECT doc_id, w, unnest(range(1, len(w) - $k + 2)) AS pos
       |         FROM ${p}toks WHERE len(w) >= $k),
       |${p}wins AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |                md5(array_to_string(list_slice(w, pos, pos + $k - 1), ' ')) AS wh
       |         FROM ${p}posn)""".stripMargin

  /** Oracle fragment: matched windows → islands → maximal spans. */
  private def islandsSql(k: Int, aSide: String, bSide: String,
      joinPred: String, aCol: String, bCol: String, aStart: String,
      bStart: String): String =
    s"""m AS (SELECT a.doc_id AS $aCol, b.doc_id AS $bCol,
       |             a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diff
       |      FROM $aSide a JOIN $bSide b ON a.wh = b.wh AND $joinPred),
       |isl AS (SELECT *, pos_a - ROW_NUMBER() OVER (
       |          PARTITION BY $aCol, $bCol, diff ORDER BY pos_a) AS island
       |        FROM m)
       |SELECT $aCol, $bCol, MIN(pos_a) AS $aStart, MIN(pos_b) AS $bStart,
       |       CAST(COUNT(*) + $k - 1 AS BIGINT) AS span_tokens
       |FROM isl GROUP BY $aCol, $bCol, diff, island""".stripMargin

  val qSubstringDedupSql: String =
    s"""WITH src AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT * FROM (VALUES ${fixtureValues(SpanFixture)})
       |    fx(doc_id, text)),
       |${windowCtesSql("src", DedupK, "")},
       |${islandsSql(DedupK, "wins", "wins", "a.doc_id < b.doc_id",
         "doc_a", "doc_b", "a_start", "b_start")}
       |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin

  /** q78: contamination spans (>= [[ContaminationK]] tokens) of the
    * train side (organic docs >= 20 ∪ planted contaminated trains)
    * against the benchmark probe set (organic docs < 20 ∪ planted
    * benchmarks) — [[Corpus.decontaminate]]'s probe/train split, at
    * substring granularity. */
  def qNgramContamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") >= Corpus.DefaultProbeMaxId)
      .unionByName(fixtureDf(s, ContaminatedTrainFixture))
    val probe = docs.filter(col("doc_id") < Corpus.DefaultProbeMaxId)
      .unionByName(fixtureDf(s, BenchmarkFixture))
    contaminationSpans(train, probe, ContaminationK)
  }

  /** q85: the incremental ladder rung for q76 — three "daily" drops
    * (`pmod(doc_id, 3)` over corpus ∪ [[SpanFixture]], scattering the
    * planted pairs and the organic shared prefixes across days) chained
    * through the PERSISTED window-log store: bootstrap, an append
    * admission, then a fold admission (`maxLiveSegments = 2` makes the
    * third commit exceed the live-segment bound), so every storage arm
    * — bucketed seg write, whb/wh-pruned probe, span append, log fold —
    * sits inside the correctness gate. The oracle is q76's one-shot SQL
    * replayed over the SAME union: chained admissions ≡ one-shot is the
    * [[SubstringState]] pure-append argument, pinned by hash. */
  def qIncrementalSubstring(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(fixtureDf(s, SpanFixture))
    val root = java.nio.file.Files.createTempDirectory("graft-q85").toString
    def day(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
    bootstrapStore(s, s"$root/state", day(0))
    admitDrop(s, s"$root/state", day(1), maxLiveSegments = 2) // append
    admitDrop(s, s"$root/state", day(2), maxLiveSegments = 2) // fold
    // pin before the state dir is deleted (the caller writes AFTER this
    // returns; a lazy scan would read deleted files)
    val out = graft.Checkpoints.pin(loadStore(s, s"$root/state").get.spans)
    try org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(root))
    catch { case _: Exception => }
    out
  }

  /** Chained ≡ one-shot: q76's oracle verbatim. */
  val qIncrementalSubstringSql: String = qSubstringDedupSql

  val qNgramContaminationSql: String =
    s"""WITH src AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id >= ${Corpus.DefaultProbeMaxId}
       |  UNION ALL SELECT * FROM (VALUES ${fixtureValues(ContaminatedTrainFixture)})
       |    fx(doc_id, text)),
       |psrc AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < ${Corpus.DefaultProbeMaxId}
       |  UNION ALL SELECT * FROM (VALUES ${fixtureValues(BenchmarkFixture)})
       |    pfx(doc_id, text)),
       |${windowCtesSql("src", ContaminationK, "t")},
       |${windowCtesSql("psrc", ContaminationK, "p")},
       |${islandsSql(ContaminationK, "twins", "pwins", "TRUE",
         "train_doc", "probe_doc", "train_start", "probe_start")}
       |ORDER BY train_doc, probe_doc, train_start, probe_start""".stripMargin
}
