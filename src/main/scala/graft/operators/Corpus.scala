package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.TextFns._

/** The composed training-corpus pipeline (q38): everything a pretraining
  * data pass actually runs, wired end to end —
  *
  *   documents → per-row features (token count, quality score, language
  *   ID) → quality + language gates → near-dup cluster canonical-keep →
  *   final corpus rows.
  *
  * This is the integration query over the standalone operators
  * ([[TextAnalysis]], [[Dedup]]): each piece is oracle-checked alone;
  * this checks their composition.
  *
  * Scale design (100 TB): the feature+gate stage is ONE narrow pass over
  * the scan (the per-row columns come from shared single-pass builders,
  * not per-feature self-joins). The only shuffles are the ones dedup
  * itself needs (LSH banding + component closure on the tiny duplicate
  * subgraph), plus the final keep-list join, which at scale is a
  * broadcast semi-join: the keep-list carries only (doc_id,
  * cluster_size) for cluster CANONICALS — near-corpus-sized, so it stays
  * a shuffle join on doc_id; the gates have already cut the probe side.
  */
object Corpus {

  val MinQuality = 0.35
  val KeepLangs: Seq[String] = Seq("en", "de")

  /** The shared per-row gate: one narrow pass computing every feature
    * column, then the quality + language filters. Used verbatim by the
    * batch pipeline below and the streaming twin [[gateStream]] — one
    * definition, no batch/stream drift. */
  def gated(docs: DataFrame, minQuality: Double = MinQuality,
      langs: Seq[String] = KeepLangs): DataFrame =
    docs.select(
      col("doc_id"), col("lang"),
      TextAnalysis.profileCol.getField("n_chars").as("n_chars"),
      TextAnalysis.profileCol.getField("ws_tokens").as("n_tokens"),
      TextAnalysis.qualityCol.as("quality"),
      TextAnalysis.predLangCol.as("pred_lang"))
      .filter(col("quality") >= minQuality && col("lang").isInCollection(langs))

  /** Final corpus rows: gate FIRST, then keep one representative (the
    * minimum surviving doc_id) per near-dup cluster AMONG THE SURVIVORS.
    * Order matters: keying the keep-list on the full-cluster canonical
    * would silently drop an entire cluster whenever its minimum member
    * happens to fail a gate, even though a passing near-duplicate
    * exists. `cluster_size` counts the GATED members the kept row
    * represents (> 1 ⇒ it absorbed duplicates). */
  def corpusFilter(docs: DataFrame, minQuality: Double = MinQuality,
      langs: Seq[String] = KeepLangs): DataFrame = {
    val labels = Dedup.duplicateClusters(docs)
      .select(col("doc_id"), col("cluster_id"))
    val gatedLabeled = gated(docs, minQuality, langs).join(labels, "doc_id")
    val keep = gatedLabeled.groupBy("cluster_id")
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("cluster_size"))
    gatedLabeled.join(keep, "cluster_id")
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("quality"),
        col("n_tokens"), col("n_chars"), col("cluster_size"))
  }

  /** Streaming twin of the per-row gate stage: [[gated]] IS the
    * implementation — pure per-row expressions run unchanged over an
    * unbounded document stream (stateless, no watermark needed). Dedup
    * stages are the batch-side counterpart: at scale the stream gates
    * documents on arrival and a periodic batch pass reconciles near-dup
    * clusters over the accumulated corpus. */
  def gateStream(docs: DataFrame, minQuality: Double = MinQuality,
      langs: Seq[String] = KeepLangs): DataFrame =
    gated(docs, minQuality, langs)

  /** Benchmark decontamination (q48): flag training documents sharing
    * word-3-gram shingles with an evaluation/probe set — the overlap
    * check every pretraining corpus runs against its eval benchmarks.
    *
    * Scale: the probe side (a benchmark suite) is tiny relative to the
    * corpus, so its exploded shingle set BROADCASTS and the train side
    * streams map-side — no shuffle of corpus shingles at all; only the
    * per-train-doc aggregation shuffles (on doc_id, sized by the
    * contaminated subset). Shingle sets come from the shared
    * [[Dedup.shingleSets]] cache. */
  val DefaultProbeMaxId = 20L

  def decontaminate(docs: DataFrame, probeMaxId: Long = DefaultProbeMaxId): DataFrame = {
    val sh = Dedup.shingleSets(docs)
    val train = sh.filter(col("doc_id") >= probeMaxId)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    val probe = sh.filter(col("doc_id") < probeMaxId)
      .select(col("doc_id").as("probe_id"), explode(col("sh")).as("shingle"))
    train.join(broadcast(probe), "shingle")
      .groupBy("doc_id")
      .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
        countDistinct(col("probe_id")).as("n_probe_docs"))
  }

  /** Bloom-prefiltered decontamination — the shape that survives probe
    * sets too large to broadcast as exploded shingle rows (the
    * [[decontaminate]] baseline's one scale assumption). A compact
    * Bloom over the probe's distinct shingles (~1.4 MB per million
    * shingles at fpp 1e-3, vs tens of bytes PER SHINGLE broadcast) rides
    * the filter expression to every train partition; only
    * maybe-contaminated train shingles reach the verify join, which
    * exact-joins them against the probe relation WITHOUT a broadcast
    * hint — both sides are skinny by then, and AQE picks the strategy.
    * Result rows are IDENTICAL to [[decontaminate]]: Bloom false
    * positives die in the exact join, false negatives cannot exist —
    * so q48's oracle covers this path, and no sketch bit ever reaches
    * a result (the sketch can use Spark's murmur rather than the
    * portable hash60 for exactly this reason). Spec-pinned equality in
    * TextAnalysisSpec; the two driver-side jobs (distinct-count + Bloom
    * build) are probe-sized, never corpus-sized. */
  def decontaminateBloom(docs: DataFrame, probeMaxId: Long = DefaultProbeMaxId,
      fpp: Double = 1e-3): DataFrame = {
    val sh = Dedup.shingleSets(docs)
    val train = sh.filter(col("doc_id") >= probeMaxId)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    val probe = sh.filter(col("doc_id") < probeMaxId)
      .select(col("doc_id").as("probe_id"), explode(col("sh")).as("shingle"))
    val probeShingles = probe.select(col("shingle")).distinct()
    val n = probeShingles.count()
    // distributed Bloom build: per-partition inserts, OR-merge on the way
    // up (probe-sized work; only the sketch moves between tasks). Built
    // over UTF-8 bytes and probed the same way in the expression — no
    // dependence on putString internals.
    import org.apache.spark.util.sketch.BloomFilter
    val bloom = {
      import docs.sparkSession.implicits._
      probeShingles.as[String].rdd.treeAggregate(
        BloomFilter.create(math.max(n, 1L), fpp))(
        (bf, s) => {
          bf.putBinary(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)); bf
        },
        (a, b) => a.mergeInPlace(b))
    }
    train
      .filter(graft.functions.BloomFns.bloomMightContain(col("shingle"), bloom))
      .join(probe, "shingle")
      .groupBy("doc_id")
      .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
        countDistinct(col("probe_id")).as("n_probe_docs"))
  }

  /** Per-source curation stats (q50): the domain-level view a web-corpus
    * pipeline uses to DROP whole sources — document count, exact mean
    * quality and token count (decimal-summed, order-independent), and
    * the duplication rate (share of docs in multi-member clusters).
    *
    * Scale: one narrow feature pass ⋈ cluster labels on doc_id, then a
    * partial+final agg on the low-cardinality source key. */
  def sourceStats(docs: DataFrame): DataFrame = {
    val labeled = Dedup.duplicateClusters(docs)
      .select(col("doc_id"), col("cluster_size"))
    docs.select(col("doc_id"), col("source"),
      TextAnalysis.profileCol.getField("ws_tokens").as("n_tokens"),
      TextAnalysis.qualityCol.as("quality"))
      .join(labeled, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("quality").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("mean_quality"),
        round(sum(col("n_tokens")).cast("double") / count(lit(1)), 6)
          .as("mean_tokens"),
        sum(when(col("cluster_size") > 1, 1L).otherwise(0L)).as("dup_docs"))
      .withColumn("dup_rate",
        round(col("dup_docs").cast("double") / col("n_docs"), 6))
  }

  /** Deterministic corpus mixing (q53): downsample every source to the
    * uniform target mixture — the data-mixing step a training pipeline
    * runs after curation, when one crawl dwarfs the others and the
    * corpus must hit target source proportions WITHOUT a random sample
    * that changes on every run. The minimum per-source count `m` is the
    * achievable uniform share; each source keeps rows whose portable
    * 60-bit hash of doc_id falls under `m*1e6 div n_s` — integer
    * arithmetic end to end, so DuckDB computes the identical boundary
    * and the kept set is hash-verifiable row for row (no RNG, no
    * ordering dependence: the gate hashes VALUES, not positions, like
    * the k-means fit gate).
    *
    * Scale: one partial+final count on the low-cardinality source key;
    * the S-row threshold relation broadcasts back; the gate itself is a
    * narrow per-row filter — the corpus never shuffles. Non-uniform
    * target mixes are the same shape with integer weight parts in place
    * of the uniform 1. */
  /** @param parts optional mixing recipe in integer weight parts
    *   ("2 parts web, 1 part books"); sources absent from a non-empty
    *   recipe are DROPPED. Empty (default) = uniform: 1 part per
    *   observed source. With `u = min_s (n_s div parts_s)` achievable
    *   whole units, source s targets `u * parts_s` rows via threshold
    *   `(u * parts_s * 1e6) div n_s` — integer arithmetic throughout,
    *   so any engine computes the identical boundary. */
  def mixCorpus(docs: DataFrame,
      parts: Map[String, Long] = Map.empty): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(parts.values.forall(_ > 0), "weight parts must be positive")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val weighted =
      if (parts.isEmpty) counts.withColumn("part", lit(1L))
      else counts.join(broadcast(parts.toSeq.toDF("source", "part")), "source")
    val urel = weighted.agg(min(expr("n div part")).as("u"))
    // fail LOUDLY on an infeasible recipe: a source with fewer rows than
    // its weight parts makes u = 0, which would zero every threshold and
    // silently emit an empty corpus — raise at execution instead, naming
    // the undersized source
    val thresholds = weighted.crossJoin(broadcast(urel))
      .select(col("source"),
        expr("""CASE WHEN n div part > 0
               |     THEN u * part * CAST(1000000 AS BIGINT) div n
               |     ELSE CAST(raise_error(concat('mixCorpus: source ', source,
               |            ' has fewer rows (', n, ') than its weight parts (',
               |            part, ') — no achievable whole unit, the mix would',
               |            ' be empty')) AS BIGINT)
               |END""".stripMargin).as("thresh"))
    docs.join(broadcast(thresholds), "source")
      .filter(pmod(graft.functions.TextFns.hash60(col("doc_id").cast("string")),
        lit(1000000L)) < col("thresh"))
      .select(col("doc_id"), col("source"))
  }

  /** Token-BUDGETED corpus mix (q74): fill each source's TOKEN budget
    * by admitting documents in the portable md5 hash order (the corpus
    * "shuffle" order — an unbiased sample, stable in the sense that a
    * new doc only ever displaces docs hashing after it) until the
    * budget is exhausted — how pretraining mixtures are actually
    * specified (tokens per source; [[mixCorpus]] is the row-proportion
    * sibling). A document is admitted iff the tokens BEFORE it (per
    * source, hash order) are under the budget — the boundary document
    * overflows rather than being skipped (the q46 bin-0 semantic: the
    * budget bounds starts), so the admitted set is exactly a hash
    * prefix and deterministic.
    *
    * Scale shape: the per-source running sum is the SAME two-level
    * blocked prefix sum as [[Sequencing.packSequences]], except blocks
    * are HASH-PREFIX ranges (the first two hex nibbles — 256 uniform
    * blocks) instead of doc_id ranges, because the running order here
    * IS the hash: (blk, hx) order equals hx order precisely because
    * blk is a prefix of hx. No window task sorts more than
    * ~corpus/256 rows of one source, and the level-2 window runs over
    * the one-row-per-(source, block) aggregate. `nTokens` is
    * pluggable exactly like the packer's — pass [[Bpe.tokenCount]]
    * for model-tokenizer budgets. */
  def tokenBudgetMix(docs: DataFrame, budgetTokens: Long,
      nTokens: Column =
        size(graft.functions.TextFns.wsTokens(col("text"))).cast("long")): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    withCumBefore(docs, nTokens)
      .filter(col("cum_before") < budgetTokens)
      .select(col("doc_id"), col("source"), col("n_tokens"))
  }

  /** Per-source tokens-before-this-doc in the portable md5 hash order —
    * [[tokenBudgetMix]]'s two-level blocked prefix sum, exposed so the
    * per-source-budget variants ([[qualityWeightedMix]]) share the
    * identical fill kernel. */
  private def withCumBefore(docs: DataFrame, nTokens: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("source"),
        nTokens.as("n_tokens"))
      .withColumn("hx", md5(col("doc_id").cast("string")))
      .withColumn("blk", substring(col("hx"), 1, 2))
    val wLocal = Window.partitionBy(col("source"), col("blk"))
      .orderBy(col("hx"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("local_cum",
      sum(col("n_tokens")).over(wLocal))
    val wPrefix = Window.partitionBy(col("source")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = base.groupBy(col("source"), col("blk"))
      .agg(sum(col("n_tokens")).as("blk_tokens"))
      .withColumn("blk_offset",
        sum(col("blk_tokens")).over(wPrefix) - col("blk_tokens"))
      .select("source", "blk", "blk_offset")
    // unhinted join for the same sparse-key escape-hatch reason as the
    // packer's offsets join (AQE broadcasts the tiny aggregate)
    local.join(offsets, Seq("source", "blk"))
      .withColumn("cum_before",
        col("local_cum") + col("blk_offset") - col("n_tokens"))
  }

  /** Per-source token budgets scaled by weak-label quality (q86's
    * budget relation, exposed for the spec's shift test): each source's
    * budget is `base * n_pos div n_lab` — the share of its LABELED docs
    * (q83's tercile weak labels, [[QualityModel.labeled]]'s exact
    * derivation) that landed in the TOP tercile, in integer arithmetic
    * so any engine computes the identical boundary. A source whose
    * labeled docs are all bottom-tercile gets budget 0 (excluded — the
    * mix admits nothing from an all-garbage source); a source with NO
    * labeled docs (every doc in the unlabeled middle band) is absent
    * from the relation and thus dropped, the [[mixCorpus]]
    * absent-from-recipe semantic.
    *
    * Scale shape: quality is the one fused narrow pass
    * ([[TextAnalysis]]'s profile subtree) KEEPING `source` — no
    * corpus×corpus join of features back to docs; the threshold agg and
    * the per-source rate agg are low-cardinality reductions whose
    * results broadcast. */
  private[graft] def sourceQualityBudgets(docs: DataFrame,
      base: Long): DataFrame = {
    require(base > 0, s"base budget must be positive: $base")
    val scored = docs.select(col("doc_id"), col("source"),
      TextAnalysis.qualityCol.as("quality"))
    val thr = scored.agg(
      expr(s"percentile(quality, ${QualityModel.LoQuantile})").as("lo"),
      expr(s"percentile(quality, ${QualityModel.HiQuantile})").as("hi"))
      .head()
    val (lo, hi) = (thr.getDouble(0), thr.getDouble(1))
    scored.filter(col("quality") <= lo || col("quality") >= hi)
      .withColumn("weak_label", when(col("quality") >= hi, 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(sum(col("weak_label")).as("n_pos"), count(lit(1)).as("n_lab"))
      .select(col("source"),
        expr(s"$base * n_pos div n_lab").as("budget_tokens"))
  }

  /** Quality-conditioned mixture re-weighting (q86) — the loop closure
    * between q83 (predict quality) and q74 (fill token budgets): each
    * source's budget is the base scaled by its weak-label pass rate
    * ([[sourceQualityBudgets]]), then filled with q74's blocked
    * hash-order prefix sum. The deliberate choice of the WEAK-LABEL
    * rate over the trained model's predictions keeps the whole loop
    * deterministic and oracle-portable (the classifier's role is
    * validated separately by q83's agreement gates; at deployment the
    * budget input swaps to the model's calibrated rate with the same
    * downstream shape). Degrading one source's quality provably shifts
    * budget away from it — spec-pinned. */
  def qualityWeightedMix(docs: DataFrame, base: Long,
      nTokens: Column =
        size(graft.functions.TextFns.wsTokens(col("text"))).cast("long")): DataFrame =
    withCumBefore(docs, nTokens)
      .join(broadcast(sourceQualityBudgets(docs, base)), Seq("source"))
      .filter(col("cum_before") < col("budget_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("budget_tokens"))

  /** q74's per-source budget: sized so the fill is PARTIAL on the
    * fixtures (a budget above every source's total would make the
    * filter vacuous — at sf0.01 each source holds ~2.5k whitespace
    * tokens, so 1000 keeps a real hash-prefix). */
  val TokenMixBudget = 1000L

  def qTokenBudgetMix(s: SparkSession, d: String): DataFrame =
    tokenBudgetMix(Tables.documents(s, d), TokenMixBudget)

  /** The oracle replays the budget fill as one plain per-source window
    * over the identical md5 order — the blocked formulation must equal
    * it exactly (the packSequences blockWidth-invariance argument,
    * applied to hash-prefix blocks). */
  val qTokenBudgetMixSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |         md5(CAST(doc_id AS VARCHAR)) AS hx
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY hx, doc_id
       |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           - n_tokens AS cum_before
       |  FROM t)
       |SELECT doc_id, source, n_tokens FROM c
       |WHERE cum_before < $TokenMixBudget ORDER BY doc_id""".stripMargin

  /** q86's base budget: sized like [[TokenMixBudget]] so the scaled
    * per-source budgets keep the fill PARTIAL at the gated scales
    * (pass rates land the budgets in the hundreds of tokens against
    * ~2.5k whitespace tokens per source at sf0.01). */
  val QualityMixBase = 1000L

  def qQualityWeightedMix(s: SparkSession, d: String): DataFrame =
    qualityWeightedMix(Tables.documents(s, d), QualityMixBase)

  /** The oracle replays the whole loop: q83's weak labels (exact
    * percentile terciles over q8's quality), per-source pass rates in
    * integer arithmetic, then q74's budget fill as one plain per-source
    * window over the identical md5 order. */
  val qQualityWeightedMixSql: String =
    s"""WITH qrel AS (${TextAnalysis.qualityScoreNoOrderSql}),
       |thr AS (SELECT quantile_cont(quality, ${QualityModel.LoQuantile}) AS lo,
       |               quantile_cont(quality, ${QualityModel.HiQuantile}) AS hi FROM qrel),
       |lab AS (
       |  SELECT q.doc_id, d.source,
       |         (CASE WHEN q.quality >= t.hi THEN 1 ELSE 0 END)::BIGINT AS weak_label
       |  FROM qrel q CROSS JOIN thr t JOIN documents d ON d.doc_id = q.doc_id
       |  WHERE q.quality <= t.lo OR q.quality >= t.hi),
       |bud AS (
       |  SELECT source,
       |         CAST($QualityMixBase * SUM(weak_label) // COUNT(*) AS BIGINT)
       |           AS budget_tokens
       |  FROM lab GROUP BY source),
       |t AS (
       |  SELECT doc_id, source,
       |         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |         md5(CAST(doc_id AS VARCHAR)) AS hx
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY hx, doc_id
       |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           - n_tokens AS cum_before
       |  FROM t)
       |SELECT c.doc_id, c.source, c.n_tokens, b.budget_tokens
       |FROM c JOIN bud b USING (source)
       |WHERE c.cum_before < b.budget_tokens ORDER BY doc_id""".stripMargin

  /** Leakage-safe train/val/test split (q91): assign the split by
    * NEAR-DUP CLUSTER, not by document — the dedup-aware eval split a
    * training pipeline actually needs. A doc-keyed split
    * ([[shuffleShard]]) puts near-duplicate pairs on opposite sides of
    * the train/test boundary (measured below: the planted near-dup
    * structure makes this a certainty, not a tail risk), which leaks
    * training text into evaluation — the public decontamination
    * literature's within-corpus analog. Here every document inherits
    * its [[Dedup.duplicateClusters]] cluster's assignment — the
    * [[shuffleShard]] md5-nibble rule applied to the CLUSTER id (c,d →
    * val; e,f → test; else train, 12/2/2 sixteenths) — so no cluster
    * ever straddles a boundary, by construction.
    *
    * Scale shape: the clustering is the q37 operator (LSH-banded
    * candidates, never all-pairs); the split itself is one narrow
    * projection over its output. Stable under growth in the
    * [[shuffleShard]] sense only cluster-wise: a new near-dup of an
    * existing doc JOINS its cluster and inherits the existing
    * assignment (exactly the property a doc-keyed split lacks); an
    * unrelated new doc lands by its own id-as-cluster hash. (A doc
    * that MERGES two existing clusters can relabel the merged cluster
    * and move it — the min-label rule makes that rare and explicit;
    * [[SplitPins]] (q93) is the incremental variant that pins
    * assignments in a persisted store so no document ever moves.) */
  def clusterSafeSplit(docs: DataFrame): DataFrame =
    Dedup.duplicateClusters(docs)
      .select(col("doc_id"), col("cluster_id"))
      .withColumn("split", SplitPins.nibbleSplit(col("cluster_id")))

  def qClusterSafeSplit(s: SparkSession, d: String): DataFrame =
    clusterSafeSplit(Tables.documents(s, d))

  /** Oracle: the q37 closure clustering (shared CTE chain) + the same
    * md5-nibble rule on the cluster id. */
  val qClusterSafeSplitSql: String =
    s"""WITH RECURSIVE ${Dedup.jaccardCtesSql},
       |${Dedup.clusterCtesSqlFrom("documents")}
       |SELECT doc_id, cluster_id,
       |       CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)
       |              IN ('c', 'd') THEN 'val'
       |            WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)
       |              IN ('e', 'f') THEN 'test' ELSE 'train' END AS split
       |FROM lab ORDER BY doc_id""".stripMargin

  /** `docs` plus the assignment columns (split, shard, hx) — the
    * building block [[shuffleShard]] projects and [[exportShards]]
    * writes through. */
  private def withShuffleShard(docs: DataFrame, numShards: Int): DataFrame = {
    require(numShards >= 1 && numShards <= 256,
      s"numShards must be in [1, 256]: $numShards")
    docs.withColumn("hx", md5(col("doc_id").cast("string")))
      .withColumn("split",
        expr("CASE WHEN substring(hx, 1, 1) IN ('c', 'd') THEN 'val' " +
          "WHEN substring(hx, 1, 1) IN ('e', 'f') THEN 'test' " +
          "ELSE 'train' END"))
      .withColumn("shard",
        expr("CAST(pmod((instr('0123456789abcdef', substring(hx, 2, 1)) - 1) * 16" +
          s" + instr('0123456789abcdef', substring(hx, 3, 1)) - 1, $numShards)" +
          " AS BIGINT)"))
  }

  /** Deterministic train/val/test split + shuffle-shard assignment — the
    * loader-facing tail of a corpus pipeline. Both derive from a
    * content-independent md5 of the doc id, so they are reproducible
    * across runs AND engines (oracle-checkable), uniform across shards
    * (hash, no skew), and stable under corpus growth (a new doc never
    * moves an old one). Split is by the first hex nibble: c,d → val;
    * e,f → test; else train (12/2/2 sixteenths). Shard is the next two
    * nibbles mod `numShards` (uniform when numShards divides 256).
    *
    * Scale shape: ONE narrow per-row projection — no shuffle, no window,
    * no global sort. "Shuffle the corpus for training" does NOT mean a
    * cluster-wide random sort at 100 TB: the hash IS the shuffle (hash
    * order is uncorrelated with any data order); [[exportShards]] turns
    * the assignment into hash-ordered shard files without one. A
    * per-shard sequence column is deliberately absent — a row_number
    * partitioned by a constant-cardinality shard key would funnel the
    * corpus through numShards sort tasks (the PlanShapeSpec tiny-key
    * hazard). */
  def shuffleShard(docs: DataFrame, numShards: Int = 16): DataFrame =
    withShuffleShard(docs, numShards)
      .select(col("doc_id"), col("split"), col("shard"))

  /** Materialize the training corpus as sharded JSONL: a
    * `split=<s>/shard=<k>/` partition tree whose files each hold rows in
    * md5-hash order — the randomized read order a data loader wants,
    * produced WITHOUT a shuffle. No `repartition(split, shard)`: that
    * would funnel the corpus through |splits|·numShards tasks (the
    * write-side twin of the tiny-key window hazard). Instead each scan
    * task sorts its own rows (`sortWithinPartitions` — no exchange) and
    * fans out to the partition dirs it touches (dynamic partition
    * write, the S4 shape), so a shard dir holds one hash-ordered file
    * per contributing task; a loader streams shard files in any order
    * and inherits hash-randomized document order. */
  def exportShards(docs: DataFrame, outDir: String,
      numShards: Int = 16): Unit =
    shardWritePlanFor(docs, numShards)
      .write.partitionBy("split", "shard").mode("overwrite").json(outDir)

  /** The dataset [[exportShards]] writes — exposed so the no-exchange
    * plan shape is spec-assertable. */
  private[graft] def shardWritePlanFor(docs: DataFrame,
      numShards: Int = 16): DataFrame =
    withShuffleShard(docs, numShards)
      .sortWithinPartitions(col("split"), col("shard"), col("hx"))
      .drop("hx")

  // ---- SparkEntry wiring -------------------------------------------------

  def qShuffleShard(s: SparkSession, d: String): DataFrame =
    shuffleShard(Tables.documents(s, d))

  val qShuffleShardSql: String =
    """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents)
      |SELECT doc_id,
      |  CASE WHEN substr(hx, 1, 1) IN ('c', 'd') THEN 'val'
      |       WHEN substr(hx, 1, 1) IN ('e', 'f') THEN 'test'
      |       ELSE 'train' END AS split,
      |  CAST(((strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16
      |        + strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) % 16
      |       AS BIGINT) AS shard
      |FROM h ORDER BY doc_id""".stripMargin

  def qSourceStats(s: SparkSession, d: String): DataFrame =
    sourceStats(Tables.documents(s, d))

  val qSourceStatsSql: String =
    s"""WITH RECURSIVE ${Dedup.jaccardCtesSql},
       |${Dedup.clusterCtesSql},
       |qual AS (SELECT doc_id, n_tokens, quality
       |         FROM (${TextAnalysis.qQualityScoreSql}) ),
       |j AS (
       |  SELECT d.doc_id, d.source, qual.n_tokens, qual.quality,
       |         sz.cluster_size
       |  FROM documents d
       |  JOIN qual USING (doc_id)
       |  JOIN lab USING (doc_id)
       |  JOIN sz USING (cluster_id))
       |SELECT source, COUNT(*) AS n_docs,
       |       ROUND(SUM(quality::DECIMAL(18,6))::DOUBLE / COUNT(*), 6) AS mean_quality,
       |       ROUND(SUM(n_tokens)::DOUBLE / COUNT(*), 6) AS mean_tokens,
       |       SUM(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_docs,
       |       ROUND(SUM(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6) AS dup_rate
       |FROM j GROUP BY 1 ORDER BY source""".stripMargin

  /** q48 runs the Bloom-prefiltered path — row-identical to
    * [[decontaminate]] (spec-pinned), so the DuckDB oracle gates the
    * scale shape a deployment actually runs. */
  def qDecontaminate(s: SparkSession, d: String): DataFrame =
    decontaminateBloom(Tables.documents(s, d))

  /** Minimal shingle CTE (the full [[Dedup.jaccardCtesSql]] chain would
    * also compute the unused minhash column per doc); probe bound
    * interpolated from [[DefaultProbeMaxId]] so the Spark/SQL pair can't
    * drift. */
  val qDecontaminateSql: String =
    s"""WITH sh AS (SELECT doc_id, ${Dedup.shinglesSqlExpr} AS shg FROM documents),
       |train AS (SELECT doc_id, unnest(shg) AS shingle FROM sh WHERE doc_id >= $DefaultProbeMaxId),
       |probe AS (SELECT doc_id AS probe_id, unnest(shg) AS shingle FROM sh WHERE doc_id < $DefaultProbeMaxId)
       |SELECT t.doc_id,
       |       COUNT(DISTINCT t.shingle) AS n_shared_shingles,
       |       COUNT(DISTINCT p.probe_id) AS n_probe_docs
       |FROM train t JOIN probe p USING (shingle)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** NEAR-DUP-level decontamination default verify threshold: a train
    * doc whose exact word-3-gram Jaccard against any benchmark doc
    * reaches this is flagged. Below the banding grid's reliable-recall
    * range the LSH candidate step (not the verify) bounds what can be
    * found — the same subset semantics as the q13/q58 relations. */
  val NeardupDeconTau = 0.5

  /** Near-duplicate-level decontamination — the third rung of the decon
    * ladder: [[decontaminate]]/q48 catches exact shared shingles,
    * `SubstringDedup.contaminationSpans`/q78 catches verbatim n-gram
    * runs, and THIS catches benchmark documents that were paraphrased
    * or lightly edited into the train set (the standard published
    * practice is n-gram overlap plus a near-dup pass, because light
    * edits defeat exact matching). Candidates come from the SAME
    * MinHash/LSH banding as q13 (per-row narrow signatures; the probe
    * side's bands BROADCAST, so the train corpus never shuffles — q78's
    * shape); candidates are exact-Jaccard verified ([[Dedup
    * .verifyJaccard]], numerics shared with q14) at `tau`. Emits one
    * row per CONTAMINATED train doc: how many benchmark docs it
    * near-duplicates, the smallest such probe id, and the worst
    * Jaccard. */
  def neardupDecontaminate(train: DataFrame, probe: DataFrame,
      tau: Double = NeardupDeconTau): DataFrame = {
    // memoized: `cand` is referenced THREE times below (both ids unions
    // + the verify join) — without the memo each reference re-runs the
    // band join (measured 3x the wall at sf0.1); same lifecycle as the
    // q13 memo (cleared by Dedup.clearShingleCaches at run end). The
    // probe side folds in as a VALUE digest (memoTagOf), not an identity
    // hashCode — identity hashes can collide across distinct probes and
    // would serve one probe's cached candidates for another
    val probeTag = Dedup.memoTagOf(probe)
    val cand = Dedup.memoPersist(train, s"deconCand:$probeTag") { t =>
      val trainB = Dedup.lshBands(t)
      val probeB = Dedup.lshBands(probe)
        .select(col("band"), col("band_hash"), col("doc_id").as("probe_id"))
      trainB.join(broadcast(probeB), Seq("band", "band_hash"))
        .select(col("doc_id").as("doc_a"), col("probe_id").as("doc_b"))
        .distinct()
    }
    val ids = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // candidate ENDPOINTS only pay the shingle-set materialization (the
    // jaccardPairs narrowing); memoized because verifyJaccard references
    // the relation twice (doc_a and doc_b joins)
    val sets = Dedup.memoPersist(train, s"deconSets:$probeTag") { t =>
      t.select(col("doc_id"), col("text"))
        .unionByName(probe.select(col("doc_id"), col("text")))
        .join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          graft.functions.MinHashFns.shingleSet(col("text")).as("sh"))
    }
    Dedup.verifyJaccard(cand, sets)
      .filter(col("jaccard") >= tau)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("n_contaminating_probes"),
        min(col("doc_b")).as("first_probe_id"),
        max(col("jaccard")).as("max_jaccard"))
  }

  /** Benchmark-side fixture for q82 (ids and vocabulary disjoint from
    * the corpus and from the q76/q78 fixtures). */
  val NeardupProbeFixture: Seq[(Long, String)] = Seq(
    (4300000L, (1 to 30).map(i => f"qa$i%02d").mkString(" ")),
    (4300001L, (1 to 25).map(i => f"qb$i%02d").mkString(" ")))

  /** Train-side fixture: an exact benchmark copy (j = 1), a light edit
    * (last token swapped — 27 of 29 distinct 3-gram shingles shared,
    * j = 0.931034: the paraphrase-shaped leak exact decon misses), and
    * a sub-tau 8-token overlap (j = 6/43 ≈ 0.14) that must NOT flag. */
  val NeardupTrainFixture: Seq[(Long, String)] = Seq(
    (4400000L, (1 to 30).map(i => f"qa$i%02d").mkString(" ")),
    (4400001L, ((1 to 29).map(i => f"qa$i%02d") :+ "edited").mkString(" ")),
    (4400002L, ((1 to 8).map(i => f"qb$i%02d") ++
      (1 to 20).map(i => f"zx$i%02d")).mkString(" ")))

  /** q82: the near-dup rung of the decontamination ladder over the
    * q48/q78 probe/train split (organic docs < [[DefaultProbeMaxId]] ∪
    * planted benchmarks vs the rest ∪ planted leaks). */
  def qNeardupDecontaminate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") >= DefaultProbeMaxId)
      .unionByName(NeardupTrainFixture.toDF("doc_id", "text"))
    val probe = docs.filter(col("doc_id") < DefaultProbeMaxId)
      .unionByName(NeardupProbeFixture.toDF("doc_id", "text"))
    neardupDecontaminate(train, probe)
  }

  /** The oracle replays the WHOLE route cross-set: bands over the union
    * source ([[Dedup.bandsCtesSqlFrom]] — q13's replay verbatim), the
    * train×probe band join, the exact-Jaccard verify ([[Dedup
    * .jacCteSql]] — q14's replay verbatim), the tau filter, and the
    * per-train-doc aggregation. */
  val qNeardupDecontaminateSql: String = {
    def vals(fx: Seq[(Long, String)]) =
      fx.map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    s"""WITH probe_src AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < $DefaultProbeMaxId
       |  UNION ALL SELECT * FROM (VALUES ${vals(NeardupProbeFixture)}) p(doc_id, text)),
       |train_src AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id >= $DefaultProbeMaxId
       |  UNION ALL SELECT * FROM (VALUES ${vals(NeardupTrainFixture)}) t(doc_id, text)),
       |src AS (SELECT * FROM probe_src UNION ALL SELECT * FROM train_src),
       |${Dedup.bandsCtesSqlFrom("src")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_hash = b.band_hash
       |  WHERE a.doc_id IN (SELECT doc_id FROM train_src)
       |    AND b.doc_id IN (SELECT doc_id FROM probe_src)),
       |${Dedup.jacCteSql}
       |SELECT doc_a AS doc_id,
       |       COUNT(*)::BIGINT AS n_contaminating_probes,
       |       MIN(doc_b) AS first_probe_id,
       |       MAX(jaccard) AS max_jaccard
       |FROM jac WHERE jaccard >= $NeardupDeconTau
       |GROUP BY doc_a ORDER BY doc_id""".stripMargin
  }

  /** The driver's synthetic sources are perfectly uniform (25 docs each
    * at sf0.01), where the mix gate degenerates to a no-op — so the q53
    * surface first SKEWS the fixture deterministically (halve three
    * sources; the stride predicate is on `doc_id div 20` because ids are
    * round-robin over sources, so a plain parity test would empty one
    * source and leave the rest untouched) and then mixes: the oracle run
    * exercises real gating, not just the pass-through path. */
  def qMixCorpus(s: SparkSession, d: String): DataFrame =
    mixCorpus(Tables.documents(s, d).filter(
      !(col("source").isin("src0", "src1", "src2") &&
        expr("(doc_id div 20) % 2 = 1"))))

  /** The oracle recomputes the skew, counts, integer thresholds, and the
    * same md5-derived hash gate — the kept set must match row for row. */
  val qMixCorpusSql: String =
    """WITH skewed AS (
      |  SELECT doc_id, source FROM documents
      |  WHERE NOT (source IN ('src0','src1','src2') AND (doc_id // 20) % 2 = 1)),
      |counts AS (SELECT source, COUNT(*) AS n FROM skewed GROUP BY source),
      |rates AS (
      |  SELECT source,
      |         ((SELECT MIN(n) FROM counts) * CAST(1000000 AS BIGINT)) // n AS thresh
      |  FROM counts)
      |SELECT d.doc_id, d.source
      |FROM skewed d JOIN rates USING (source)
      |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < rates.thresh
      |ORDER BY d.doc_id""".stripMargin

  def qCorpusFilter(s: SparkSession, d: String): DataFrame =
    corpusFilter(Tables.documents(s, d))

  /** Composed oracle: the q37 closure chain labels clusters over ALL
    * docs; the q8 / q9 statements run as subqueries for quality and
    * predicted language; the keep-list is the minimum GATED member per
    * cluster — gate-first, exactly like [[corpusFilter]]. */
  val qCorpusFilterSql: String = {
    val langList = KeepLangs.map(l => s"'$l'").mkString(", ")
    s"""WITH RECURSIVE ${Dedup.jaccardCtesSql},
       |${Dedup.clusterCtesSql},
       |qual AS (SELECT doc_id, n_chars, n_tokens, quality
       |         FROM (${TextAnalysis.qQualityScoreSql}) ),
       |pl AS (SELECT doc_id, pred_lang FROM (${TextAnalysis.qLangIdSql}) ),
       |gated AS (
       |  SELECT d.doc_id, d.lang, pl.pred_lang, qual.quality,
       |         qual.n_tokens, qual.n_chars, lab.cluster_id
       |  FROM documents d
       |  JOIN qual USING (doc_id)
       |  JOIN pl USING (doc_id)
       |  JOIN lab USING (doc_id)
       |  WHERE qual.quality >= $MinQuality AND d.lang IN ($langList)),
       |keep AS (
       |  SELECT cluster_id, MIN(doc_id) AS keep_id, COUNT(*) AS cluster_size
       |  FROM gated GROUP BY 1)
       |SELECT g.doc_id, g.lang, g.pred_lang, g.quality,
       |       g.n_tokens, g.n_chars, keep.cluster_size
       |FROM gated g JOIN keep USING (cluster_id)
       |WHERE g.doc_id = keep.keep_id
       |ORDER BY g.doc_id""".stripMargin
  }

  // ---- q95: the trained-model budget gate ---------------------------------

  /** Bound on the MEAN per-source |model budget − weak budget| (tokens,
    * at [[QualityMixBase]]) for q95's `budget_within_bound`. Per-source
    * booleans cannot separate an honest fit from a broken one (an
    * inverted model's delta is 0 for any source whose holdout weak rate
    * sits at 0.5 — measured: half the sources at sf0.001), so the gate
    * is the AGGREGATE deviation. Measured (Q95Probe, r20; its sf0.01 rows are
    * bench/Q95_PROBE_r22.txt): honest
    * fit 31.9 / 26.1 / 26.0 mean tokens at sf0.001 / 0.01 / 0.1;
    * train-inverted fit 231 / 307 / 112. Margin 75 ≈ 2.5× the honest
    * ceiling and 1.5× under the worst inverted reading; fit
    * non-determinism (treeAggregate float order) moves a boundary
    * prediction by at most one doc per source — ≤ 10 mean tokens at the
    * smallest gated holdout, well inside. */
  val ModelBudgetMargin = 75.0

  /** q95 — the q86 deployment swap-in, gated: per-source token budgets
    * from the TRAINED model's holdout pass rate, proven within
    * [[ModelBudgetMargin]] of the weak-label budgets (the q83 recipe:
    * the relation carries only the oracle-replayable weak derivation —
    * holdout counts, weak budgets — plus the boolean the oracle pins
    * TRUE; the model's rates go to stderr, never the relation). Both
    * rates are measured on the HOLDOUT split — the only population
    * where the model's rate is honest (train rates are fit echoes).
    *
    * Scale shape: one fused quality pass for the labels (the q83
    * derivation, memoized), one model scoring pass over the holdout,
    * one per-source aggregate — the per-source relation is
    * sources-sized (a curated list, dozens at deployment), so the gate
    * reduction is a driver fold over a collected handful of rows. */
  private[graft] def modelBudgetGateFrom(docs: DataFrame, lab: DataFrame,
      base: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (model, asm) = QualityModel.fit(lab)
    val per = model.transform(asm.transform(
        lab.filter(col("split") === "holdout")))
      .select(col("doc_id"), col("weak_label"),
        (col("prediction") === 1.0).cast("long").as("pred_pos"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_holdout"),
        sum(col("weak_label")).as("n_weak_pos"),
        sum(col("pred_pos")).as("n_model_pos"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val meanDelta = per.map { case (_, n, w, m) =>
      math.abs(base * w / n - base * m / n).toDouble }.sum / per.length
    val pass = meanDelta <= ModelBudgetMargin
    System.err.println(f"[quality] q95 mean |model-weak| budget delta = " +
      f"$meanDelta%.1f tokens over ${per.length} sources " +
      f"(margin $ModelBudgetMargin, pass=$pass)")
    per.toSeq.map { case (s, n, w, _) =>
      (s, n, w, base * w / n, pass) }
      .toDF("source", "n_holdout", "n_weak_pos", "weak_budget_tokens",
        "budget_within_bound")
  }

  def qModelBudgetGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val lab = Dedup.memoPersist(docs, "q83labeled")(QualityModel.labeled)
    modelBudgetGateFrom(docs, lab, QualityMixBase)
  }

  /** Oracle: replay the weak side exactly (q83's labels + md5 split,
    * per-source holdout counts, integer budget), pin the gate TRUE.
    * NOTE: DuckDB types `SUM(BIGINT)` as HUGEINT and `//` keeps it, so any
    * SUM-derived integer column MUST carry `CAST(... AS BIGINT)` or it
    * materializes as float64 and the hash compare fails (q95 r20 bug). */
  val qModelBudgetGateSql: String =
    s"""WITH qrel AS (${TextAnalysis.qualityScoreNoOrderSql}),
       |thr AS (SELECT quantile_cont(quality, ${QualityModel.LoQuantile}) AS lo,
       |               quantile_cont(quality, ${QualityModel.HiQuantile}) AS hi FROM qrel),
       |lab AS (
       |  SELECT q.doc_id,
       |         (CASE WHEN q.quality >= t.hi THEN 1 ELSE 0 END)::BIGINT AS weak_label
       |  FROM qrel q CROSS JOIN thr t
       |  WHERE q.quality <= t.lo OR q.quality >= t.hi),
       |hold AS (
       |  SELECT l.doc_id, l.weak_label, d.source
       |  FROM lab l JOIN documents d USING (doc_id)
       |  WHERE substr(md5(CAST(l.doc_id AS VARCHAR)), 1, 1) >= '8')
       |SELECT source, COUNT(*)::BIGINT AS n_holdout,
       |       SUM(weak_label)::BIGINT AS n_weak_pos,
       |       CAST($QualityMixBase * SUM(weak_label) // COUNT(*) AS BIGINT)
       |         AS weak_budget_tokens,
       |       TRUE AS budget_within_bound
       |FROM hold GROUP BY source ORDER BY source""".stripMargin

  // ---- q94: the composed curation ladder ---------------------------------

  /** Shards the curation ladder exports (divides 256 — uniform). */
  val CurateShards = 8

  /** The END-TO-END curation pipeline (q94): every rung of the
    * engine's ladder composed into ONE audit relation, each stage
    * consuming the previous stage's survivors — the proof the rungs
    * COMPOSE, where every individual query (q92, q37, q78, q83, q74,
    * q55) re-derives from raw `documents`. Output: exactly one row per
    * input doc with its disposition —
    *
    *   1. `fold_dup`       — NFKC-casefold exact dedup (q89 → q92):
    *                         byte-distinct case/width/ligature variants
    *                         collapse; the min-id rep survives
    *   2. `near_dup`       — LSH-banded near-dup clusters (q37): the
    *                         min-id rep (= the cluster id) survives
    *   3. `contaminated`   — shares a ≥ k-token window with the
    *                         benchmark probe (q78's kernel, the
    *                         DedupStream decon-gate flag rule)
    *   4. `low_quality`    — quality ≤ the survivors' [[QualityModel
    *                         .LoQuantile]] percentile (q83's weak-fail
    *                         band, thresholds computed on THIS stage's
    *                         input)
    *   5. `over_budget`    — q74's per-source token-budget fill in
    *                         md5-hash order
    *   6. `kept`           — split + shard (q55's doc-keyed rule,
    *                         which IS cluster-safe here: after rung 2
    *                         every survivor is its near-dup cluster's
    *                         sole remaining member, so doc id ≡
    *                         cluster id)
    *
    * `dup_of` carries the kept representative for the two dedup rungs;
    * split/shard are set only for `kept`. Scale shape: a linear chain
    * of the component operators' own shapes (each already argued at
    * its home query) — one fold projection + fixed-key aggregate, the
    * banded clustering, a broadcast probe join, one fused quality
    * pass, the blocked prefix-sum fill, and a narrow hash projection;
    * survivors are pinned once per stage so the six disposition
    * branches never re-run an upstream rung. */
  def curate(docs: DataFrame, probe: DataFrame,
      budgetTokens: Long = TokenMixBudget,
      numShards: Int = CurateShards): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nullL = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    def disp(df: DataFrame, d: String, dupOf: Column = lit(null).cast("long")) =
      df.select(col("doc_id"), lit(d).as("disposition"), dupOf.as("dup_of"),
        nullS.as("split"), nullL.as("shard"))
    // rung 1 — fold-key exact dedup
    val r1 = graft.Checkpoints.pin(docs
      .withColumn("fold_md5",
        md5(graft.functions.NormalizeFns.nfkcCasefold(col("text"))))
      .withColumn("keep1",
        min(col("doc_id")).over(Window.partitionBy(col("fold_md5")))))
    val dFold = disp(r1.filter(col("doc_id") =!= col("keep1")), "fold_dup",
      dupOf = col("keep1"))
    val s1 = r1.filter(col("doc_id") === col("keep1"))
      .select(col("doc_id"), col("source"), col("text"))
    // rung 2 — near-dup cluster prune (rep = min member = cluster id)
    val lab = Dedup.duplicateClusters(s1.select(col("doc_id"), col("text")))
    val dNear = disp(lab.filter(col("doc_id") =!= col("cluster_id")),
      "near_dup", dupOf = col("cluster_id"))
    val s2 = graft.Checkpoints.pin(s1.join(
      lab.filter(col("doc_id") === col("cluster_id")).select("doc_id"),
      Seq("doc_id")))
    // rung 3 — benchmark decontamination (any shared k-window flags)
    val flagged = SubstringDedup.contaminationSpans(s2, probe)
      .select(col("train_doc").as("doc_id")).distinct()
    val dCont = disp(s2.join(broadcast(flagged), Seq("doc_id")),
      "contaminated")
    val s3 = graft.Checkpoints.pin(
      s2.join(broadcast(flagged), Seq("doc_id"), "left_anti"))
    // rung 4 — quality floor at the survivors' lo percentile
    val s3q = graft.Checkpoints.pin(s3.join(
      TextAnalysis.qualityScore(s3).select(col("doc_id"), col("quality")),
      Seq("doc_id")))
    val lo = s3q.agg(
      expr(s"percentile(quality, ${QualityModel.LoQuantile})")).head()
      .getDouble(0)
    val dLow = disp(s3q.filter(col("quality") <= lo), "low_quality")
    val s4 = s3q.filter(col("quality") > lo)
    // rung 5 — per-source token budget in md5-hash order (q74's fill)
    val cum = graft.Checkpoints.pin(withCumBefore(s4,
      size(graft.functions.TextFns.wsTokens(col("text"))).cast("long")))
    val dBud = disp(cum.filter(col("cum_before") >= budgetTokens),
      "over_budget")
    // rung 6 — split + shard for the kept corpus
    val dKept = cum.filter(col("cum_before") < budgetTokens)
      .withColumn("hx2", md5(col("doc_id").cast("string")))
      .select(col("doc_id"), lit("kept").as("disposition"),
        nullL.as("dup_of"),
        SplitPins.nibbleSplit(col("doc_id")).as("split"),
        expr("CAST(pmod((instr('0123456789abcdef', substring(hx2, 2, 1)) - 1) * 16" +
          s" + instr('0123456789abcdef', substring(hx2, 3, 1)) - 1, $numShards)" +
          " AS BIGINT)").as("shard"))
    val out = graft.Checkpoints.pin(
      dFold.unionByName(dNear).unionByName(dCont).unionByName(dLow)
        .unionByName(dBud).unionByName(dKept))
    Seq(r1, s2, s3, s3q, cum).foreach(graft.Checkpoints.free)
    out
  }

  /** q94 over documents ∪ the fold-dup and contaminated-train fixtures
    * (each rung's planted case visible in the output), with the
    * benchmark fixture as the decon probe. */
  def qCurate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
      .unionByName(TextAnalysis.FoldedDedupFixture
        .map { case (id, t, _) => (id, "fixture", t) }
        .toDF("doc_id", "source", "text"))
      .unionByName(SubstringDedup.ContaminatedTrainFixture
        .map { case (id, t) => (id, "fixture", t) }
        .toDF("doc_id", "source", "text"))
    val probe = SubstringDedup.BenchmarkFixture.toDF("doc_id", "text")
    curate(docs, probe)
  }

  /** Oracle: the SAME six-rung composition as CTEs — every fragment is
    * a component query's established replay (q92's declared folds,
    * q37's closure chain over the stage-1 survivors, q78's window
    * join, q8's quality statement as a subquery with q83's
    * quantile_cont threshold, q74's per-source window fill, q55's
    * nibble split/shard). */
  val qCurateSql: String = {
    def esc(t: String) = t.replace("'", "''")
    val fxVals = (TextAnalysis.FoldedDedupFixture
        .map { case (id, raw, folded) => (id, raw, folded) } ++
      SubstringDedup.ContaminatedTrainFixture
        .map { case (id, t) => (id, t, t.toLowerCase(java.util.Locale.ROOT)) })
      .map { case (id, raw, folded) =>
        s"($id, 'fixture', '${esc(raw)}', '${esc(folded)}')" }
      .mkString(", ")
    val probeVals = SubstringDedup.BenchmarkFixture
      .map { case (id, t) => s"($id, '${esc(t)}')" }.mkString(", ")
    val k = SubstringDedup.ContaminationK
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, source, text, lower(nfc_normalize(text)) AS folded
       |  FROM documents
       |  UNION ALL SELECT * FROM (VALUES $fxVals)
       |    cfx(doc_id, source, text, folded)),
       |fg AS (SELECT doc_id, source, text,
       |              MIN(doc_id) OVER (PARTITION BY md5(folded)) AS keep1
       |       FROM corpus),
       |s1 AS (SELECT doc_id, source, text FROM fg WHERE doc_id = keep1),
       |${Dedup.jaccardCtesSqlFrom("s1")},
       |${Dedup.clusterCtesSqlFrom("s1")},
       |s2 AS (SELECT s1.doc_id, s1.source, s1.text
       |       FROM s1 JOIN lab USING (doc_id) WHERE lab.cluster_id = s1.doc_id),
       |pbm AS (SELECT * FROM (VALUES $probeVals) p(doc_id, text)),
       |${SubstringDedup.windowCtesSql("s2", k, "c")},
       |${SubstringDedup.windowCtesSql("pbm", k, "p")},
       |flag AS (SELECT DISTINCT c.doc_id FROM cwins c JOIN pwins p ON c.wh = p.wh),
       |s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM flag)),
       |qq AS (SELECT doc_id, quality
       |       FROM (${TextAnalysis.qualityScoreSqlFrom("s3")})),
       |thr AS (SELECT quantile_cont(quality, ${QualityModel.LoQuantile}) AS lo
       |        FROM qq),
       |s4 AS (SELECT s3.doc_id, s3.source, s3.text
       |       FROM s3 JOIN qq USING (doc_id) CROSS JOIN thr
       |       WHERE qq.quality > thr.lo),
       |cc AS (SELECT doc_id, source, hx,
       |              SUM(n_tokens) OVER (PARTITION BY source ORDER BY hx, doc_id
       |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |                - n_tokens AS cum_before
       |       FROM (SELECT doc_id, source,
       |                    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |                    md5(CAST(doc_id AS VARCHAR)) AS hx
       |             FROM s4)),
       |dispo AS (
       |  SELECT doc_id, 'fold_dup' AS disposition, keep1 AS dup_of,
       |         NULL::VARCHAR AS split, NULL::BIGINT AS shard
       |  FROM fg WHERE doc_id <> keep1
       |  UNION ALL SELECT s1.doc_id, 'near_dup', lab.cluster_id, NULL, NULL
       |  FROM s1 JOIN lab USING (doc_id) WHERE lab.cluster_id <> s1.doc_id
       |  UNION ALL SELECT doc_id, 'contaminated', NULL, NULL, NULL FROM flag
       |  UNION ALL SELECT qq.doc_id, 'low_quality', NULL, NULL, NULL
       |  FROM qq CROSS JOIN thr WHERE qq.quality <= thr.lo
       |  UNION ALL SELECT doc_id, 'over_budget', NULL, NULL, NULL
       |  FROM cc WHERE cum_before >= $TokenMixBudget
       |  UNION ALL SELECT doc_id, 'kept', NULL,
       |         CASE WHEN substr(hx, 1, 1) IN ('c', 'd') THEN 'val'
       |              WHEN substr(hx, 1, 1) IN ('e', 'f') THEN 'test'
       |              ELSE 'train' END,
       |         CAST(((strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16
       |               + strpos('0123456789abcdef', substr(hx, 3, 1)) - 1)
       |              % $CurateShards AS BIGINT)
       |  FROM cc WHERE cum_before < $TokenMixBudget)
       |SELECT doc_id, disposition, dup_of, split, shard
       |FROM dispo ORDER BY doc_id""".stripMargin
  }
}
