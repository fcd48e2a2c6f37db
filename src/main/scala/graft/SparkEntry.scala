package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine._
import graft.operators.{Corpus, Dedup, Events, Multimodal, Similarity, TextAnalysis, Vocab}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (or a §7/8 scale
  * extension) exercised on the driver's star schema; `oracleSql` holds the
  * equivalent DuckDB SQL over the same parquet tables. Column names and
  * dtypes are aligned between both sides (the driver's compare sorts
  * columns by name and hashes values).
  *
  * A query returns a relation: its row order is not part of its
  * contract. The driver, `tools/localcheck.py` and perfbench all compare
  * rows order-free, so a query sorts only where the order decides which
  * rows it returns (`ORDER BY … LIMIT`, planned as TakeOrderedAndProject).
  * A caller that needs ordered rows sorts them itself.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    StarQueries.arrestPctTopk(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_count_by_type"  -> (StarQueries.countByType _),
    "q2_violent_filter" -> (StarQueries.violentFilter _),
    "q3_arrest_pct_topk" -> (StarQueries.arrestPctTopk _),
    "q4_fixed_dates"    -> (StarQueries.fixedDates _),
    "q5_partition_derive" -> (StarQueries.partitionDerive _),
    "q6_topk_window"    -> (StarQueries.topkWindow _),
    "q7_token_stats"    -> (TextAnalysis.qTokenStats _),
    "q8_quality_score"  -> (TextAnalysis.qQualityScore _),
    "q9_lang_id"        -> (TextAnalysis.qLangId _),
    "q10_fingerprint"   -> (TextAnalysis.qFingerprint _),
    "q11_dedup_exact"   -> (Dedup.qExact _),
    "q12_minhash_sig"   -> (Dedup.qMinhash _),
    "q13_lsh_pairs"     -> (Dedup.qLshPairs _),
    "q14_jaccard_pairs" -> (Dedup.qJaccardPairs _),
    "q15_simhash"       -> (Dedup.qSimhash _),
    "q16_embed_neardup" -> (Dedup.qEmbedNearDups _),
    "q17_cosine_topk"   -> (Similarity.qCosineTopK _),
    "q18_ann_lsh"       -> (Similarity.qAnnLsh _),
    "q19_event_windows" -> (Events.qHourlyWindows _),
    "q20_json_extract"  -> (Events.qJsonExtract _),
    "q21_sessionize"    -> (Events.qSessionize _),
    "q22_asof_join"     -> (Events.qAsOfJoin _),
    "q23_media_features" -> (Multimodal.qMediaFeatures _),
    "q24_frame_sample"  -> (Multimodal.qFrameSample _),
    "q25_pricing_summary" -> (PricingQueries.pricingSummary _),
    "q26_shipping_priority" -> (PricingQueries.shippingPriority _),
    "q27_schema_drift_union" -> (PricingQueries.schemaDriftUnion _),
    "q28_distinct_counts" -> (PricingQueries.distinctCounts _),
    "q29_length_percentiles" -> (TextAnalysis.qLengthPercentiles _),
    "q30_stratified_sample" -> (TextAnalysis.qStratifiedSample _),
    "q31_ann_ivf"       -> (Similarity.qAnnIvf _),
    "q32_approx_aggs"   -> (PricingQueries.approxAggregates _),
    "q33_range_join"    -> (Events.qRangeJoin _),
    "q34_lookup_join"   -> (Catalogs.lookupJoin _),
    "q35_ann_ivf_kmeans" -> (Similarity.qAnnIvfKmeans _),
    "q36_simhash_pairs" -> (Dedup.qSimhashPairs _),
    "q37_dup_clusters"  -> (Dedup.qDupClusters _),
    "q38_corpus_filter" -> (Corpus.qCorpusFilter _),
    "q39_vocab_df"      -> (Vocab.qVocabDf _),
    "q40_tfidf_topk"    -> (Vocab.qTfidfTopK _),
    "q41_top_bigrams"   -> (Vocab.qTopBigrams _),
    "q42_region_volume" -> (PricingQueries.regionVolume(_, _)),
    "q43_pq_topk"       -> (Similarity.qAnnPq _),
    "q44_ann_recall"    -> (Similarity.qAnnRecall _),
    "q56_ann_ivfpq"     -> (Similarity.qAnnIvfPq _),
    "q45_profile"       -> (graft.operators.Profile.qProfile _),
    "q46_seq_packing"   -> (graft.operators.Sequencing.qPackSequences _),
    "q47_token_chunks"  -> (graft.operators.Sequencing.qChunkTokens _),
    "q48_decontaminate" -> (Corpus.qDecontaminate _),
    "q49_repetition"    -> (TextAnalysis.qRepetition _),
    "q50_source_stats"  -> (Corpus.qSourceStats _),
    "q51_incremental_dedup" -> (graft.operators.IncrementalDedup.qIncremental _),
    "q52_simhash_salted" -> (Dedup.qSimhashPairsSalted _),
    "q53_corpus_mix"    -> (Corpus.qMixCorpus _),
    "q54_dedup_chain"   -> (graft.streaming.DedupStream.qChainBucketed _),
    "q55_shuffle_shard" -> (Corpus.qShuffleShard _),
    "q57_lsh_salted"    -> (Dedup.qLshPairsSalted _),
    "q58_neardup_lsh"   -> (Dedup.qEmbedNearDupsLsh _),
    "q59_ann_ivfpq_learned" -> (Similarity.qAnnIvfPqLearned _),
    "q60_ann_refined"   -> (Similarity.qAnnRefined _),
    "q61_embed_clusters" -> (Dedup.qEmbedClusters _),
    "q62_incr_embed_dedup" -> (graft.operators.EmbeddingIncremental.qIncremental _),
    "q63_embed_chain"   -> (graft.streaming.EmbedStream.qEmbedChain _),
    "q64_bpe_pack"      -> (graft.operators.Bpe.qBpePack _),
    "q65_bpe_chunks"    -> (graft.operators.Bpe.qBpeChunk _),
    "q66_media_decode"  -> (Multimodal.qMediaDecode _),
    "q67_bpe_vocab"     -> (graft.operators.Bpe.qBpeVocab _),
    "q68_neardup_multiprobe" -> (Dedup.qEmbedNearDupsMultiProbe _),
    "q69_ann_lsh_multiprobe" -> (Similarity.qAnnLshMultiProbe _),
    "q70_ann_refined_deep" -> (Similarity.qAnnRefinedDeep _),
    "q71_neardup_autogrid" -> (Dedup.qEmbedNearDupsAutoGrid _),
    "q72_bpe_unicode"   -> (graft.operators.Bpe.qBpeUnicode _),
    "q73_pii_scrub"     -> (graft.operators.Pii.qPiiScrub _),
    "q74_token_budget_mix" -> (Corpus.qTokenBudgetMix _),
    "q75_pcm_stats"     -> (Multimodal.qPcmStats _),
    "q76_substring_dedup" -> (graft.operators.SubstringDedup.qSubstringDedup _),
    "q77_schema_drift_audit" -> (graft.sources.Ingest.qSchemaDriftAudit _),
    "q78_ngram_contamination" -> (graft.operators.SubstringDedup.qNgramContamination _),
    "q79_media_quarantine" -> (Multimodal.qMediaQuarantine _),
    "q80_compressed_audio" -> (Multimodal.qCompressedAudio _),
    "q81_semantic_dedup" -> (Dedup.qSemanticDedup _),
    "q82_neardup_decon" -> (Corpus.qNeardupDecontaminate _),
    "q83_quality_classifier" ->
      (graft.operators.QualityModel.qQualityClassifier _),
    "q84_unicode_normalize" -> (TextAnalysis.qUnicodeNormalize _),
    "q85_incr_substring" ->
      (graft.operators.SubstringDedup.qIncrementalSubstring _),
    "q86_quality_weighted_mix" -> (Corpus.qQualityWeightedMix _),
    "q87_router_recall_gate" -> (Dedup.qRouterRecallGate _),
    "q88_cms_heavy_hitters" ->
      (graft.operators.HeavyHitters.qCmsHeavyHitters _),
    "q89_nfkc_casefold" -> (TextAnalysis.qNfkcCasefold _),
    "q90_incr_cms" ->
      (graft.operators.HeavyHitters.qCmsIncremental _),
    "q91_cluster_safe_split" -> (Corpus.qClusterSafeSplit _),
    "q92_folded_dedup" -> (TextAnalysis.qFoldedDedup _),
    "q93_pinned_split" -> (graft.operators.SplitPins.qPinnedSplit _),
    "q94_curate" -> (Corpus.qCurate _),
    "q95_model_budget_gate" -> (Corpus.qModelBudgetGate _),
    "q96_flac_pcm_stats" -> (graft.operators.Multimodal.qFlacPcmStats _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_count_by_type"  -> StarQueries.countByTypeSql,
    "q2_violent_filter" -> StarQueries.violentFilterSql,
    "q3_arrest_pct_topk" -> StarQueries.arrestPctTopkSql,
    "q4_fixed_dates"    -> StarQueries.fixedDatesSql,
    "q5_partition_derive" -> StarQueries.partitionDeriveSql,
    "q6_topk_window"    -> StarQueries.topkWindowSql,
    "q7_token_stats"    -> TextAnalysis.qTokenStatsSql,
    "q8_quality_score"  -> TextAnalysis.qQualityScoreSql,
    "q9_lang_id"        -> TextAnalysis.qLangIdSql,
    "q10_fingerprint"   -> TextAnalysis.qFingerprintSql,
    "q11_dedup_exact"   -> Dedup.qExactSql,
    "q12_minhash_sig"   -> Dedup.qMinhashSql,
    "q13_lsh_pairs"     -> Dedup.qLshPairsSql,
    "q14_jaccard_pairs" -> Dedup.qJaccardPairsSql,
    "q15_simhash"       -> Dedup.qSimhashSql,
    "q16_embed_neardup" -> Dedup.qEmbedNearDupsSql,
    "q17_cosine_topk"   -> Similarity.qCosineTopKSql,
    "q18_ann_lsh"       -> Similarity.qAnnLshSql,
    "q19_event_windows" -> Events.qHourlyWindowsSql,
    "q20_json_extract"  -> Events.qJsonExtractSql,
    "q21_sessionize"    -> Events.qSessionizeSql,
    "q22_asof_join"     -> Events.qAsOfJoinSql,
    "q23_media_features" -> Multimodal.qMediaFeaturesSql,
    "q24_frame_sample"  -> Multimodal.qFrameSampleSql,
    "q25_pricing_summary" -> PricingQueries.pricingSummarySql,
    "q26_shipping_priority" -> PricingQueries.shippingPrioritySql,
    "q27_schema_drift_union" -> PricingQueries.schemaDriftUnionSql,
    "q28_distinct_counts" -> PricingQueries.distinctCountsSql,
    "q29_length_percentiles" -> TextAnalysis.qLengthPercentilesSql,
    "q30_stratified_sample" -> TextAnalysis.qStratifiedSampleSql,
    "q31_ann_ivf"       -> Similarity.qAnnIvfSql,
    // q32 emits its deterministic derivative (exact values + within-bound
    // booleans); the oracle recomputes the exacts and pins booleans TRUE.
    "q32_approx_aggs"   -> PricingQueries.approxAggregatesSql,
    "q33_range_join"    -> Events.qRangeJoinSql,
    "q34_lookup_join"   -> Catalogs.lookupJoinSql,
    "q36_simhash_pairs" -> Dedup.qSimhashPairsSql,
    "q37_dup_clusters"  -> Dedup.qDupClustersSql,
    "q38_corpus_filter" -> Corpus.qCorpusFilterSql,
    "q39_vocab_df"      -> Vocab.qVocabDfSql,
    "q40_tfidf_topk"    -> Vocab.qTfidfTopKSql,
    "q41_top_bigrams"   -> Vocab.qTopBigramsSql,
    "q42_region_volume" -> PricingQueries.regionVolumeSql,
    "q43_pq_topk"       -> Similarity.qAnnPqSql,
    "q44_ann_recall"    -> Similarity.qAnnRecallSql,
    "q56_ann_ivfpq"     -> Similarity.qAnnIvfPqSql,
    "q45_profile"       -> graft.operators.Profile.qProfileSql,
    "q46_seq_packing"   -> graft.operators.Sequencing.qPackSequencesSql,
    "q47_token_chunks"  -> graft.operators.Sequencing.qChunkTokensSql,
    "q48_decontaminate" -> Corpus.qDecontaminateSql,
    "q49_repetition"    -> TextAnalysis.qRepetitionSql,
    "q50_source_stats"  -> Corpus.qSourceStatsSql,
    "q51_incremental_dedup" -> graft.operators.IncrementalDedup.qIncrementalSql,
    // q52 is q36's salted twin: SAME brute-force oracle — equality proves
    // the salt grid decomposes the band join exactly
    "q52_simhash_salted" -> Dedup.qSimhashPairsSql,
    // q35 emits its deterministic derivative (per-query recall@k >= floor
    // vs the brute-force ground truth); the oracle pins the boolean TRUE.
    "q35_ann_ivf_kmeans" -> Similarity.qAnnIvfKmeansSql,
    "q53_corpus_mix"    -> Corpus.qMixCorpusSql,
    "q54_dedup_chain"   -> graft.streaming.DedupStream.qChainBucketedSql,
    "q55_shuffle_shard" -> Corpus.qShuffleShardSql,
    // q57 shares q13's oracle VERBATIM: equality proves the salt grid is
    // an exact decomposition of the band self-join (the q52↔q36 pattern)
    "q57_lsh_salted"    -> Dedup.qLshPairsSql,
    // q58 is the LSH-prefiltered twin of q16: the oracle replays the md5
    // hyperplane grid, bucket collisions, and exact-cosine verify, so the
    // hash pins the whole two-stage route (subset-of-q16 semantics).
    "q58_neardup_lsh"   -> Dedup.qEmbedNearDupsLshSql,
    // q59 follows q35's pattern: learned models aren't engine-portable,
    // so the oracle pins the per-query recall-floor boolean TRUE.
    "q59_ann_ivfpq_learned" -> Similarity.qAnnIvfPqLearnedSql,
    // q60 is fully deterministic (seed IVF-PQ probe + ADC shortlist +
    // exact re-rank), so it gets a complete hash oracle
    "q60_ann_refined"   -> Similarity.qAnnRefinedSql,
    // q61 closes q58's pair relation into components via the q37
    // recursive-CTE pattern — the whole chain stays hash-replayable
    "q61_embed_clusters" -> Dedup.qEmbedClustersSql,
    // q62 shares q61's oracle VERBATIM: incremental admission over the
    // 80/20 split must equal the batch clustering of the full corpus
    "q62_incr_embed_dedup" -> graft.operators.EmbeddingIncremental.qIncrementalSql,
    // q63 streams two day drops through the PERSISTED LSM store (the
    // day-2 commit folds) — q61's closure oracle, source-parameterized
    // to the capped subset
    "q63_embed_chain"   -> graft.streaming.EmbedStream.qEmbedChainSql,
    // q64/q65 are q46/q47 budgeted in MODEL-TOKENIZER tokens: the oracle
    // re-tokenizes every distinct word with a recursive CTE replaying the
    // committed BPE merge table (one lowest-ranked leftmost merge per
    // step), so the full token stream — not just counts — is hash-pinned
    "q64_bpe_pack"      -> graft.operators.Bpe.qBpePackSql,
    "q65_bpe_chunks"    -> graft.operators.Bpe.qBpeChunkSql,
    // q66 decodes REAL PNG/JPEG/WAV headers: the generator writes
    // dims/audio params derived from media_id into genuine
    // signature/IHDR/SOF/RIFF byte layouts, the engine parses them
    // back, and the oracle re-derives them from media_id independently
    "q66_media_decode"  -> Multimodal.qMediaDecodeSql,
    // q67 re-uses q64/q65's recursive-CTE tokenizer replay: per-token
    // corpus occurrences + document frequency, top-K
    "q67_bpe_vocab"     -> graft.operators.Bpe.qBpeVocabSql,
    // q68 = q58's route with 2-probe multi-probe expansion: the oracle
    // replays the projections, the smallest-margin plane selection, and
    // the XOR bucket flips, so the full recall lever is hash-pinned
    "q68_neardup_multiprobe" -> Dedup.qEmbedNearDupsMultiProbeSql,
    // q69 = query-time multi-probe over q18's UNCHANGED corpus buckets —
    // the no-reindex recall lever for the stored/indexed ANN side
    "q69_ann_lsh_multiprobe" -> Similarity.qAnnLshMultiProbeSql,
    // q70 = q60's persisted IVF-PQ + refine at the DEEP shortlist (the
    // measured fix: the probe term reads 0.97 at the same 4 cells, the
    // 50-cut was what held recall at 0.70 — deepening to 200 costs zero
    // extra ADC scan and reads 0.96/0.90-min recall@10)
    "q70_ann_refined_deep" -> Similarity.qAnnRefinedDeepSql,
    // q71 = the near-dup ROUTER's default LSH arm (16 tables x 10
    // planes + 2 probes, the measured Pareto grid) — the production
    // route is itself hash-replayed, through the same LshSql renderer
    // as q58/q68
    "q71_neardup_autogrid" -> Dedup.qEmbedNearDupsAutoGridSql,
    // q72 = the tokenizer's OOV/non-ASCII contract, driver-gated: the
    // recursive-CTE merge replay runs over corpus rows UNION a
    // unicode fixture (CJK/Cyrillic/accents/non-BMP emoji) — DuckDB
    // splits words into Unicode characters, the engine into code
    // points, and the full (doc_id, pos, token) hash must agree
    "q72_bpe_unicode"   -> graft.operators.Bpe.qBpeUnicodeSql,
    // q73 = PII detect + redact over corpus rows UNION a planted
    // fixture: ONE portable (Java regex ∩ RE2) pattern list drives both
    // engines; the hash pins counts AND every replacement byte
    "q73_pii_scrub"     -> graft.operators.Pii.qPiiScrubSql,
    // q74 = token-budgeted corpus mix: per-source budget filled in
    // portable md5 hash order; the oracle's plain per-source window
    // must equal the engine's hash-prefix-blocked prefix sum exactly
    "q74_token_budget_mix" -> Corpus.qTokenBudgetMixSql,
    // q75 = real PCM sample decode of the wav payloads: the oracle
    // reassembles every little-endian sample from the payload's hex
    // pairs at the declared depth (8-bit unsigned-offset, else two's
    // complement) and recomputes mean/peak/RMS on exact integer sums
    "q75_pcm_stats"     -> Multimodal.qPcmStatsSql,
    // q76 = exact-substring dedup (the Lee-et-al family): k-token
    // windows → md5 window-hash equi-join → island-merged maximal
    // spans; the oracle replays windows, matches, and merges, so the
    // hash pins every span's pair, offsets, and length
    "q76_substring_dedup" -> graft.operators.SubstringDedup.qSubstringDedupSql,
    // q77 = the crawler DEPRECATE policy as a relation: engine infers
    // per-file schemas from really-landed CSV samples and audits them;
    // the oracle replays the drift map + distributed per-day recounts
    "q77_schema_drift_audit" -> graft.sources.Ingest.qSchemaDriftAuditSql,
    // q78 = n-gram-overlap decontamination at substring granularity
    // (q48's probe/train split, but naming WHERE contamination sits
    // and HOW LONG it runs) — same window kernel, probe side broadcast
    "q78_ngram_contamination" ->
      graft.operators.SubstringDedup.qNgramContaminationSql,
    // q79 = the decode dead-letter audit: per (format, failure class)
    // counts + bytes over corpus media ∪ a malformed-bytes fixture
    // covering every quarantine class; engine classifies from bytes,
    // oracle replays each blob's declared class
    "q79_media_quarantine" -> Multimodal.qMediaQuarantineSql,
    // q80 = compressed-audio container audit: the engine walks real
    // MPEG-1 Layer III frame chains (every hop header-validated, walk
    // must land exactly on EOF) and bit-unpacks real FLAC STREAMINFO
    // blocks; the oracle replays the generator's doc_id arithmetic for
    // organic rows (parameters AND byte totals) and the fixture's
    // declared classes for every malformed shape
    "q80_compressed_audio" -> Multimodal.qCompressedAudioSql,
    // q81 = SemDeDup-style cluster-then-prune: the oracle replays the
    // count-derived centroid count, seed-centroid argmax assignment,
    // within-cluster exact cosine >= eps, and the smallest-smaller-
    // neighbor prune rule — the full keep/drop partition hash-pinned
    "q81_semantic_dedup" -> Dedup.qSemanticDedupSql,
    // q82 = near-dup-level decontamination (the third decon rung after
    // q48 exact and q78 substring): MinHash/LSH banding cross-set with
    // broadcast probe bands + exact-Jaccard verify at tau; the oracle
    // replays bands, band join, verify, filter, and aggregation
    "q82_neardup_decon" -> Corpus.qNeardupDecontaminateSql,
    // q83 = model-based quality filtering (the trained-classifier rung):
    // the oracle replays the weak labels (exact percentile terciles of
    // q8's score) and the md5 train/holdout split, and pins the model's
    // holdout-agreement and beats-majority booleans TRUE (q35/q59
    // pattern — MLlib coefficients aren't engine-portable)
    "q83_quality_classifier" ->
      graft.operators.QualityModel.qQualityClassifierSql,
    // q84 = Unicode NFC normalization audit: the engine's native
    // whole-stage-codegen UnicodeNormalize (JDK Normalizer) against DuckDB's
    // nfc_normalize (utf8proc) — two independent implementations of the
    // same canonical composition; the md5 pins every normalized byte
    // over a fixture of the classic NFC shapes
    "q84_unicode_normalize" -> TextAnalysis.qUnicodeNormalizeSql,
    // q85 = INCREMENTAL substring dedup: three daily drops chained
    // through the persisted bucketed window log (bootstrap + append +
    // fold commits); the oracle is q76's one-shot SQL over the same
    // union — chained admissions ≡ one-shot, the q62 equality pattern
    "q85_incr_substring" ->
      graft.operators.SubstringDedup.qIncrementalSubstringSql,
    // q86 = quality-conditioned mixture re-weighting: per-source token
    // budgets scaled by the q83 weak-label pass rate (integer
    // arithmetic), filled by q74's hash-order prefix sum — the oracle
    // replays labels -> rates -> budgets -> window fill end to end
    "q86_quality_weighted_mix" -> Corpus.qQualityWeightedMixSql,
    // q87 = the near-dup router's route_recall promoted from bench
    // stamp to correctness gate: engine emits the honest
    // pass = sampled route_recall >= floor on the deterministic
    // stratum at the production grid; the oracle pins TRUE (q35/q44
    // recipe) — a router tier regression flips the row hash red
    "q87_router_recall_gate" -> Dedup.qRouterRecallGateSql,
    // q88 = Count-Min-Sketch heavy hitters with fused exact verify:
    // every hash is the portable md5 family, so the oracle replays the
    // ENTIRE sketch (grid, min-estimates, threshold, candidates, exact
    // counts, bound booleans) — the hash pins the sketch numerics
    "q88_cms_heavy_hitters" ->
      graft.operators.HeavyHitters.qCmsHeavyHittersSql,
    // q89 = NFKC + casefold (q84's production sibling): DuckDB lacks
    // NFKC, so the fixture DECLARES expected folds (q72 pattern) and
    // organic rows derive from lower(nfc_normalize(.)) — exact on this
    // ASCII corpus; the exceptional classes live in the fixture
    "q89_nfkc_casefold" -> TextAnalysis.qNfkcCasefoldSql,
    // q90 = INCREMENTAL CMS: three daily drops chained through the
    // persisted cell-log sketch (bootstrap + append + fold); CMS
    // linearity makes the chained grid equal the one-shot grid cell
    // for cell, so the oracle is q88's SQL verbatim
    "q90_incr_cms" ->
      graft.operators.HeavyHitters.qCmsIncrementalSql,
    // q91 = leakage-safe split: train/val/test assigned per NEAR-DUP
    // CLUSTER (q37's clustering + the md5-nibble rule on cluster_id),
    // so no near-dup pair straddles the eval boundary — oracle replays
    // closure + rule
    "q91_cluster_safe_split" -> Corpus.qClusterSafeSplitSql,
    // q92 = exact dedup on the FOLDED key (q89 feeding q11's rollup):
    // byte-distinct case/width/ligature variants share one md5(fold)
    // key; oracle = declared fixture folds + lower(nfc) organic rows
    "q92_folded_dedup" -> TextAnalysis.qFoldedDedupSql,
    // q93 = PINNED leakage-safe split (q91's incremental sibling):
    // three daily drops chained through the persisted SplitPins store
    // riding the real admission deltas — a doc's split is written once
    // and never moves, merges inherit the OLDEST pin. The oracle
    // replays the pin protocol via the doc-level equivalence (oldest
    // member by (admit_seq, doc_id)) over day-dimensioned closure
    // clusterings — chained ≠ one-shot here BY DESIGN, so the pin
    // table itself is what gets hash-pinned
    "q93_pinned_split" -> graft.operators.SplitPins.qPinnedSplitSql,
    // q94 = the END-TO-END curation ladder as one audit relation: fold
    // dedup → near-dup prune → benchmark decon → quality floor →
    // per-source budget fill → split+shard, each rung consuming the
    // previous rung's survivors; the oracle is the same six-rung
    // composition in CTEs (every fragment a component query's
    // established replay)
    "q94_curate" -> Corpus.qCurateSql,
    // q95 = q86's deployment swap-in, gated: per-source budgets from
    // the TRAINED model's holdout pass rate, proven within a measured
    // margin of the weak-label budgets (mean per-source |delta| — a
    // per-source bound cannot separate an inverted fit, see
    // ModelBudgetMargin); oracle replays the weak side and pins the
    // bound TRUE, spec flips it red with a train-inverted fit
    "q95_model_budget_gate" -> Corpus.qModelBudgetGateSql,
    // q96 = FLAC sample decode (CONSTANT/VERBATIM subframes, the
    // losslessly-decodable classes of the public spec): real two-frame
    // streams with bit-packed subframes and both frame CRCs, decoded
    // by a generic bit-reader walk and reduced to q75's PCM stats; the
    // oracle re-derives every sample from the document text alone.
    // FIXED/LPC prediction stays the named honest gap (spec-pinned)
    "q96_flac_pcm_stats" -> graft.operators.Multimodal.qFlacPcmStatsSql,
  )
}
