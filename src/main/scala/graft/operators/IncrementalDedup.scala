package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Persisted dedup state between daily batches — the production shape of
  * incremental near-duplicate clustering. Everything needed to admit a new
  * batch WITHOUT touching old document text lives in four relations a real
  * deployment would keep as tables next to the corpus:
  *
  *  - `labels`   (doc_id, cluster_id)        — current component labeling
  *  - `sizes`    (cluster_id, cluster_size)  — maintained incrementally
  *  - `bands`    (doc_id, band, band_hash)   — the LSH index, persisted
  *                                             bucketed on (band, band_hash)
  *  - `shingles` (doc_id, sh)                — shingle sets for the exact
  *                                             Jaccard verify stage,
  *                                             persisted bucketed on doc_id
  *
  * When the state comes from a bucketed store ([[graft.streaming.DedupStream
  * .loadState]]), `buckets` carries the layout's bucket count and the
  * `bands`/`shingles` relations carry a `bucket` partition column;
  * [[admitBatch]] then prunes both probes to the buckets the batch can
  * touch ([[prunedBands]]/[[prunedShingles]]) instead of scanning all
  * accumulated state; each probe falls back to a plain full scan when
  * its keys cover every bucket (an all-bucket filter reduces nothing —
  * at deployment batch-to-corpus ratios coverage is always partial).
  * An in-memory state (e.g. [[initialState]]) has `buckets = None` and
  * is probed unpruned.
  *
  * The reference's defining semantic is incremental processing — Glue job
  * bookmarks (`CDK/cdk/cdk_stack.py:165`) and the daily delta fetch
  * (`Additional_Data_Function/get_data_api.py:11-13`) re-process only new
  * arrivals. [[Dedup.duplicateClusters]] is the batch (bootstrap) path;
  * this operator is its daily-delta twin.
  */
final case class DedupState(labels: DataFrame, sizes: DataFrame,
                            bands: DataFrame, shingles: DataFrame,
                            buckets: Option[Int] = None)

/** The frontier-sized outcome of admitting one batch — everything a
  * persisted store needs to commit the admission WITHOUT materializing
  * the full grown state:
  *
  *  - `newAssign` (doc_id, cluster_id) — the batch's label rows
  *  - `remap` (cluster_id, merged)     — contracted-component relabeling
  *    of every touched node (old reps carry identity rows when they keep
  *    their label; rows keyed by new doc ids never match old state)
  *  - `newBands` / `newShingles`       — the batch's append-log rows
  *
  * `remap` and `newAssign` derive from the pinned component fixpoint, so
  * consuming them repeatedly never re-runs the probe; call [[release]]
  * once the commit is durable to drop any checkpoint blocks.
  *
  * `localRemap`/`localAssign` carry the SAME rows as `remap`/`newAssign`
  * when the admission's bounded takes kept the frontier driver-local
  * (the steady small-batch case): a consumer that needs the frontier in
  * hand — e.g. the commit's touched-bucket computation — then pays zero
  * Spark jobs for it. `None` means the frontier exceeded the caps and
  * must be read from the DataFrames. */
final case class AdmitDelta(newAssign: DataFrame, remap: DataFrame,
                            newBands: DataFrame, newShingles: DataFrame,
                            localRemap: Option[Seq[(Long, Long)]] = None,
                            localAssign: Option[Seq[(Long, Long)]] = None) {
  def release(): Unit = IncrementalDedup.freeLocalCheckpoint(remap)
}

/** Incremental duplicate clustering: admit a new day's batch against
  * persisted cluster labels without re-running the fixpoint over the whole
  * corpus.
  *
  * Why this is safe (incremental ≡ batch): the old labeling is exactly a
  * contracted representation of the old near-dup graph — every old doc is
  * connected to its component minimum. Components of
  * (old-label edges ∪ new edges) therefore equal components of
  * (old edges ∪ new edges), i.e. a full recompute over the grown corpus.
  * q51's oracle is that statement: the incremental Spark result is
  * hash-compared against a DuckDB recursive-CTE closure, and equals what
  * [[Dedup.duplicateClusters]] would produce from scratch (asserted in
  * IncrementalDedupSpec).
  *
  * Scale design (100 TB corpus, ~0.1% daily batch):
  *  - the ONLY per-corpus-sized work is (a) the band-index lookup — a join
  *    of the new batch's bands against the stored index, bucketed on
  *    (band, band_hash) so it's a pruned bucket probe, not a scan of old
  *    text (old text is never an input at all — structurally enforced:
  *    `admitBatch` does not take the old corpus); (b) the label remap —
  *    a map-side broadcast join of the frontier-sized remap table against
  *    `labels` (a table of two longs per doc, ~10⁻⁴ of corpus bytes; with
  *    a Delta/Iceberg-style store this becomes a merge-on-write of only
  *    remapped cluster ids).
  *  - the component fixpoint runs on the CONTRACTED frontier graph only:
  *    nodes are new doc ids plus the old cluster representatives the new
  *    edges touch — O(batch), not O(corpus).
  *  - `sizes` is updated without a corpus-sized shuffle: untouched rows
  *    pass through a broadcast anti join (map-side, no exchange); only the
  *    frontier-sized touched set re-aggregates.
  */
object IncrementalDedup {

  /** Bucket of a band-index row — the persisted layout key for `bands`.
    * Any state row joinable with a batch row shares (band, band_hash), so
    * it shares this bucket: filtering the stored index to the batch's
    * buckets before the probe join loses no candidate. */
  def bandBucket(band: Column, bandHash: Column, n: Int): Column =
    pmod(xxhash64(band, bandHash), lit(n.toLong)).cast("int")

  /** Bucket of a shingle-set row — the persisted layout key for
    * `shingles` (verify-stage lookups are by doc_id). */
  def docBucket(docId: Column, n: Int): Column =
    pmod(xxhash64(docId), lit(n.toLong)).cast("int")

  /** Driver-side twin of [[docBucket]] (same XXH64 long hash, seed 42,
    * positive mod): lets a commit path that already holds frontier ids
    * in hand compute their buckets with ZERO extra Spark jobs.
    * Agreement with the column expression is spec-pinned
    * (IncrementalDedupSpec). */
  private[graft] def docBucketLocal(id: Long, n: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L)
    val m = h % n
    (if (m < 0) m + n else m).toInt
  }

  /** Driver-side twin of [[bandBucket]] — evaluates the IDENTICAL
    * Catalyst expression (xxhash64 over (band, band_hash) literals, pmod)
    * on the driver, so a batch whose band rows are already in hand can
    * compute its touched buckets with zero Spark jobs and zero risk of
    * hash divergence. Agreement is spec-pinned (IncrementalDedupSpec)
    * like [[docBucketLocal]]'s. */
  private[graft] def bandBucketLocal(band: Long, bandHash: String, n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = new XxHash64(Seq(Literal(band), Literal(bandHash)))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Long]
    val m = h % n
    (if (m < 0) m + n else m).toInt
  }

  private[graft] def dropBucket(df: DataFrame): DataFrame =
    if (df.columns.contains("bucket")) df.drop("bucket") else df

  /** Materialize a frontier-sized relation before multiple consumers
    * probe it: a bounded take into a LOCAL relation under `cap` rows
    * (zero further jobs to consume, and the rows ride along for
    * driver-side reuse), a `localCheckpoint` above it. Either way the
    * expensive upstream runs once. */
  private def pinFrontierRows(df: DataFrame, spark: SparkSession,
      cap: Int = KeyPushMax): (DataFrame, Option[Array[org.apache.spark.sql.Row]]) = {
    val tk = df.take(cap + 1)
    if (tk.length <= cap)
      (spark.createDataFrame(java.util.Arrays.asList(tk: _*), df.schema),
        Some(tk))
    else (graft.Checkpoints.pin(df), None)
  }

  /** Cluster representatives of the frontier's endpoint ids, formulated
    * so the corpus-sized `labels` relation only ever STREAMS through a
    * map-side broadcast join (build side = the frontier endpoint set) —
    * never a shuffle, never a build side. Plan-pinned in
    * IncrementalDedupSpec.
    *
    * Why no doc_id-bucketed second labels copy (so this read could
    * prune to endpoint buckets): MEASURED at sf1
    * (`bench/LABELSAB_r13_sf1.txt`) the full stream wins outright —
    * 0.069 s vs 0.232 s at a 64-id frontier and 0.076 s vs 0.569 s at
    * the 2048-id cap (256-bucket copy; the pruned read's multi-
    * directory listing costs more than streaming the whole ~16 B/doc
    * relation), and the lookup is ~10% of a small-batch admit's wall.
    * The copy's win region starts where labels outgrow what one
    * streaming pass can absorb (multi-TB corpora) — a deployment at
    * that scale should bucket labels by doc_id and prune here, paying
    * the second index copy's maintenance. */
  private[graft] def repLookup(labels: DataFrame,
      endpoints: DataFrame): DataFrame =
    labels.join(broadcast(endpoints), Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"))

  /** Release the storage behind a [[graft.Checkpoints.pin]]ned
    * DataFrame — block-manager blocks for Local pins, checkpoint files
    * for Reliable ones. Without this a long-running admission stream
    * accumulates per-batch candidate pins until the ContextCleaner
    * happens to GC the RDDs (or forever, for reliable files). */
  private[graft] def freeLocalCheckpoint(df: DataFrame): Unit =
    graft.Checkpoints.free(df)

  /** Cap on the probe-key literals pushed as a data filter into the
    * base scan. Under the cap, the batch's exact key set rides the scan
    * as an IN filter: the base is SORTED by the key within each bucket,
    * so parquet row-group min/max stats (and dictionary filters) skip
    * key-disjoint row groups — pruning WITHIN a bucket, one level below
    * the partition pruning. Over the cap (deployment-sized batches) the
    * plan would bloat and stats stop helping; bucket pruning alone
    * applies. */
  val KeyPushMax = 1024

  /** Cap on pinning the batch's own band ROWS (docs × NumBands of
    * (long, long, 32-char md5) — a few hundred KB at the cap) driver-
    * local. Under it, ONE bounded take yields the probe's touched
    * buckets, its pushable key set, AND the local probe side — fusing
    * what was a distinct-take job plus a recomputed probe; over it, the
    * two-job [[touchedBandProbe]] path applies unchanged. */
  val BandTakeMax = 8 * KeyPushMax

  /** How [[admitBatchDelta]] reads the persisted bands/shingles state.
    * `ProbeAuto` (the default) routes on the state's size: pruning pays
    * fixed per-admission overhead (bounded takes, IN-filtered scans,
    * bucket-pruned multi-file listings) that a plain full scan undercuts
    * while the accumulated state is still small. r13's verify narrowing
    * (the endpoint-restricted, once-materialized shingle side) shrank
    * BOTH modes and collapsed the wall gap at the measured points
    * (bench probe_ab r13, 4-doc admit: sf0.1 auto/pruned/full
    * 0.66/0.80/0.74 s; sf1 1.08/1.04/1.08 s — auto wins-or-ties
    * everywhere), but the byte asymmetry that drives the routing is
    * unchanged: the pruned probe's read is flat in corpus size (0.47 →
    * 0.55 MB across 10×) while the full side grows linearly with the
    * state (0.63 → 0.89 MB at these toy scales, ~state-sized at
    * deployment), so past [[FullScanBytesMax]] pruning is the only
    * shape that survives. The forced modes exist for the bench's A/B
    * and for specs pinning pruned ≡ full row identity. */
  sealed trait ProbeMode
  case object ProbeAuto extends ProbeMode
  case object ProbePruned extends ProbeMode
  case object ProbeFull extends ProbeMode

  /** Routing threshold: below this many state bytes (bands + shingles
    * file footprint, from plan stats — no job), a full scan costs less
    * than the pruning path's fixed overhead (~0.5 s of take/list jobs ≈
    * a few hundred MB of parquet scanned at local NVMe rates). The
    * measured crossover sits between the sf0.1 corpus state (~tens of
    * MB, full wins) and sf0.5 (~hundreds of MB, pruned wins). */
  val FullScanBytesMax: Long = 256L << 20

  /** The state as the probe should see it: bucket metadata stripped
    * (→ full-scan probes) when the state is small enough that pruning's
    * fixed overhead exceeds a scan. Identity on semantics either way —
    * pruned ≡ full is spec-pinned. */
  private def routeProbe(state: DedupState, mode: ProbeMode): DedupState =
    mode match {
      case ProbePruned => state
      case ProbeFull => state.copy(buckets = None)
      case ProbeAuto if state.buckets.isEmpty => state
      case ProbeAuto =>
        val bytes =
          state.bands.queryExecution.optimizedPlan.stats.sizeInBytes +
            state.shingles.queryExecution.optimizedPlan.stats.sizeInBytes
        if (bytes < FullScanBytesMax) state.copy(buckets = None) else state
    }

  /** The batch-side probe keys: the buckets its (band, band_hash) keys
    * hash into (bucket filter only when a STRICT subset — an all-bucket
    * filter reduces nothing) and, under [[KeyPushMax]], the distinct
    * band_hash literals themselves. ONE bounded take computes both. The
    * take is O(batch) work returning at most KeyPushMax+1 rows — the
    * same K-bounded driver-side index material the ANN operators keep;
    * an over-cap batch pays one partial pass and falls back to the
    * bucket-only collect. */
  private def touchedBandProbe(state: DedupState,
      newBands: DataFrame): (Option[Seq[Int]], Option[Seq[String]]) =
    state.buckets match {
      case Some(n) if state.bands.columns.contains("bucket") =>
        val pairs = newBands
          .select(bandBucket(col("band"), col("band_hash"), n).as("bucket"),
            col("band_hash"))
          .distinct().take(KeyPushMax + 1)
        if (pairs.length <= KeyPushMax) {
          val buckets = pairs.map(_.getInt(0)).distinct.toSeq
          val keys = pairs.map(_.getString(1)).distinct.toSeq
          (if (buckets.size < n) Some(buckets) else None, Some(keys))
        } else {
          val touched = newBands
            .select(bandBucket(col("band"), col("band_hash"), n).as("bucket"))
            .distinct().collect().map(_.getInt(0)).toSeq
          (if (touched.size < n) Some(touched) else None, None)
        }
      case _ => (None, None)
    }

  private def bandsFor(state: DedupState,
      probe: (Option[Seq[Int]], Option[Seq[String]])): DataFrame = {
    val bucketed = probe._1 match {
      case Some(t) if t.isEmpty => state.bands.filter(lit(false))
      case Some(t) => state.bands.filter(col("bucket").isin(t: _*))
      case None => state.bands
    }
    (probe._2 match {
      case Some(keys) if state.buckets.isDefined =>
        bucketed.filter(col("band_hash").isin(keys: _*))
      case _ => bucketed
    }).transform(dropBucket)
  }

  /** The band-index probe side: the stored index restricted to the
    * batch's touched buckets (partition-pruned scan) and, for bounded
    * batches, to its exact band_hash key set (row-group-pruned within
    * the bucket via the sorted layout's min/max stats); the full index
    * otherwise. */
  private[graft] def prunedBands(state: DedupState,
      newBands: DataFrame): DataFrame =
    bandsFor(state, touchedBandProbe(state, newBands))

  /** The verify-stage shingle side: when the state is bucketed, restrict
    * the stored shingle sets (the LARGEST state relation — text-sized
    * arrays) to the buckets holding a candidate endpoint — and, under
    * [[KeyPushMax]], to the exact endpoint doc_ids (the base is sorted
    * by doc_id within each bucket, so the IN filter prunes row groups);
    * the full relation when the endpoints cover every bucket over-cap
    * (same cannot-reduce-the-read argument as [[touchedBandProbe]]).
    * `cand` must be materialized (the caller localCheckpoints it) so
    * collecting its endpoints doesn't re-run the band probe. */
  private[graft] def prunedShingles(state: DedupState,
      cand: DataFrame,
      endpoints: Option[Seq[Long]] = None): DataFrame = state.buckets match {
    case Some(n) if state.shingles.columns.contains("bucket") =>
      // endpoints already in hand (the caller collected the candidate
      // set) → buckets computed driver-side, zero extra jobs
      val (touched, ids) = endpoints match {
        case Some(ds) if ds.length <= 2 * KeyPushMax =>
          (ds.map(docBucketLocal(_, n)).distinct, Some(ds))
        case _ =>
          val ends = cand
            .select(explode(array(col("doc_a"), col("doc_b"))).as("d"))
            .distinct()
          val took = ends.select(docBucket(col("d"), n).as("bucket"), col("d"))
            .take(KeyPushMax + 1)
          if (took.length <= KeyPushMax)
            (took.map(_.getInt(0)).distinct.toSeq,
              Some(took.map(_.getLong(1)).toSeq))
          else
            (ends.select(docBucket(col("d"), n).as("bucket"))
              .distinct().collect().map(_.getInt(0)).toSeq, None)
      }
      val bucketed =
        if (touched.isEmpty) state.shingles.filter(lit(false))
        else if (touched.size < n)
          state.shingles.filter(col("bucket").isin(touched: _*))
        else state.shingles
      (ids match {
        case Some(ds) if touched.nonEmpty =>
          bucketed.filter(col("doc_id").isin(ds: _*))
        case _ => bucketed
      }).transform(dropBucket)
    case _ => dropBucket(state.shingles)
  }

  /** Bootstrap: full batch clustering + the persisted index relations.
    * This is the day-0 cost a deployment pays once; every later day pays
    * [[admitBatch]] instead. */
  def initialState(docs: DataFrame, threshold: Double = 0.5): DedupState = {
    val lab = Dedup.duplicateClusters(docs, threshold)
    DedupState(
      labels = lab.select(col("doc_id"), col("cluster_id")),
      sizes = lab.select(col("cluster_id"), col("cluster_size")).distinct(),
      bands = Dedup.lshBands(docs),
      shingles = Dedup.shingleSets(docs))
  }

  /** Admit `newDocs` (the new day's drop) into `state`. Returns the updated
    * state; old document TEXT is never read (it isn't an input). New edges
    * may merge existing clusters — a new doc bridging two old clusters
    * relabels the higher-labeled one via the remap join.
    *
    * PRECONDITION: `newDocs.doc_id` must be NEW ids (disjoint from the
    * ids already in `state.labels`) — a re-delivered id would enter
    * `labels` twice and over-count its cluster's size. This is the
    * delivery-dedup contract the file bookmark upstream provides
    * ([[graft.streaming.DedupStream.admitNewDrops]] processes each drop
    * exactly once); content-duplicate re-fetches under FRESH ids are
    * fine — that is precisely the near-dup case this operator clusters. */
  def admitBatch(state: DedupState, newDocs: DataFrame,
                 threshold: Double = 0.5,
                 probeMode: ProbeMode = ProbeAuto): DedupState =
    applyDelta(state, admitBatchDelta(state, newDocs, threshold, probeMode))

  /** The admission computation itself, returning the frontier-sized
    * [[AdmitDelta]] instead of the reconstructed full state — the input
    * to a touched-partition-only commit
    * ([[graft.streaming.DedupStream.commitDelta]]). */
  def admitBatchDelta(state0: DedupState, newDocs: DataFrame,
                      threshold: Double = 0.5,
                      probeMode: ProbeMode = ProbeAuto): AdmitDelta =
    // static plans with batch-derived shuffle parallelism: every
    // relation here is frontier/batch-sized by construction — AQE
    // re-planning is pure per-exchange job overhead at this size
    // (graft.Par.withStaticPlan's measurement), and the exchanges
    // should be sized to the batch, not the session constant
    // (graft.Par.withAdmitPlan)
    graft.Par.withAdmitPlan(newDocs.sparkSession, newDocs) {
      admitBatchDeltaImpl(state0, newDocs, threshold, probeMode)
    }

  private def admitBatchDeltaImpl(state0: DedupState, newDocs: DataFrame,
                      threshold: Double,
                      probeMode: ProbeMode): AdmitDelta = {
    val state = routeProbe(state0, probeMode)
    val spark = newDocs.sparkSession
    val newBands = Dedup.lshBands(newDocs)
    val newShingles = Dedup.shingleSets(newDocs)
    // the band probe prunes by bucket under strict-subset coverage and
    // by key set under KeyPushMax; the verify path below prunes
    // independently by candidate-endpoint coverage whenever the state is
    // bucketed
    val bucketed =
      state.buckets.isDefined && state.shingles.columns.contains("bucket")
    val bandsBucketed =
      state.buckets.isDefined && state.bands.columns.contains("bucket")
    // Fused probe: under [[BandTakeMax]] one bounded take of the batch's
    // band rows yields the touched buckets (driver-side hash twin), the
    // pushable key set, AND the local probe side — replacing the
    // distinct-take job plus a recomputed probe; over the cap, the
    // two-job touchedBandProbe path applies unchanged.
    val (probe, newBandsPinned) =
      if (!bandsBucketed)
        ((None: Option[Seq[Int]], None: Option[Seq[String]]), newBands)
      else {
        val n = state.buckets.get
        val tk = newBands.take(BandTakeMax + 1)
        if (tk.length <= BandTakeMax) {
          val bandIx = newBands.schema.fieldIndex("band")
          val hashIx = newBands.schema.fieldIndex("band_hash")
          val keys = tk.map(_.getString(hashIx)).distinct.toSeq
          val buckets = tk
            .map(r => bandBucketLocal(r.getLong(bandIx), r.getString(hashIx), n))
            .distinct.toSeq
          ((if (buckets.size < n) Some(buckets) else None,
            if (keys.size <= KeyPushMax) Some(keys) else None),
            spark.createDataFrame(java.util.Arrays.asList(tk: _*),
              newBands.schema))
        } else (touchedBandProbe(state, newBands), newBands)
      }
    val allBands = bandsFor(state, probe).union(newBandsPinned)

    // candidate pairs touching the new batch: probe the band index with
    // the batch's bands. least/greatest canonicalizes the new-new pairs
    // that appear from both sides of the self-overlapping probe.
    val candLazy = newBandsPinned
      .select(col("band"), col("band_hash"), col("doc_id").as("qid"))
      .join(allBands.select(col("band"), col("band_hash"), col("doc_id").as("cid")),
        Seq("band", "band_hash"))
      .filter(col("qid") =!= col("cid"))
      .select(least(col("qid"), col("cid")).as("doc_a"),
        greatest(col("qid"), col("cid")).as("doc_b"))
      .distinct()
    // pin the frontier-sized candidate set before anything consumes it,
    // on EVERY probe route: the band probe runs once (not once per
    // downstream consumer), an empty candidate set short-circuits the
    // verify/contract/fixpoint jobs entirely, and an under-cap frontier
    // lands as a LOCAL relation whose endpoint ids are then in hand —
    // zero further jobs for the shingle pruning (docBucketLocal) and the
    // verify narrowing below. (Variants A vs C of
    // `bench/CHAINPROBE_r12_sf01.txt`: the always-pinned fold layout
    // reads level with the segments-only layout at toy scale and wins at
    // deployment ratios, bench probe_ab.)
    val (cand, candRows) = pinFrontierRows(candLazy, spark)
    // a batch colliding with nothing (no state band hits, no intra-batch
    // pairs) has zero edges by construction — skip the verify/contract/
    // fixpoint jobs entirely and self-assign
    if (candRows.exists(_.isEmpty))
      return selfAssignDelta(spark, newDocs, newBandsPinned, newShingles)
    // candRows is Some only when the take returned ≤ KeyPushMax pairs,
    // so the endpoint set is ≤ 2·KeyPushMax by construction — no size
    // guard needed here
    val endpointIds: Option[Seq[Long]] = candRows
      .map(_.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.toSeq)
    val setsAll =
      (if (bucketed) prunedShingles(state, cand, endpointIds)
       else dropBucket(state.shingles)).union(newShingles)
    // verify narrowing: [[Dedup.verifyJaccard]] joins its shingle side
    // TWICE (doc_a and doc_b), so handing it the raw union would execute
    // the state scan + batch shingle compute two times inside the verify
    // job. With the endpoint ids in hand, restrict the union to exactly
    // the docs the candidate pairs touch (an IN filter that also prunes
    // row groups on the sorted bucketed base) and materialize that
    // frontier-sized relation ONCE as executor-cached blocks — the
    // verify join then probes memory, not files. Size-safe: the rows
    // stay distributed (localCheckpoint, not collect).
    val setsForVerify = endpointIds match {
      case Some(ids) =>
        graft.Checkpoints.pin(setsAll.filter(col("doc_id").isin(ids: _*)))
      case None => setsAll
    }
    val newEdgesLazy = Dedup.verifyJaccard(cand, setsForVerify)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"))
    // pin the verified edges (bounded take → local; checkpoint over the
    // cap): three consumers follow — the endpoint set and both sides of
    // the contraction — and each would re-run the verify join otherwise
    val (newEdges, edgeRows) = pinFrontierRows(newEdgesLazy, spark)
    if (endpointIds.isDefined) freeLocalCheckpoint(setsForVerify)
    freeLocalCheckpoint(cand)

    edgeRows match {
      case Some(er) if er.isEmpty =>
        // candidates existed but none verified — same self-assign
        // short-circuit (the verify job already ran; everything after
        // it is skipped)
        selfAssignDelta(spark, newDocs, newBandsPinned, newShingles)
      case Some(er) =>
        // DRIVER-LOCAL contraction: the verified edge set fits the
        // bounded take, so its endpoint count is ≤ 2·KeyPushMax and the
        // rep lookup's bounded take (cap sized to that bound) ALWAYS
        // lands local. Contraction + component fixpoint then run as
        // plain Scala over rows in hand — zero jobs beyond the one
        // labels read — and the resulting remap/assign rows ride the
        // delta for the commit's zero-job touched-bucket computation.
        // Labels is still only ever STREAMED through the broadcast
        // lookup ([[repLookup]], plan-pinned), exactly as the
        // distributed path below.
        import spark.implicits._
        val endIds = er.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
          .distinct.toSeq
        val (_, repRows) = pinFrontierRows(
          repLookup(state.labels, endIds.toDF("doc_id")),
          spark, cap = 2 * KeyPushMax + 2)
        val repMap = repRows.get.map(r => r.getLong(0) -> r.getLong(1)).toMap
        // contract endpoints through the persisted labels: old docs
        // collapse to their cluster representative, new docs stand for
        // themselves
        val contractedPairs = er.iterator.map { r =>
          val a = repMap.getOrElse(r.getLong(0), r.getLong(0))
          val b = repMap.getOrElse(r.getLong(1), r.getLong(1))
          if (a <= b) (a, b) else (b, a)
        }.filter(p => p._1 != p._2).toSeq.distinct
        val nodes = contractedPairs.flatMap(p => Seq(p._1, p._2)).distinct
        // min-over-contracted-nodes equals min-over-all-members (every
        // old rep is the MIN doc_id of its members), so these labels
        // match a full recompute — same argument as the distributed path
        val compPairs = Components.unionFindLocal(nodes, contractedPairs)
        val compMap = compPairs.toMap
        val remap = compPairs.toDF("cluster_id", "merged")
        val idTk = newDocs.select(col("doc_id")).take(KeyPushMax + 1)
        val (newAssign, localAssign) =
          if (idTk.length <= KeyPushMax) {
            val pairs = idTk.map { r =>
              val id = r.getLong(0); (id, compMap.getOrElse(id, id))
            }.toSeq
            (pairs.toDF("doc_id", "cluster_id"), Some(pairs))
          } else
            (newDocs.select(col("doc_id"))
              .join(broadcast(compPairs.toDF("doc_id", "component")),
                Seq("doc_id"), "left")
              .select(col("doc_id"),
                coalesce(col("component"), col("doc_id")).as("cluster_id")),
              None)
        AdmitDelta(newAssign, remap, newBandsPinned, newShingles,
          localRemap = Some(compPairs), localAssign = localAssign)
      case None =>
        // over-cap frontier: the distributed contraction + fixpoint
        val endpoints = newEdges.select(col("doc_a").as("doc_id"))
          .union(newEdges.select(col("doc_b").as("doc_id"))).distinct()
        // Direction matters at 100 TB: a frontier-LEFT-JOIN-labels would
        // shuffle the corpus-sized labels relation on doc_id every
        // admission (left-outer can only broadcast its build/right
        // side). Instead the lookup streams labels through a map-side
        // broadcast join against the frontier endpoint set
        // ([[repLookup]], plan-pinned in IncrementalDedupSpec), and the
        // frontier-sized result is pinned and joined back locally —
        // labels is READ once per admission, never shuffled.
        val (reps, _) = pinFrontierRows(repLookup(state.labels, endpoints),
          spark)
        val contracted = newEdges
          .join(reps.select(col("doc_id").as("doc_a"),
            col("cluster_id").as("rep_a")), Seq("doc_a"), "left")
          .join(reps.select(col("doc_id").as("doc_b"),
            col("cluster_id").as("rep_b")), Seq("doc_b"), "left")
          .select(coalesce(col("rep_a"), col("doc_a")).as("a"),
            coalesce(col("rep_b"), col("doc_b")).as("b"))
          .filter(col("a") =!= col("b"))
          .distinct()

        // the fixpoint — on the contracted frontier graph only. Its
        // nodes are new doc ids and touched old cluster reps; since
        // every old rep is the MIN doc_id of its members,
        // min-over-contracted-nodes equals min-over-all-members, so
        // component labels match a full recompute. Pinned because the
        // fixpoint probes its input more than once.
        val (contractedPinned, _) = pinFrontierRows(contracted, spark)
        // connectedComponents returns its labels ALREADY eagerly pinned
        // (it frees its own round pins against that result) — a second
        // pin here would orphan the inner one
        val comp = Components.connectedComponents(contractedPinned)
        // comp is eager — release every upstream pin (no-ops when local)
        Seq(contractedPinned, reps, newEdges).foreach(freeLocalCheckpoint)

        val newIds = newDocs.select(col("doc_id"))
        val newAssign = newIds
          .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("cluster_id"))

        // remap: old cluster rep -> merged component label. comp rows
        // whose node is a new doc id never match an old cluster_id, so
        // no filter is needed.
        val remap = comp.select(col("node").as("cluster_id"),
          col("component").as("merged"))
        AdmitDelta(newAssign, remap, newBandsPinned, newShingles)
    }
  }

  /** The no-edges admission outcome: every new doc keeps its own id as
    * its cluster label, old state is untouched (empty remap). One
    * bounded take over the batch ids; an over-cap batch self-assigns
    * lazily. */
  private def selfAssignDelta(spark: SparkSession, newDocs: DataFrame,
      newBands: DataFrame, newShingles: DataFrame): AdmitDelta = {
    import spark.implicits._
    val emptyRemap = Seq.empty[(Long, Long)].toDF("cluster_id", "merged")
    val idTk = newDocs.select(col("doc_id")).take(KeyPushMax + 1)
    val (newAssign, localAssign) =
      if (idTk.length <= KeyPushMax) {
        val pairs = idTk.map { r => val id = r.getLong(0); (id, id) }.toSeq
        (pairs.toDF("doc_id", "cluster_id"), Some(pairs))
      } else
        (newDocs.select(col("doc_id"), col("doc_id").as("cluster_id")), None)
    AdmitDelta(newAssign, emptyRemap, newBands, newShingles,
      localRemap = Some(Nil), localAssign = localAssign)
  }

  /** Reconstruct the FULL grown state from a delta — the in-memory
    * chaining path (q51). Callers on the persisted path never execute
    * these relations; they commit the delta's touched partitions instead
    * ([[graft.streaming.DedupStream.commitDelta]]). `broadcast(remap)`
    * both because it's frontier-sized and to pin the no-shuffle plan
    * over `labels` regardless of stats. */
  def applyDelta(state: DedupState, d: AdmitDelta): DedupState = {
    val oldRelabeled = state.labels.join(broadcast(d.remap), Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("merged"), col("cluster_id")).as("cluster_id"))

    // sizes: untouched clusters pass through map-side (broadcast anti);
    // only remapped clusters + new-batch counts hit a (tiny) shuffle.
    val newCounts = d.newAssign.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("delta"))
    val untouched = state.sizes
      .join(broadcast(d.remap.select(col("cluster_id"))), Seq("cluster_id"), "left_anti")
    val touched = state.sizes.join(broadcast(d.remap), Seq("cluster_id"))
      .select(col("merged").as("cluster_id"), col("cluster_size").as("delta"))
      .union(newCounts)
      .groupBy(col("cluster_id"))
      .agg(sum(col("delta")).as("cluster_size"))

    DedupState(
      labels = oldRelabeled.union(d.newAssign),
      sizes = untouched.union(touched),
      bands = dropBucket(state.bands).union(d.newBands),
      shingles = dropBucket(state.shingles).union(d.newShingles))
  }

  /** (doc_id, cluster_id, cluster_size) — the [[Dedup.duplicateClusters]]
    * output shape, from a state. */
  def labelsWithSizes(state: DedupState): DataFrame =
    state.labels.join(state.sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))

  // ---- SparkEntry wiring -------------------------------------------------

  /** q51: day-1 corpus = doc_id % 5 != 0, day-2 drop = doc_id % 5 == 0.
    * The modulo split scatters duplicate groups across both days, so the
    * batch exercises every incremental case: new docs joining old
    * clusters, new-new pairs, a new doc BRIDGING two old clusters (merge),
    * and new docs whose id becomes the merged cluster's minimum label. */
  def qIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val oldDocs = docs.filter(col("doc_id") % 5 =!= 0)
    val newBatch = docs.filter(col("doc_id") % 5 === 0)
    labelsWithSizes(admitBatch(initialState(oldDocs), newBatch))
      .orderBy("doc_id")
  }

  /** Oracle mirrors the incremental semantics literally: cluster the day-1
    * subset with a recursive closure, then close over
    * (old labels ∪ edges touching the day-2 batch) — and because the old
    * labeling contracts the old graph exactly, this equals a full-corpus
    * recompute. `jac` (candidate+verify chain) is [[Dedup.jaccardCtesSql]],
    * shared with q14/q37; per-pair band collisions are subset-invariant, so
    * filtering full-corpus `jac` by day is identical to banding each day's
    * subset separately. */
  val qIncrementalSql: String =
    s"""WITH RECURSIVE ${Dedup.jaccardCtesSql},
       |old_edges AS (
       |  SELECT doc_a, doc_b FROM jac
       |  WHERE jaccard >= 0.5 AND doc_a % 5 <> 0 AND doc_b % 5 <> 0),
       |new_edges AS (
       |  SELECT doc_a, doc_b FROM jac
       |  WHERE jaccard >= 0.5 AND (doc_a % 5 = 0 OR doc_b % 5 = 0)),
       |old_sym AS (SELECT doc_a AS a, doc_b AS b FROM old_edges
       |            UNION SELECT doc_b, doc_a FROM old_edges),
       |old_reach(node, root) AS (
       |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 5 <> 0
       |  UNION
       |  SELECT s.b, r.root FROM old_reach r JOIN old_sym s ON s.a = r.node),
       |old_lab AS (SELECT node AS doc_id, MIN(root) AS cluster_id
       |            FROM old_reach GROUP BY node),
       |inc_edges AS (
       |  SELECT doc_id AS a, cluster_id AS b FROM old_lab
       |  UNION SELECT doc_a, doc_b FROM new_edges),
       |inc_sym AS (SELECT a, b FROM inc_edges UNION SELECT b, a FROM inc_edges),
       |inc_reach(node, root) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT s.b, r.root FROM inc_reach r JOIN inc_sym s ON s.a = r.node),
       |lab AS (SELECT node AS doc_id, MIN(root) AS cluster_id
       |        FROM inc_reach GROUP BY node),
       |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
       |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
       |FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin
}
